package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark JVM entry point: `Main <config.json>`.
  *
  * One JVM per run (started fresh by perfbench/run.py). Runs one workload
  * against the program's public API, records raw timings, progress and
  * (traced runs) spans and Spark layer counters, and writes them as one
  * JSON file at the end. Metrics and correctness are derived from that
  * file by perfbench/metrics.py.
  */
object Main {
  type Out = mutable.LinkedHashMap[String, Any]

  def main(args: Array[String]): Unit = {
    val cfg = new ObjectMapper().readTree(new File(args(0)))
    val traced = cfg.path("trace").asBoolean(false)
    val rec = new Recorder(traced,
      s"${cfg.path("workload").asText}-${cfg.path("seed").asLong}")
    val out: Out = mutable.LinkedHashMap()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = Env.session(cfg.path("cpus").asInt, cfg.path("work").asText)
    val ready = Clock.ms()
    rec.attach(spark)
    out("session_s") = (ready - jvmStartMs) / 1e3
    out("provenance") = Env.provenance(spark)
    out("cpu_ref_start_s") = Env.cpuRef()
    var status = 0
    try cfg.path("workload").asText match {
      case "cdc_resume" => CdcResume.run(spark, cfg, rec, out)
      case "batch_curation" => BatchCuration.run(spark, cfg, rec, out)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        out("error") = e.toString
        status = 3
    }
    out("cpu_ref_end_s") = Env.cpuRef()
    out("peak_rss_mb") = Env.peakRssMb()
    out("trace_callback_s") = rec.callbackS
    out("spans") = rec.spansJson
    out("progress") = rec.progressJson
    out("jobs") = rec.jobsJson
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val tmp = Paths.get(cfg.path("raw").asText + ".tmp")
    mapper.writeValue(tmp.toFile, out)
    Files.move(tmp, Paths.get(cfg.path("raw").asText),
      StandardCopyOption.ATOMIC_MOVE)
    SparkSession.getActiveSession.foreach(_.stop())
    System.exit(status)
  }
}

/** Session, process counters and run provenance. */
object Env {
  /** The session every graft main builds (Bench/Verify settings), at the
    * given core count, with Spark's scratch space inside the run dir.
    */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def provenance(spark: SparkSession): Map[String, Any] = Map(
    "master" -> spark.sparkContext.master,
    "default_parallelism" -> spark.sparkContext.defaultParallelism,
    "available_processors" -> Runtime.getRuntime.availableProcessors(),
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"),
    "java_vm" -> System.getProperty("java.vm.name"),
    "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20))

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(-1.0)
    catch { case _: Throwable => -1.0 }

  /** Fixed single-thread CPU reference (xorshift64, 100M steps), so a
    * result says how fast the machine was while it ran.
    */
  def cpuRef(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 100000000) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      i += 1
    }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** Hard-link every file of `src` (optionally only `names`) into `dst`:
    * the same bytes under a new path, so path-keyed process caches
    * (the source's footer-stat cache, Spark's file index) start cold.
    */
  def linkAll(src: String, dst: String,
      names: Option[Seq[String]] = None): Unit = {
    val d = Paths.get(dst)
    Files.createDirectories(d)
    val files = names.map(_.map(n => Paths.get(src, n)))
      .getOrElse(Files.list(Paths.get(src)).iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith(".")).toSeq)
    files.foreach(f => Files.createLink(d.resolve(f.getFileName), f))
  }

  def strings(n: JsonNode): Seq[String] =
    n.elements().asScala.map(_.asText).toSeq

  /** Rows and bit_xor of xxhash64 over every column — Bench.consumeAll's
    * hash_all consumption shape, keeping the xor as the output digest.
    */
  def digest(df: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.functions.{col, count, expr, lit, xxhash64}
    import org.apache.spark.sql.types.{MapType, VariantType}
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: MapType | _: VariantType => col(f.name).cast("string")
        case _ => col(f.name)
      }
    }
    if (cols.isEmpty) (df.count(), 0L)
    else {
      val r = df.select(xxhash64(cols.toIndexedSeq: _*).as("__h"))
        .agg(count(lit(1)).as("n"), expr("bit_xor(__h)")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
  }
}

/** `RecordDigests <verify-out-dir> <name>...`: the (rows, xor) digest of
  * each query output graft.Verify wrote, as one JSON object on stdout.
  * perfbench/record_digests.py stores it once tools/check.py has verified
  * the same outputs against the DuckDB oracle.
  */
object RecordDigests {
  def main(args: Array[String]): Unit = {
    val spark = Env.session(Runtime.getRuntime.availableProcessors(),
      sys.props("java.io.tmpdir"))
    val digests = args.tail.map { n =>
      val (rows, x) = Env.digest(spark.read.parquet(s"${args(0)}/$n"))
      n -> Map("rows" -> rows, "xor" -> x.toString)
    }.toMap
    println(new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsString(digests))
    spark.stop()
  }
}
