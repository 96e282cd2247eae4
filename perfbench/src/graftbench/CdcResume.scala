package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{avg, col, length}

import graft.config.CollectionConfig
import graft.model.Model
import graft.operators.CdcPipeline
import graft.sources.ChangeStreamFiles
import graft.streaming.{Connector, Observability, StreamingCdc}

/** cdc_resume: the connector comes back after an outage, drains its
  * backlog, then keeps up with new changes — the production
  * `Connector.toStreamConfig` shape (changestream source, foreachBatch
  * publish, default trigger).
  *
  *  1. setup, repeated on separate data roots: provision and publish the
  *     short first segment, stop (setup_s takes the median);
  *  2. warm-up on another data root: drain the first backlog files once;
  *     then the seeded backlog (written before the JVM started) is moved
  *     into the watched directory while the connector is down;
  *  3. timed, closed loop: restart on the same checkpoint, drain;
  *  4. timed, open loop: a separate generator process writes a file every
  *     1/cadence s at `rate` ev/s for `seconds` s; wait until the last
  *     token is committed;
  *  5. export the msgId-deduplicated published set for the correctness
  *     gate; traced runs add the layer probes and the 1-core drain.
  */
object CdcResume {
  private val coll = CollectionConfig("bench", "events",
    changeStreamPreAndPostImages = true)

  def run(spark: SparkSession, cfg: JsonNode, rec: Recorder,
      out: Main.Out): Unit = {
    val work = cfg.path("work").asText
    val maxRows = cfg.path("max_rows_per_trigger").asLong
    def streamCfg(root: String) = Connector.toStreamConfig(root, coll)
      .copy(maxRowsPerTrigger = Some(maxRows))
    val roots = (0 until cfg.path("setup_reps").asInt)
      .map(k => s"$work/cdc/root$k")
    val inputs = roots.map(r => streamCfg(r).inputDir)
    val firstLast = cfg.path("first_last_token").asText
    val backlogLast = cfg.path("backlog_last_token").asText
    val tailLast = cfg.path("tail_last_token").asText
    val backlogFiles = Env.strings(cfg.path("backlog_files"))
    val metrics = Observability.attach(spark)

    // -- setup: the first segment, published once per data root
    inputs.tail.foreach(d => Env.linkAll(inputs.head, d))
    out("provision_s") = roots.map { r =>
      val c = streamCfg(r)
      rec.span("provision", "streaming") { _ =>
        val t0 = Clock.ms()
        val q = StreamingCdc.start(spark, c)
        rec.awaitCovered(q.runId.toString, firstLast, 120)
        q.stop()
        (Clock.ms() - t0) / 1e3
      }
    }

    // -- warm-up, untimed: drain the first backlog files once on a separate
    // data root, so the timed drain does not start JIT-cold
    val stage = cfg.path("backlog_dir").asText
    val w0 = Clock.ms()
    val warm = streamCfg(s"$work/cdc/warm")
    Env.linkAll(stage, warm.inputDir,
      Some(backlogFiles.take(cfg.path("warm_files").asInt)))
    rec.span("warmup", "bench") { _ =>
      val q = StreamingCdc.start(spark, warm)
      rec.awaitCovered(q.runId.toString, cfg.path("warm_last_token").asText,
        120)
      q.stop()
    }
    out("warmup_s") = (Clock.ms() - w0) / 1e3

    // -- outage: the backlog lands while the connector is down
    backlogFiles.foreach(f => Files.move(Paths.get(stage, f),
      Paths.get(inputs.head, f)))
    val main = streamCfg(roots.head)
    out("prom_before") = metrics.renderPrometheus()
    out("messages_dir") = main.messagesDir

    // -- timed: restart + drain, then the open-loop tail
    val cpu0 = Env.cpuNs()
    val gc0 = Env.gcMs()
    val restart = Clock.ms()
    out("restart_ms") = restart
    val q = StreamingCdc.start(spark, main)
    out("run_id") = q.runId.toString
    val drained = rec.awaitCovered(q.runId.toString, backlogLast, 300)
    out("drain_end_ms") = drained.endMs
    out("prom_drain") = metrics.renderPrometheus()
    out("files_before_tail") = parquetFiles(main.messagesDir)

    out("tail_start_ms") = Clock.ms()
    val gen = new ProcessBuilder(Env.strings(cfg.path("tail_cmd")).asJava)
      .redirectErrorStream(true)
      .redirectOutput(new java.io.File(s"$work/tail-generator.log"))
      .start()
    val seconds = cfg.path("seconds").asDouble
    if (!gen.waitFor((seconds + 60).toLong, TimeUnit.SECONDS)) {
      gen.destroyForcibly().waitFor()
      throw new IllegalStateException("tail generator did not finish")
    }
    if (gen.exitValue != 0)
      throw new IllegalStateException(s"tail generator exit ${gen.exitValue}")
    out("tail_gen_end_ms") = Clock.ms()
    val caught = rec.awaitCovered(q.runId.toString, tailLast, 60)
    out("tail_caught_ms") = caught.endMs
    out("cpu_s") = (Env.cpuNs() - cpu0) / 1e9
    out("gc_s") = (Env.gcMs() - gc0) / 1e3
    out("prom_end") = metrics.renderPrometheus()
    out("files_after_tail") = parquetFiles(main.messagesDir)
    q.stop()

    // -- correctness export: the consumer's msgId-deduplicated view
    val published = s"$work/cdc/published"
    CdcPipeline.dedupByMsgId(spark.read.parquet(main.messagesDir)
        .select("subject", "msgId", "data"))
      .select("msgId", "subject").coalesce(1)
      .write.parquet(published)
    out("published_dir") = published

    if (rec.traced) probes(spark, cfg, rec, out, inputs.head, backlogFiles)
    if (rec.traced && roots.size > 1)
      drainOneCore(cfg, rec, out, inputs.head, backlogFiles,
        streamCfg(roots(1)), backlogLast)
  }

  private def parquetFiles(dir: String): Int =
    Files.list(Paths.get(dir)).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))

  /** Layer probes, each on its own hard-linked copy of the input so no
    * path-keyed cache serves it.
    */
  private def probes(spark: SparkSession, cfg: JsonNode, rec: Recorder,
      out: Main.Out, input: String, backlogFiles: Seq[String]): Unit = {
    val work = cfg.path("work").asText
    val tailMan = new ObjectMapper().readTree(
      new java.io.File(cfg.path("tail_manifest").asText))
    val tailFiles = tailMan.path("files").elements().asScala
      .map(_.path("file").asText).toSeq
    def copy(name: String, files: Seq[String]): String = {
      val d = s"$work/cdc/probe_$name"
      Env.linkAll(input, d, Some(files))
      d
    }
    def timed[T](name: String, layer: String)(f: => T): (T, Double) =
      rec.span(name, layer) { _ =>
        val t0 = Clock.ms()
        val r = f
        (r, (Clock.ms() - t0) / 1e3)
      }
    val source = classOf[graft.sources.ChangeStreamSource].getName
    def read(dir: String) = spark.read.format(source).load(dir)
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val tailDir = copy("tail", tailFiles)
    val (ranges, listS) = timed("list_ranges", "sources")(
      ChangeStreamFiles.listRanges(tailDir, new Configuration()))
    out("probe_list_ranges_ms") = listS * 1e3
    out("probe_list_ranges_files") = ranges.size

    val (_, readS) = timed("read_backlog", "sources")(
      noop(read(copy("read", backlogFiles))))
    val readDir = copy("admit", backlogFiles)
    val all = read(readDir).count()
    val admitted = spark.read.format(source)
      .option("ops", Model.PublishableOps.mkString(",")).load(readDir).count()
    out("probe_backlog_rows") = all
    out("probe_read_s") = readS
    out("probe_admitted_rows") = admitted

    val (_, msgS) = timed("to_messages", "operators")(noop(
      CdcPipeline.toMessages(spark, "EVENTS")(
        read(copy("msgs", backlogFiles))).toDF()))
    out("probe_to_messages_s") = msgS

    val jsonIn = read(copy("json", backlogFiles))
    val (_, jsonS) = timed("extjson", "functions")(
      noop(CdcPipeline.withPayload(jsonIn).select("data")))
    out("probe_extjson_s") = jsonS
    out("probe_payload_bytes") = CdcPipeline.withPayload(
      read(copy("bytes", backlogFiles)))
      .agg(avg(length(col("data")))).head().getDouble(0)
  }

  /** The stream-processing single-thread baseline: the same restart +
    * drain on a second data root (already past its first segment) under
    * local[1].
    */
  private def drainOneCore(cfg: JsonNode, rec: Recorder, out: Main.Out,
      input: String, backlogFiles: Seq[String],
      c: StreamingCdc.StreamConfig, backlogLast: String): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    val one = Env.session(1, cfg.path("work").asText)
    one.streams.addListener(rec.progressListener)
    Env.linkAll(input, c.inputDir, Some(backlogFiles))
    rec.span("drain_1core", "streaming") { _ =>
      val t0 = Clock.ms()
      val q = StreamingCdc.start(one, c)
      val p = rec.awaitCovered(q.runId.toString, backlogLast, 300)
      q.stop()
      out("drain_1core_s") = (p.endMs - t0) / 1e3
    }
  }
}
