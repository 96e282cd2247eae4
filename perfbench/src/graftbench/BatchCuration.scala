package graftbench

import scala.util.Random

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.queries.Tables

/** batch_curation: the training-data queries once each, one at a time, in
  * seeded order, hash_all consumption.
  *
  *  - warm-up: the same queries over a hard-linked copy of the corpus at
  *    another path (JIT, codegen and class loading land there; the
  *    path-keyed caches, e.g. the BPE merge table, never serve the timed
  *    pass). A 400-document sample left more of the warm-up to the timed
  *    pass;
  *  - provisioning: table resolution on hard-linked copies of the corpus,
  *    repeated, for setup_s;
  *  - timed pass over the fixed corpus; each query's digest is compared
  *    with the recorded one afterwards (metrics.py).
  */
object BatchCuration {
  def run(spark: SparkSession, cfg: JsonNode, rec: Recorder,
      out: Main.Out): Unit = {
    val work = cfg.path("work").asText
    val corpus = cfg.path("corpus_dir").asText
    val names = Env.strings(cfg.path("queries"))
    val order = new Random(cfg.path("seed").asLong).shuffle(names)
    val sc = spark.sparkContext
    out("order") = order

    // warm-up queries run concurrently, one per core: only JIT, codegen
    // and class loading are wanted from it, and its outputs are unused
    val w0 = Clock.ms()
    rec.phase = "warmup"
    val warmDir = cfg.path("warm_dir").asText
    Env.linkAll(corpus, warmDir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, sc.defaultParallelism))
    val warm = rec.span("warmup", "bench") { _ =>
      order.map { n =>
        pool.submit(new java.util.concurrent.Callable[Option[String]] {
          def call(): Option[String] = {
            sc.setJobGroup("warmup", "warmup")
            try { Env.digest(SparkEntry.queries(n)(spark, warmDir)); None }
            catch { case e: Throwable => Some(s"$n: ${e.toString.take(200)}") }
          }
        })
      }.flatMap(_.get())
    }
    pool.shutdown()
    out("warmup_errors") = warm
    rec.settle()
    out("warmup_s") = (Clock.ms() - w0) / 1e3

    rec.phase = "setup"
    out("provision_s") = (0 until cfg.path("setup_reps").asInt).map { k =>
      val dir = s"$work/prov$k"
      Env.linkAll(corpus, dir)
      rec.span("provision", "bench") { _ =>
        val t0 = Clock.ms()
        Seq("documents", "embeddings").foreach(t =>
          Tables.load(spark, dir, t).schema)
        (Clock.ms() - t0) / 1e3
      }
    }
    rec.settle()

    rec.phase = "timed"
    val cpu0 = Env.cpuNs()
    val gc0 = Env.gcMs()
    val pass0 = Clock.ms()
    val results = rec.span("pass", "bench") { passId =>
      order.map { n =>
        sc.setJobGroup(n, n)
        val t0 = Clock.ms()
        val r = rec.span(n, "queries", passId) { _ =>
          try Right(Env.digest(SparkEntry.queries(n)(spark, corpus)))
          catch { case e: Throwable => Left(e.toString.take(300)) }
        }
        val t1 = Clock.ms()
        Map[String, Any]("name" -> n, "start_ms" -> t0, "end_ms" -> t1,
          "s" -> (t1 - t0) / 1e3) ++ (r match {
          case Right((rows, x)) => Map("rows" -> rows, "digest" -> x.toString)
          case Left(err) => Map("error" -> err)
        })
      }
    }
    val pass1 = Clock.ms()
    out("cpu_s") = (Env.cpuNs() - cpu0) / 1e9
    out("gc_s") = (Env.gcMs() - gc0) / 1e3
    sc.clearJobGroup()
    rec.settle()
    rec.phase = "post"
    out("pass_start_ms") = pass0
    out("pass_end_ms") = pass1
    out("queries") = results
    out("plan_ms") = Option(rec.planMs.get("timed")).map(_.get).getOrElse(0L)
    out("cores") = sc.defaultParallelism
  }
}
