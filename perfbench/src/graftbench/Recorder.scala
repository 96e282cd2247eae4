package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are epoch milliseconds
  * with sub-millisecond precision; `parent` is another span's id or -1.
  */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    startMs: Double, endMs: Double, runId: String)

/** In-memory measurement store for one run, written once at the end.
  *
  * Always on: the streaming progress collector (end-to-end latency and
  * drain time are computed from trigger progress). Traced runs only:
  * spans, the Spark job/stage/task listener and the query-execution
  * listener; the time spent inside those callbacks and in span bookkeeping
  * is accumulated as callback time (only part of the tracing overhead: the
  * listener bus and Spark's own event posting are not in it).
  */
final class Recorder(val traced: Boolean, val runId: String) {
  private val spanIds = new AtomicInteger(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val callbackNs = new AtomicLong(0L)

  def callbackS: Double = callbackNs.get / 1e9

  private def charged[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  /** Record a span around `f` (traced runs only; untraced runs just run f). */
  def span[T](name: String, layer: String, parent: Int = -1)(f: Int => T): T =
    if (!traced) f(-1)
    else {
      val id = spanIds.incrementAndGet()
      val t0 = Clock.ms()
      try f(id)
      finally charged(spans.add(
        Span(id, name, layer, parent, t0, Clock.ms(), runId)))
    }

  // ------------------------------------------------------- streaming

  /** Trigger progress of every streaming query, in arrival order. */
  final case class Progress(runId: String, batchId: Long, startMs: Double,
      durations: Map[String, Long], numInputRows: Long,
      startToken: String, endToken: String) {
    def endMs: Double = startMs + durations.getOrElse("triggerExecution", 0L)
  }
  val progress = new ConcurrentLinkedQueue[Progress]()

  private def tokenOf(offsetJson: String): String =
    Option(offsetJson).map { j =>
      val m = """"token":"([^"]*)"""".r
      m.findFirstMatchIn(j).map(_.group(1)).getOrElse("")
    }.getOrElse("")

  val progressListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val src = p.sources.headOption
      progress.add(Progress(p.runId.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, src.map(s => tokenOf(s.startOffset)).getOrElse(""),
        src.map(s => tokenOf(s.endOffset)).getOrElse("")))
    }
  }

  /** Block until some trigger of the query run `runId` has committed an
    * end offset at or past `token`; returns that trigger's progress.
    */
  def awaitCovered(runId: String, token: String, timeoutS: Double): Progress = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (System.nanoTime() < deadline) {
      val hit = progress.asScala.find(p => p.runId == runId &&
        p.endToken.nonEmpty && p.endToken >= token)
      if (hit.nonEmpty) return hit.get
      Thread.sleep(5)
    }
    throw new IllegalStateException(
      s"run $runId: no trigger committed token $token within ${timeoutS}s")
  }

  // ------------------------------------------------------- spark layers

  final case class JobRec(jobId: Int, group: String, batchId: String,
      startMs: Double, stageIds: Seq[Int], var endMs: Double = -1)
  final class StageRec(val stageId: Int) {
    @volatile var runMs: Long = 0L
    @volatile var tasks: Int = 0
    val durations = new java.util.ArrayList[java.lang.Long]()
    @volatile var shuffleWrite: Long = 0L
    @volatile var spill: Long = 0L
    @volatile var gcMs: Long = 0L
  }
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = charged {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        .getOrElse("")
      val ids = e.stageInfos.map(_.stageId)
      jobs.put(e.jobId, JobRec(e.jobId, prop("spark.jobGroup.id"),
        prop("streaming.sql.batchId"), e.time.toDouble, ids))
      e.stageInfos.foreach(s =>
        stages.putIfAbsent(s.stageId, new StageRec(s.stageId)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = charged {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = charged {
      val s = stages.computeIfAbsent(e.stageId, id => new StageRec(id))
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        s.durations.add(e.taskInfo.duration)
        if (m != null) {
          s.runMs += m.executorRunTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.diskBytesSpilled
          s.gcMs += m.jvmGCTime
        }
      }
    }
  }

  /** Planning time (QueryExecution.tracker phases) per bench phase. The
    * listener runs on Spark's listener bus thread, so the caller's job
    * group is not visible there; the bench sets `phase` instead and
    * settles the bus before switching it.
    */
  @volatile var phase: String = "setup"
  val planMs = new ConcurrentHashMap[String, AtomicLong]()

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    private def note(qe: QueryExecution): Unit = charged {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      planMs.computeIfAbsent(phase, _ => new AtomicLong(0L)).addAndGet(ms)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      note(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = note(qe)
  }

  def attach(spark: SparkSession): Unit = {
    spark.streams.addListener(progressListener)
    if (traced) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
    }
  }

  /** Wait until every started job has ended on the listener bus. */
  def settle(timeoutS: Double = 10.0): Unit = if (traced) {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (System.nanoTime() < deadline &&
      jobs.values.asScala.exists(_.endMs < 0)) Thread.sleep(10)
    Thread.sleep(250)
  }

  // ------------------------------------------------------- export

  def spansJson: Seq[Map[String, Any]] = spans.asScala.toSeq.sortBy(_.id)
    .map(s => Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
      "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "run_id" -> s.runId))

  def progressJson: Seq[Map[String, Any]] = progress.asScala.toSeq
    .map(p => Map("run_id" -> p.runId, "batch_id" -> p.batchId,
      "start_ms" -> p.startMs, "end_ms" -> p.endMs,
      "durations_ms" -> p.durations, "rows" -> p.numInputRows,
      "start_token" -> p.startToken, "end_token" -> p.endToken))

  def jobsJson: Seq[Map[String, Any]] = jobs.values.asScala.toSeq
    .sortBy(_.jobId).map { j =>
      Map("job_id" -> j.jobId, "group" -> j.group, "batch_id" -> j.batchId,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "stages" -> j.stageIds.flatMap(id => Option(stages.get(id))).map {
          s => s.synchronized {
            val d = s.durations.asScala.map(_.longValue).toSeq
            Map("stage_id" -> s.stageId, "tasks" -> s.tasks,
              "run_ms" -> s.runMs, "task_ms" -> d,
              "shuffle_write_b" -> s.shuffleWrite, "spill_b" -> s.spill,
              "gc_ms" -> s.gcMs)
          }
        })
    }
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
