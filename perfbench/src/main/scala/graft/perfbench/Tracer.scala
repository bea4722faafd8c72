package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A traced interval; `parent` 0 is the root. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Long, var end: Long = -1L)

/** One SQL execution as the listener bus reported it. */
final case class SqlExec(id: Long, startMs: Long, var endMs: Long, plan: String)

/** Spans and per-layer counters, recorded from outside the engine.
  *
  * Spans nest run → workload → operation → phase → Spark job → stage. The
  * benchmark opens the first four around its calls into the engine and
  * publishes the innermost open span as the `perfbench.span` local property,
  * so every job Spark starts from that thread (or from a stream thread it
  * spawns, which inherits local properties) names its parent span.
  *
  * With `traced = false` only the job count and the SQL-execution
  * boundaries are kept (the ingest workload times its manifest stages from
  * them); every other callback returns at once. Pipeline jobs attach to the
  * `PipelineRunner.run` operation span; its stage phases are recorded after
  * the run from the SQL-execution times.
  */
final class Tracer(spark: SparkSession, val traced: Boolean)
    extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)

  private val spans = new ConcurrentHashMap[Long, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stack = mutable.Stack[Long]()

  val sqlExecs = new ConcurrentHashMap[Long, SqlExec]()

  // per-layer counters (milliseconds and bytes unless named otherwise)
  private val c = new ConcurrentHashMap[String, LongAdder]()
  def add(k: String, v: Long): Unit = c.computeIfAbsent(k, _ => new LongAdder).add(v)
  def get(k: String): Long = Option(c.get(k)).map(_.sum).getOrElse(0L)

  if (traced) spark.listenerManager.register(this)
  sc.addSparkListener(this)

  /** Open a span under the innermost open one and make it the parent of
    * every job started from here until it closes. */
  def open(kind: String, name: String): Long = synchronized {
    val id = ids.incrementAndGet()
    spans.put(id, Span(id, stack.headOption.getOrElse(0L), kind, name,
      System.currentTimeMillis()))
    stack.push(id)
    publish()
    id
  }

  def close(id: Long): Unit = synchronized {
    spans.get(id).end = System.currentTimeMillis()
    while (stack.nonEmpty && stack.top != id) stack.pop()
    if (stack.nonEmpty) stack.pop()
    publish()
  }

  def span[T](kind: String, name: String)(body: => T): T = {
    val id = open(kind, name)
    try body finally close(id)
  }

  /** A span recorded after the fact (stream micro-batches). */
  def record(kind: String, name: String, parent: Long, start: Long, end: Long): Unit = {
    val id = ids.incrementAndGet()
    spans.put(id, Span(id, parent, kind, name, start, end))
  }

  private def publish(): Unit = {
    val top = stack.headOption
    sc.setLocalProperty("perfbench.span", top.map(_.toString).orNull)
    sc.setLocalProperty("perfbench.phase", top.map(spans.get(_).kind).orNull)
  }

  def spanList: Seq[Span] = spans.values.asScala.toSeq.sortBy(_.id)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("scheduler.jobs", 1)
    if (!traced) return
    val props = Option(e.properties)
    val parent = props.flatMap(p => Option(p.getProperty("perfbench.span")))
      .map(_.toLong).getOrElse(0L)
    if (props.flatMap(p => Option(p.getProperty("perfbench.phase"))).contains("build"))
      add("queries.build_jobs", 1)
    val id = ids.incrementAndGet()
    spans.put(id, Span(id, parent, "job", s"job ${e.jobId}", e.time))
    jobSpan.put(e.jobId, id)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (traced) Option(jobSpan.get(e.jobId)).foreach(spans.get(_).end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (traced) {
    val info = e.stageInfo
    add("scheduler.stages", 1)
    val parent = Option(stageJob.get(info.stageId)).flatMap(j => Option(jobSpan.get(j)))
      .getOrElse(0L)
    val id = ids.incrementAndGet()
    spans.put(id, Span(id, parent, "stage", s"stage ${info.stageId}",
      info.submissionTime.getOrElse(0L), info.completionTime.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (traced) {
    val m = e.taskMetrics
    val info = e.taskInfo
    add("scheduler.tasks", 1)
    if (m != null) {
      add("exec.run_ms", m.executorRunTime)
      add("exec.cpu_ns", m.executorCpuTime)
      add("exec.gc_ms", m.jvmGCTime)
      add("scan.bytes", m.inputMetrics.bytesRead)
      add("scan.rows", m.inputMetrics.recordsRead)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle.read_bytes",
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("spill.bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      // the scheduler delay as Spark's own UI derives it
      add("scheduler.delay_ms", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqlExecs.put(s.executionId, SqlExec(s.executionId, s.time, -1L, s.physicalPlanDescription))
    case s: SparkListenerSQLExecutionEnd =>
      Option(sqlExecs.get(s.executionId)).foreach(_.endMs = s.time)
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    for ((phase, key) <- Seq("analysis" -> "catalyst.analysis_ms",
        "optimization" -> "catalyst.optimization_ms", "planning" -> "catalyst.planning_ms"))
      phases.get(phase).foreach(p => add(key, p.durationMs))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onSuccess(funcName, qe, 0L)
}
