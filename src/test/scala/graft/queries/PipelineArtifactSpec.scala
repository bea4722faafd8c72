package graft.queries

import graft.SparkTestBase
import graft.core.Memo
import graft.pipeline.{MappingRules, QualityJob, TransformJob}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The pipeline family's session artifacts: the q63 transform layer and
  * the q64/q65 canonical quality frame are written once per pipeline
  * build through [[graft.core.Scratch.parquet]]. Pins
  *  (1) q63 and q64 really scan those artifacts, so the test cannot
  *      green on a silent in-memory path,
  *  (2) their rows equal the same chain built with the identity
  *      `materialize` (no artifact anywhere),
  *  (3) a q64 build after q63 reuses the memoized pipeline: no second
  *      write job.
  * Correctness against DuckDB is the 10 pipeline oracles' territory.
  */
class PipelineArtifactSpec extends SparkTestBase {

  private def rows(df: DataFrame): Array[String] =
    df.collect().map(_.toString).sorted

  /** Every file a frame's plan scans — directly (inputFiles) or through a
    * persisted subtree (q63's transform layer is `.persist()`ed, so the
    * optimizer substitutes an InMemoryRelation and `inputFiles` alone
    * returns empty; the artifact scan lives in its cachedPlan leaves).
    */
  private def scanFiles(df: DataFrame): Seq[String] = {
    val viaCache = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        r.cachedPlan.collectLeaves().collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.inputFiles.toSeq
        }.flatten
    }.flatten
    df.inputFiles.toSeq ++ viaCache
  }

  private def artifactDirs(df: DataFrame): Set[String] =
    scanFiles(df).filter(_.contains("/graft-artifact"))
      .map(f => f.substring(0, f.lastIndexOf('/'))).toSet

  test("q63/q64 scan the session artifact; rows match identity") {
    Memo.release(spark, "pipeline:")
    try {
      val q63 = graft.SparkEntry.queries("q63_pipeline_transform")(spark, sf)
      val q64 = graft.SparkEntry.queries("q64_pipeline_quality_final")(spark, sf)
      val (a63, a64) = (artifactDirs(q63), artifactDirs(q64))
      assert(a63.nonEmpty, s"q63 must scan its artifact:\n${scanFiles(q63).mkString("\n")}")
      assert(a64.nonEmpty, s"q64 must scan its artifact:\n${scanFiles(q64).mkString("\n")}")
      assert(a63.intersect(a64).isEmpty,
        "q63 reads the transform artifact, q64 the canonical one")

      val t = TransformJob(PipelineQ.feed(spark, sf), MappingRules.default,
        dictionarize = false)
      val q = QualityJob(t, PipelineQ.options(spark, sf), PipelineQ.dateDim(spark, sf),
        PipelineQ.thresholdsOf(t))
      assert(rows(q63).sameElements(rows(t.select(q63.columns.map(col).toSeq: _*))),
        "q63 artifact-backed rows diverge from the identity build")
      assert(rows(q64).sameElements(rows(q.finalDf)),
        "q64 artifact-backed rows diverge from the identity build")
    } finally Memo.release(spark, "pipeline:")
  }

  test("a q64 build after q63 starts no second write job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val tag = "pipeline-artifact-writes" // counts only this thread's executions
    val writes = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobTags.contains(tag) &&
            s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
          writes.incrementAndGet()
        case _ =>
      }
    }
    def writesDuring(f: => Unit): Int = {
      val before = writes.get()
      f
      org.apache.spark.graft.ListenerDrain(sc)
      writes.get() - before
    }
    Memo.release(spark, "pipeline:")
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      assert(writesDuring(graft.SparkEntry.queries("q63_pipeline_transform")(spark, sf)) == 2,
        "the pipeline build writes the transform and canonical artifacts")
      assert(writesDuring(graft.SparkEntry.queries("q64_pipeline_quality_final")(spark, sf)) == 0,
        "q64 must reuse the session's artifacts")
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
      Memo.release(spark, "pipeline:")
    }
  }
}
