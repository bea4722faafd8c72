package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import scala.collection.mutable

/** End-to-end pipeline orchestration — the engine's analog of the
  * reference's Glue workflow (`cloudformation/06_glueworkflow.yml`): the four
  * stages run in ONE Spark application over a shared logical plan instead of
  * four processes handing off through S3, so Catalyst sees the whole graph
  * and intermediate layers are written once, not re-read + re-inferred.
  *
  * Preserved control-plane behaviors: layered parquet (landing → transform →
  * final + quarantines at quality/{final,price,quantity} — `quality/final`
  * holds the HIGH-severity quarantine, mirroring the reference's layer names,
  * `cloudformation/05_gluejobs.yml:97-101` → metrics/<subject>), small-file
  * coalesce (S7), metrics partitioned by restaurant_id (S6), skip-empty
  * writes (P9, `go-quality-elt.py:129-132`, counted by the write itself —
  * see [[writeIfNonEmpty]]), per-stage run manifest (S8,
  * `go-incremental-ingest-elt.py:305-318`), landing archival (S10, opt-in
  * via `archiveTo` — see [[archiveLanding]]).
  */
object PipelineRunner {

  final case class StageResult(stage: String, rows: Long, path: String)

  final case class RunResult(stages: Seq[StageResult], manifestPath: String)

  /** P9 — conditional write in ONE job: the layer is written as is and its
    * row count comes from the write's own observation (a `count` observed
    * in the write's result stage, where Spark applies each partition's
    * accumulator update once, so a retried task cannot double-count). No
    * emptiness probe runs before the write and no re-count after it.
    *
    * An empty layer still OVERWRITES the target with a schema-only parquet,
    * so a re-run that produces zero rows can't leave a previous run's stale
    * data on disk disagreeing with the manifest's rows=0. A non-partitioned
    * write leaves that file by itself (SPARK-23271); an empty `partitionBy`
    * write leaves only `_SUCCESS`, so only then is the layer rewritten as
    * an unpartitioned `limit(0)` — a second job for that case alone.
    */
  private def writeIfNonEmpty(df: DataFrame, path: String, files: Int = 4,
      partitionBy: Seq[String] = Nil): Long = {
    val written = Observation()
    val writer = df.observe(written, count(lit(1)).as("rows")).coalesce(files)
      .write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer).parquet(path)
    val rows = written.get("rows").asInstanceOf[Long]
    if (rows == 0L && partitionBy.nonEmpty)
      df.limit(0).write.mode(SaveMode.Overwrite).parquet(path)
    rows
  }

  /** A JSON string literal: quote, backslash and every control character
    * escaped, so a stage name, path or error message can't break the
    * manifest or the workflow ledger.
    */
  private[pipeline] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** How [[archiveLanding]] moves a file. `Rename` is atomic per file and
    * O(1) on HDFS/local — but on object stores (S3A, GCS connectors)
    * "rename" is a full server-side copy followed by a delete with NO
    * atomicity, and some connectors reject directory renames outright.
    * `CopyVerifyDelete` makes that reality explicit and safe: copy, verify
    * the destination's length against the source, and only then delete —
    * the reference's `copy_object` + `delete_object` sequence
    * (`go-transform-elt.py:295-311`) with a verification step between, so
    * a truncated copy can never cost the only copy of the data.
    */
  sealed trait ArchiveMode
  object ArchiveMode {
    case object Rename extends ArchiveMode
    case object CopyVerifyDelete extends ArchiveMode
  }

  /** Move one file into `dstDir` (basename-keyed) under `mode`, with
    * overwrite semantics like the reference's S3 copy+delete: a re-run
    * archiving a same-named file replaces the old archive copy instead of
    * failing the whole run after every stage already succeeded (HDFS/local
    * rename returns false when the destination exists). On a failed
    * verify, the DESTINATION copy is removed and the source preserved.
    */
  private def moveOne(fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path, dstDir: org.apache.hadoop.fs.Path,
      mode: ArchiveMode,
      conf: org.apache.hadoop.conf.Configuration): org.apache.hadoop.fs.Path = {
    val target = new org.apache.hadoop.fs.Path(dstDir, src.getName)
    if (fs.exists(target)) fs.delete(target, false)
    mode match {
      case ArchiveMode.Rename =>
        if (!fs.rename(src, target))
          throw new java.io.IOException(s"archival rename failed: $src -> $target")
      case ArchiveMode.CopyVerifyDelete =>
        val srcLen = fs.getFileStatus(src).getLen
        if (!org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, target,
            /*deleteSource=*/ false, /*overwrite=*/ true, conf))
          throw new java.io.IOException(s"archival copy failed: $src -> $target")
        val dstLen = fs.getFileStatus(target).getLen
        if (dstLen != srcLen) {
          fs.delete(target, false)
          throw new java.io.IOException(
            s"archival verify failed: $src ($srcLen B) -> $target ($dstLen B); " +
              "source preserved")
        }
        fs.delete(src, false)
    }
    target
  }

  /** S10 — landing archival: move every file under `srcDir` to `dstDir`
    * (flat, basename-keyed), re-expressing the reference's copy+delete S3
    * prefix move (`go-transform-elt.py:295-311`, `go-quality-elt.py:59-73`).
    * Default mode is `Rename` (atomic-per-file on HDFS/local); pass
    * [[ArchiveMode.CopyVerifyDelete]] for object-store targets — see
    * [[ArchiveMode]]. Returns the moved paths.
    */
  def archiveLanding(spark: SparkSession, srcDir: String, dstDir: String,
      mode: ArchiveMode = ArchiveMode.Rename): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(srcDir)
    val fs = src.getFileSystem(conf)
    if (!fs.exists(src)) return Nil
    val dst = new Path(dstDir)
    fs.mkdirs(dst)
    val files = fs.listStatus(src).filter(_.isFile)
    files.map(st => moveOne(fs, st.getPath, dst, mode, conf).toString).toSeq
  }

  def run(spark: SparkSession, orderItemsCsv: String, optionsCsv: String,
      dateDimCsv: String, thresholds: DataFrame, outRoot: String,
      rules: MappingRuleSet = MappingRules.default,
      archiveTo: Option[String] = None,
      archiveMode: ArchiveMode = ArchiveMode.Rename): RunResult = {
    val stages = mutable.ArrayBuffer.empty[StageResult]
    def record(stage: String, rows: Long, path: String): Unit =
      stages += StageResult(stage, rows, path)

    // ingest: CSV → typed landing with surrogate keys (S3 + loader leg)
    val rawItems = CsvSource.withSurrogatePk(
      CsvSource.read(spark, orderItemsCsv), Seq("order_id", "lineitem_id"))
      .withColumn("item_price", col("item_price").cast("double"))
      .withColumn("item_quantity", col("item_quantity").cast("int"))
      .withColumn("is_loyalty", col("is_loyalty").cast("boolean"))
    val rawOptions = CsvSource.read(spark, optionsCsv)
      .withColumn("option_price", col("option_price").cast("double"))
      .withColumn("option_quantity", col("option_quantity").cast("int"))
    val dateDim = CsvSource.read(spark, dateDimCsv)
      .withColumn("year", col("year").cast("int"))
      .withColumn("month", col("month").cast("int"))
      .withColumn("week", col("week").cast("int"))
      .withColumn("is_weekend", col("is_weekend").cast("boolean"))
      .withColumn("is_holiday", col("is_holiday").cast("boolean"))
    record("landing_items", writeIfNonEmpty(rawItems, s"$outRoot/landing/order_items"),
      s"$outRoot/landing/order_items")

    // transform
    val transformed = TransformJob(rawItems, rules)
    record("transform", writeIfNonEmpty(transformed, s"$outRoot/transform/order_items"),
      s"$outRoot/transform/order_items")

    // quality
    val q = QualityJob(transformed, rawOptions, dateDim, thresholds)
    record("quality_final", writeIfNonEmpty(q.finalDf, s"$outRoot/final", files = 8),
      s"$outRoot/final")
    record("quality_quarantine",
      writeIfNonEmpty(q.quarantine, s"$outRoot/quality/final"), s"$outRoot/quality/final")
    record("quality_price",
      writeIfNonEmpty(q.priceIssues, s"$outRoot/quality/price"), s"$outRoot/quality/price")
    record("quality_quantity",
      writeIfNonEmpty(q.quantityIssues, s"$outRoot/quality/quantity"),
      s"$outRoot/quality/quantity")

    // metrics fan-out off the consumed-columns cache QualityJob built —
    // re-caching here would pin a second near-identical copy
    MetricsJob.all(q.metricsInput).foreach { case (subject, df) =>
      val path = s"$outRoot/metrics/$subject"
      val partCols =
        if (df.columns.contains("restaurant_id")) Seq("restaurant_id") else Nil
      record(s"metrics_$subject", writeIfNonEmpty(df, path, partitionBy = partCols), path)
    }

    // S10 — archive the consumed landing CSVs once all stages are written
    archiveTo.foreach { dst =>
      Seq(orderItemsCsv, optionsCsv, dateDimCsv).foreach { f =>
        import org.apache.hadoop.fs.Path
        val conf = spark.sparkContext.hadoopConfiguration
        val p = new Path(f)
        val fs = p.getFileSystem(conf)
        if (fs.isFile(p)) {
          val dstDir = new Path(dst)
          fs.mkdirs(dstDir)
          moveOne(fs, p, dstDir, archiveMode, conf)
        } else archiveLanding(spark, f, dst, archiveMode)
      }
    }

    // run manifest (S8) — control plane, driver-side by design
    val manifestPath = s"$outRoot/run_manifest.json"
    val json = stages.map(s =>
      s"""{"stage":${jsonString(s.stage)},"rows":${s.rows},"path":${jsonString(s.path)}}""")
      .mkString("[", ",", "]")
    Files.createDirectories(Paths.get(outRoot))
    Files.write(Paths.get(manifestPath), json.getBytes(StandardCharsets.UTF_8))

    RunResult(stages.toSeq, manifestPath)
  }
}
