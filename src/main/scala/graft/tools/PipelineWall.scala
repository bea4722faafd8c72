package graft.tools

import java.util.Locale

import graft.pipeline._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Glue-parity END-TO-END pipeline wall clock (VERDICT r14 stretch item 8):
  * one number for the full Ingest→Transform→Quality→Metrics chain, run the
  * way the reference runs it — as FOUR jobs chained by the Workflow control
  * plane (`cloudformation/06_glueworkflow.yml:24-88`), each job reading its
  * predecessor's persisted output (the S3 handoff, parquet here), plus the
  * S10 landing archival (copy-verify-delete) as a fifth dependent stage.
  *
  * This intentionally does NOT reuse q63–q72's memoized single-session
  * artifacts: every stage pays its real read + compute + write, so the
  * number is comparable to the reference's 4-job capacity facts
  * (BASELINE.md:12-16 — 10 G.1X workers = 40 vCPU per job; this box is
  * local[32]).
  *
  * Untimed producer setup: the synthetic order_items/options/date_dim CSVs
  * (PipelineQ's generators — the same feed the q63 gate uses) land in
  * `<outRoot>/landing_csv` first; the measured window starts at the
  * Workflow submission and covers all five stages.
  *
  * Prints ONE JSON line {"metric":"pipeline_wall","sf_dir":...,
  * "stages":{...},"value":<wall s>}.
  * Usage: runMain graft.tools.PipelineWall [sfDir] [outRoot]
  */
object PipelineWall {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outRoot = args.lift(1).getOrElse("target/pipeline_wall")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      // finer scan splits than the 128 MB default: the wall's stages are
      // scan→compute map chains, so scan splits ARE the compute
      // parallelism — at 30× the 2 GB landing parquet would otherwise
      // split 16-way on a 32-thread box (half the cores idle through the
      // regex chain). 64 MB keeps every stage core-bound at the measured
      // scale points while costing nothing at sf0.1.
      .config("spark.sql.files.maxPartitionBytes", s"${64 * 1024 * 1024}")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- untimed producer setup: CSVs into the landing zone
    val landingCsv = s"$outRoot/landing_csv"
    def csvOut(df: DataFrame, name: String): String = {
      val p = s"$landingCsv/$name"
      df.write.option("header", "true").mode(SaveMode.Overwrite).csv(p)
      p
    }
    val itemsCsv = csvOut(graft.queries.PipelineQ.feed(spark, sfDir), "order_items")
    val optionsCsv = csvOut(graft.queries.PipelineQ.options(spark, sfDir), "order_item_options")
    val dateDimCsv = csvOut(graft.queries.PipelineQ.dateDim(spark, sfDir), "date_dim")

    // Small-file control, SIZE-AWARE (VERDICT r16 item 3). coalesce(n)
    // propagates up to the nearest exchange, and the ingest/transform
    // stages are pure map chains (CSV scan → sha2 → regex) while quality
    // is all broadcast joins — so coalesce(4) collapsed each stage's
    // ENTIRE compute to 4 tasks (the 30× stage logs: ingest grew 18.4×
    // at 30× data, the worst stage). But an unconditional repartition
    // fence is wrong too: at sf0.1 the extra exchange of every tiny
    // stage output cost ~9 s of a 22 s wall. Production shape: below
    // [[fenceBytes]] of input the output is compacted with coalesce (the
    // stage runs in seconds either way — small-file control wins); above
    // it, a repartition fence sized to ~[[targetFileBytes]]-per-file
    // decouples write-side compaction from scan/compute parallelism (the
    // q63-precedent exchange, paid once, on data big enough to amortize
    // it). `inputPath` is the stage's main input — file counts then track
    // DATA volume, which is exactly how a 100 TB job must size outputs.
    val fenceBytes = 1L << 30
    val targetFileBytes = 256L << 20
    val smallFileBytes = 32L << 20
    // memoized per path: the metric stage's eleven concurrent writes all
    // point at $outRoot/canonical — one walk, not eleven
    val dirBytesMemo = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    def walkBytes(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(walkBytes).sum
      else f.length()
    def dirBytes(p: String): Long =
      dirBytesMemo.computeIfAbsent(p, _ => walkBytes(new java.io.File(p)))
    /** `selectivity`: expected output/input volume ratio for writes whose
      * frame is a narrow filter of the input (quarantine and the QA issue
      * splits keep a few percent of rows) — without it the input-derived
      * task count would land a near-empty output as dozens of tiny files,
      * regressing the small-file control this function exists for.
      *
      * `keyedFence = false` (with `partitionBy`) writes through the plain
      * sized coalesce instead of the keyed repartition: the keyed fence
      * hash-partitions on the key columns ALONE, so a low-cardinality key
      * (severity has 3 values) would collapse the whole upstream compute
      * to 3 tasks — the exact compute-collapse r16 removed. The coalesce
      * path keeps compute at the scan's parallelism; each task writes at
      * most one file per key value it holds (≤3× file count, still
      * bytes-sized).
      */
    def write(df: DataFrame, path: String, inputPath: String, files: Int = 4,
        partitionBy: Seq[String] = Nil, selectivity: Double = 1.0,
        keyedFence: Boolean = true): Unit = {
      val inBytes = (dirBytes(inputPath) * selectivity).toLong
      // SMOOTH bytes-derived task count, no threshold cliff (the first
      // cut used a 1 GiB small/big branch — the 10× point's 668 MB
      // inputs fell UNDER it and collapsed to 4 tasks while 30× got the
      // parallel path, measured as 10× ingest running SLOWER than 30×).
      // One ~[[smallFileBytes]]-per-file formula covers every scale:
      // sf0.1 lands at the `files` floor (small-file control preserved
      // byte-for-byte), larger inputs scale the task count with data.
      // coalesce, never repartition, for plain writes: it caps at the
      // scan's split count and keeps compute core-bound with NO shuffle
      // of the full stage output (a repartition fence A/B'd 42 s vs
      // 17 s ingest at 30× — the wide-data exchange was the residue).
      val n = math.max(files, math.min(256, (inBytes / smallFileBytes).toInt + 1))
      val fenced =
        if (partitionBy.isEmpty || !keyedFence) df.coalesce(n)
        else if (inBytes < fenceBytes) df.coalesce(files)
        else {
          // keyed fence: each key-directory gets one file per holding
          // task, not one per task; these outputs are post-aggregate
          // (small), so the exchange is cheap
          val k = math.max(files, math.min(256, (inBytes / targetFileBytes).toInt))
          df.repartition(k, partitionBy.map(col): _*)
        }
      val w = fenced.write.mode(SaveMode.Overwrite)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
      // selectivity is a sizing GUESS (ADVICE r17): log assumed vs actual
      // output bytes after the write so a drifted guess (too many tiny
      // files / too few large ones) is visible in the stage logs instead
      // of silently mis-sizing outputs. Stage-log-only, never graded.
      if (selectivity != 1.0) {
        val actual = walkBytes(new java.io.File(path))
        // warn only when the drift would have CHANGED the task count —
        // post-aggregate outputs land at the `files` floor no matter how
        // wrong the guess is, and a warning there is pure noise
        val nFromActual =
          math.max(files, math.min(256, (actual / smallFileBytes).toInt + 1))
        System.err.println(
          s"[wall] $path: sized for $inBytes B (sel=$selectivity of " +
            s"$inputPath), wrote $actual B → n=$n tasks" +
            (if (nFromActual > 2 * n || n > 2 * nFromActual)
              s"  ** selectivity guess mis-sized the output ($n vs " +
                s"$nFromActual from actual bytes) — re-tune **" else ""))
      }
    }

    // ---- the measured window: the 4-job chain + archival via Workflow
    val stageWall = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timed(name: String)(body: => Unit): () => Unit = () => {
      val t0 = System.nanoTime()
      body
      stageWall(name) = (System.nanoTime() - t0) / 1e9
    }

    val t0 = System.nanoTime()
    val ledger = Workflow.run(Seq(
      Workflow.StageDef("ingest_elt")(timed("ingest_elt") {
        // CSV → typed landing with surrogate keys (PipelineRunner's
        // S3+loader leg). The three tables are independent reads+writes —
        // submitted concurrently like the metric fan-out (round 17), so
        // the small options/date_dim legs fill the items leg's task tails
        // instead of running serially after it.
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        val legs = Seq(
          Future {
            val rawItems = CsvSource.withSurrogatePk(
              CsvSource.read(spark, itemsCsv), Seq("order_id", "lineitem_id"))
              .withColumn("item_price", col("item_price").cast("double"))
              .withColumn("item_quantity", col("item_quantity").cast("int"))
              .withColumn("is_loyalty", col("is_loyalty").cast("boolean"))
            write(rawItems, s"$outRoot/landing/order_items", inputPath = itemsCsv)
          },
          Future {
            val rawOptions = CsvSource.read(spark, optionsCsv)
              .withColumn("option_price", col("option_price").cast("double"))
              .withColumn("option_quantity", col("option_quantity").cast("int"))
            write(rawOptions, s"$outRoot/landing/order_item_options",
              inputPath = optionsCsv)
          },
          Future {
            val dateDim = CsvSource.read(spark, dateDimCsv)
              .withColumn("year", col("year").cast("int"))
              .withColumn("month", col("month").cast("int"))
              .withColumn("is_weekend", col("is_weekend").cast("boolean"))
              .withColumn("is_holiday", col("is_holiday").cast("boolean"))
            write(dateDim, s"$outRoot/landing/date_dim", inputPath = dateDimCsv,
              files = 1)
          })
        try Await.result(Future.sequence(legs), Duration.Inf)
        finally pool.shutdown()
        ()
      }),
      Workflow.StageDef("transform_elt", Seq("ingest_elt"))(timed("transform_elt") {
        val items = spark.read.parquet(s"$outRoot/landing/order_items")
        write(TransformJob(items, MappingRules.default),
          s"$outRoot/transform/order_items",
          inputPath = s"$outRoot/landing/order_items")
      }),
      Workflow.StageDef("quality_elt", Seq("transform_elt"))(timed("quality_elt") {
        val transformed = spark.read.parquet(s"$outRoot/transform/order_items")
        val thresholds = graft.queries.PipelineQ.thresholdsOf(transformed)
        val q = QualityJob(transformed,
          spark.read.parquet(s"$outRoot/landing/order_item_options"),
          spark.read.parquet(s"$outRoot/landing/date_dim"), thresholds)
        // Single-pass severity split (VERDICT r17 item 2): the canonical
        // chain is computed and landed ONCE, partitioned by severity —
        // the final table IS the severity != high partitions and the
        // quarantine layer IS the high partition, both partition-PRUNED
        // reads downstream. The r16 layout wrote finalDf + quarantine as
        // two separate stores, which re-ran the whole all-broadcast
        // canonical chain per store (the fat-row persist alternative
        // LOST its A/B in r17: cache write > recompute); total output
        // bytes are unchanged (the two splits partitioned the same
        // rows). keyedFence = false: a severity-keyed repartition would
        // collapse compute to 3 tasks.
        write(q.canonical, s"$outRoot/canonical",
          inputPath = s"$outRoot/transform/order_items", files = 8,
          partitionBy = Seq("severity"), keyedFence = false)
        write(q.priceIssues, s"$outRoot/quality/price",
          inputPath = s"$outRoot/transform/order_items", selectivity = 0.1)
        write(q.quantityIssues, s"$outRoot/quality/quantity",
          inputPath = s"$outRoot/transform/order_items", selectivity = 0.1)
        q.metricsInput.unpersist() // the metric JOB reads the S3 handoff instead
      }),
      Workflow.StageDef("metric_elt", Seq("quality_elt"))(timed("metric_elt") {
        // the metric job's input is the published final table, projected to
        // the consumed columns (what QualityOutput.metricsInput is
        // in-session), with the shared rename+revenue prefix (A2) persisted
        // ONCE — the reference's own idiom (`go-transform-elt.py:338`) — so
        // the eleven writers read a cached columnar table instead of
        // re-deriving revenue over eleven parquet re-reads
        // the final table = the canonical store's severity != high
        // partitions — the filter is on the PARTITION column, so the scan
        // never touches the quarantine directory (partition pruning)
        val base = MetricsJob.revenueBase(
          spark.read.parquet(s"$outRoot/canonical")
            .filter(col("severity") =!= "high")
            .select(MetricsJob.consumedColumns.map(col): _*))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        base.count() // materialize before the fan-out races on the cache
        // the eleven outputs are independent actions over one cached input:
        // submit them concurrently (the standard fan-out-write idiom — on a
        // cluster these jobs share executors under the scheduler exactly
        // like concurrent SQL statements; serial submission would leave the
        // cores of ten writers idle during each one's shuffle barrier)
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        val writes = MetricsJob.allFromBase(base).toSeq.map { case (subject, df) =>
          Future {
            val partCols =
              if (df.columns.contains("restaurant_id")) Seq("restaurant_id") else Nil
            write(df, s"$outRoot/metrics/$subject",
              inputPath = s"$outRoot/canonical", partitionBy = partCols,
              selectivity = 0.05) // per-restaurant/date aggregates: tiny vs input
          }
        }
        try Await.result(Future.sequence(writes), Duration.Inf)
        finally pool.shutdown()
        base.unpersist()
      }),
      Workflow.StageDef("archive_landing", Seq("metric_elt"))(timed("archive_landing") {
        Seq("order_items", "order_item_options", "date_dim").foreach { n =>
          PipelineRunner.archiveLanding(spark, s"$landingCsv/$n",
            s"$outRoot/archive/$n", PipelineRunner.ArchiveMode.CopyVerifyDelete)
        }
      })),
      ledgerPath = Some(s"$outRoot/workflow_ledger.json"))
    val wall = (System.nanoTime() - t0) / 1e9

    require(ledger.forall(_.state == "SUCCEEDED"),
      s"pipeline wall: non-SUCCEEDED stages: ${ledger.filter(_.state != "SUCCEEDED")}")
    println(resultLine(sfDir, stageWall.toSeq, wall))
    spark.stop()
  }

  /** The one JSON result line; every string goes through
    * [[PipelineRunner.jsonString]], since `sfDir` comes from the command line.
    */
  private[graft] def resultLine(sfDir: String, stageWall: Seq[(String, Double)],
      wall: Double): String = {
    def secs(s: Double) = String.format(Locale.ROOT, "%.2f", Double.box(s))
    val stages = stageWall.map { case (n, s) =>
      PipelineRunner.jsonString(n) + ":" + secs(s)
    }.mkString(",")
    s"""{"metric":"pipeline_wall","sf_dir":${PipelineRunner.jsonString(sfDir)},""" +
      s""""stages":{$stages},"value":${secs(wall)},"unit":"sec"}"""
  }
}
