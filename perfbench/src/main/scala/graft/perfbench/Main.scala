package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.core.Memo
import graft.pipeline.PipelineRunner
import graft.queries.PipelineQ
import graft.streaming.EventStreams
import org.apache.spark.perfbench.SparkHooks
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

/** One benchmark process: builds the session, prints `READY`, runs one
  * workload over inputs the client staged from its seed, and writes every
  * timing, output digest and layer counter to `<work>/result.json` for the
  * client to check and summarise.
  *
  * Usage: Main workload=<name> work=<dir> cores=<n> trace=<0|1> [spans=<file>]
  *   query-draw: data=<tables dir> queries=<q1,q2,...|*>
  *   ingest:     data=<tables dir> seed=<n> thresholds=<csv> stream=<dir>
  *               files_per_trigger=<n>
  * `workload=setup` stops right after `READY` (set-up timing probes). An
  * ingest run without `stream` runs the pipeline only, and one whose
  * `thresholds` file does not exist yet derives it and writes it as a
  * Spark CSV directory of that name.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val work = opt("work")
    val cores = opt("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/cwd/spark-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println("READY")
    System.out.flush()
    if (opt("workload") == "setup") { spark.stop(); return }

    val tracer = new Tracer(spark, opt("trace") == "1")
    val (cg0, cgMean0) = SparkHooks.codegen
    val out = mutable.LinkedHashMap[String, Any]("workload" -> opt("workload"))
    val t0 = System.currentTimeMillis()
    tracer.span("run", s"seed ${opt.getOrElse("seed", "-")}")(tracer.span("workload", opt("workload")) {
      opt("workload") match {
        case "query-draw" => queryDraw(spark, tracer, opt("data"), opt("queries"), out)
        case "ingest" =>
          eltRunner(spark, tracer, opt("data"), work, opt("seed").toLong, opt("thresholds"), out)
          opt.get("stream").foreach(dir =>
            streamBackfill(spark, tracer, dir, work, opt("files_per_trigger").toInt, out))
      }
    })
    val wallMs = System.currentTimeMillis() - t0
    SparkHooks.drainListeners(spark.sparkContext)
    if (tracer.traced) {
      val (cg1, cgMean1) = SparkHooks.codegen
      out("layers") = layers(tracer, cores, wallMs, cg1 - cg0, cg1 * cgMean1 - cg0 * cgMean0,
        new File(s"$work/cache"), out)
      Files.write(Paths.get(opt("spans")), tracer.spanList.map { s =>
        Json(Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
          "start_ms" -> s.start, "end_ms" -> s.end))
      }.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    Files.write(Paths.get(s"$work/result.json"), Json(out).getBytes(UTF_8))
    spark.stop()
  }

  // ------------------------------------------------------------ query-draw

  /** Order-insensitive digest of a query's result, computed by an observed
    * aggregate in the same execution that materialises it: row count, and
    * the XOR and modular sum of one 64-bit hash per row over the columns in
    * name order (maps hash through their JSON form).
    */
  private def observed(df: DataFrame, obs: Observation): DataFrame = {
    def hashable(f: StructField) = {
      def hasMap(t: DataType): Boolean = t match {
        case _: MapType => true
        case a: ArrayType => hasMap(a.elementType)
        case s: StructType => s.fields.exists(x => hasMap(x.dataType))
        case _ => false
      }
      if (hasMap(f.dataType)) to_json(col(s"`${f.name}`")) else col(s"`${f.name}`")
    }
    val fields = df.schema.fields.sortBy(_.name)
    val h = if (fields.isEmpty) lit(0L) else xxhash64(fields.map(hashable).toIndexedSeq: _*)
    df.observe(obs, count(lit(1)).as("n"), bit_xor(h).as("x"),
      sum(pmod(h, lit(1000000007L))).as("s"))
  }

  /** Runs the queries in the order given (`*`: the whole registry in
    * declaration order), releasing the Memo whenever the family changes, as
    * `graft.Bench` does at its family boundaries. */
  private def queryDraw(spark: SparkSession, tracer: Tracer, data: String, drawn: String,
      out: mutable.Map[String, Any]): Unit = {
    val familyOf = SparkEntry.defGroups.flatMap { case (f, defs) => defs.map(_.name -> f) }.toMap
    val names = if (drawn == "*") SparkEntry.allDefs.map(_.name) else drawn.split(",").toSeq
    val registry = SparkEntry.queries
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    var releaseMs = 0L
    for ((name, i) <- names.zipWithIndex) {
      val family = familyOf(name)
      tracer.span("operation", name) {
        val t0 = System.nanoTime()
        var t1 = t0
        try {
          val df = tracer.span("build", name)(registry(name)(spark, data))
          t1 = System.nanoTime()
          val obs = Observation(name)
          tracer.span("execute", name) {
            observed(df, obs).write.format("noop").mode("overwrite").save()
          }
          val t2 = System.nanoTime()
          val m = obs.get
          val digest = s"${m("n")}:${m("x")}:${Option(m("s")).getOrElse(0)}"
          ops += Map("name" -> name, "family" -> family, "ok" -> true, "ms" -> (t2 - t0) / 1e6,
            "build_ms" -> (t1 - t0) / 1e6, "exec_ms" -> (t2 - t1) / 1e6, "digest" -> digest)
        } catch {
          case e: Throwable =>
            ops += Map("name" -> name, "family" -> family, "ok" -> false,
              "ms" -> (System.nanoTime() - t0) / 1e6, "error" -> String.valueOf(e.getMessage).take(300))
        }
      }
      // family boundary: the memo footprint is one family's artifacts
      if (i == names.size - 1 || familyOf(names(i + 1)) != family) {
        val r0 = System.nanoTime()
        tracer.span("release", family)(Memo.release(spark))
        releaseMs += (System.nanoTime() - r0) / 1000000L
      }
    }
    out("ops") = ops.toSeq
    out("memo_release_ms") = releaseMs
  }

  // ---------------------------------------------------------- ingest: ELT

  /** Stages the landing CSVs (rows in a seeded order) and the
    * reference-shaped date dimension (with `week`), then times one archival
    * `PipelineRunner.run` against the pinned per-item thresholds. Each
    * manifest stage's latency runs from the end of the previous stage's last
    * SQL execution to the end of its own: an execution belongs to the stage
    * whose output path its plan names (the write and the re-count), and an
    * execution naming none (the emptiness probe) to the next stage that
    * writes.
    */
  private def eltRunner(spark: SparkSession, tracer: Tracer, data: String, work: String,
      seed: Long, thresholdsCsv: String, out: mutable.Map[String, Any]): Unit = {
    val land = s"$work/landing"
    def csv(df: DataFrame, name: String): String = {
      df.write.option("header", "true").csv(s"$land/$name")
      s"$land/$name"
    }
    val feed = PipelineQ.feed(spark, data)
      .orderBy(xxhash64(lit(seed), col("lineitem_id")), col("lineitem_id"))
    val items = csv(feed, "order_items")
    val options = csv(PipelineQ.options(spark, data), "order_item_options")
    val dateDim = csv(PipelineQ.dateDim(spark, data)
      .join(spark.read.parquet(s"$data/orders.parquet")
        .select(date_format(col("o_orderdate"), "dd-MM-yyyy").as("date_key"),
          weekofyear(col("o_orderdate")).as("week")).distinct(), "date_key"), "date_dim")
    if (!new File(thresholdsCsv).exists())
      PipelineQ.thresholdsOf(graft.pipeline.TransformJob(
        graft.pipeline.CsvSource.read(spark, items)
          .withColumn("item_price", col("item_price").cast("double"))
          .withColumn("item_quantity", col("item_quantity").cast("int")),
        graft.pipeline.MappingRules.default)).coalesce(1)
        .write.option("header", "true").csv(thresholdsCsv)
    val thresholds = graft.pipeline.CsvSource.read(spark, thresholdsCsv).select(
      col("restaurant_id"), col("item_category"), col("item_name"),
      col("price_min").cast("double"), col("price_max").cast("double"),
      col("qty_min").cast("double"), col("qty_max").cast("double"))
    SparkHooks.drainListeners(spark.sparkContext)
    tracer.sqlExecs.clear()

    val outRoot = s"$work/pipeline"
    val t0 = System.currentTimeMillis()
    val jobs0 = tracer.get("scheduler.jobs")
    val opId = tracer.open("operation", "PipelineRunner.run")
    val result = try Right(PipelineRunner.run(spark, items, options, dateDim, thresholds,
        outRoot, archiveTo = Some(s"$work/archive")))
      catch { case e: Throwable => Left(String.valueOf(e.getMessage).take(300)) }
      finally tracer.close(opId)
    val t1 = System.currentTimeMillis()
    SparkHooks.drainListeners(spark.sparkContext)
    out("wall_ms") = t1 - t0
    out("pipeline_jobs") = tracer.get("scheduler.jobs") - jobs0
    result match {
      case Left(err) => out("error") = err
      case Right(run) =>
        out("manifest") = run.stages.map(s => Map("stage" -> s.stage, "rows" -> s.rows))
        val paths = run.stages.map(s => s.stage -> new File(s.path).getAbsolutePath)
        def stageOf(plan: String): Option[String] = paths.filter { case (_, p) =>
          val i = plan.indexOf(p)
          i >= 0 && (i + p.length == plan.length || !plan.charAt(i + p.length).isLetterOrDigit &&
            plan.charAt(i + p.length) != '_')
        }.sortBy(-_._2.length).headOption.map(_._1)
        val execs = tracer.sqlExecs.values.asScala.toSeq.filter(_.endMs > 0).sortBy(_.endMs)
        val named = execs.map(e => stageOf(e.plan))
        val stageEnd = mutable.LinkedHashMap[String, Long]()
        execs.indices.foreach { i =>
          val stage = named.drop(i).flatten.headOption.getOrElse("archive")
          stageEnd(stage) = execs(i).endMs
        }
        var prev = t0
        val ops = stageEnd.toSeq.map { case (stage, end) =>
          val op = Map("name" -> stage, "ok" -> true, "ms" -> (end - prev).toDouble)
          tracer.record("phase", stage, opId, prev, end)
          prev = end
          op
        } :+ Map("name" -> "archive", "ok" -> true, "ms" -> (t1 - prev).toDouble)
        out("stages") = ops
        val written = files(new File(outRoot)).filterNot(f =>
          f.getName.startsWith(".") || f.getName.startsWith("_"))
        out("files_written") = written.size
        out("bytes_written") = written.map(_.length).sum
    }
  }

  private def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)

  // ----------------------------------------------------- ingest: streams

  /** Drains the staged event files (arrival order = file mtimes) through the
    * three production stream shapes with `AvailableNow` at a fixed
    * files-per-trigger. Each drain's emitted rows are collected so the
    * client can check them against its own replay of the same batches.
    */
  private def streamBackfill(spark: SparkSession, tracer: Tracer, data: String, work: String,
      fpt: Int, out: mutable.Map[String, Any]): Unit = {
    import spark.implicits._
    def events() = EventStreams.readEventStream(spark, data, fpt)
    def typed() = events().select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.Event]
    val drains = Seq[(String, () => DataFrame, String, DataFrame => DataFrame)](
      ("hourlyCounts", () => EventStreams.hourlyCounts(events()), "update",
        _.select(unix_micros(col("hour_start")), col("event_type"), col("n_events"))),
      ("upsertLatest", () => EventStreams.upsertLatest(typed()).toDF(), "update",
        _.select("user_id", "event_type", "ts_us", "event_id")),
      ("sessionizeClosed", () => EventStreams.sessionizeClosed(typed(), 7200L).toDF(), "append",
        _.select("user_id", "start_us", "n_events")))
    out("drains") = drains.map { case (name, plan, mode, keep) =>
      val opId = tracer.open("operation", name)
      try {
        val rows = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Any]]()
        val t0 = System.currentTimeMillis()
        val q = plan().writeStream
          .outputMode(mode)
          .foreachBatch { (b: DataFrame, _: Long) =>
            keep(b).collect().foreach(r => rows.add(r.toSeq)): Unit
          }
          .option("checkpointLocation", s"$work/ckpt/$name")
          .trigger(Trigger.AvailableNow())
          .start()
        val err = try { q.awaitTermination(); None }
          catch { case e: Throwable => Some(String.valueOf(e.getMessage).take(300)) }
        val t1 = System.currentTimeMillis()
        val progress = q.recentProgress.toSeq
        progress.foreach { p =>
          val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
            p.durationMs.get("triggerExecution").longValue
          tracer.record("batch", s"$name batch ${p.batchId}", opId,
            java.time.Instant.parse(p.timestamp).toEpochMilli, end)
        }
        def dur(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L))
        Map("name" -> name, "ok" -> err.isEmpty, "error" -> err.orNull, "wall_ms" -> (t1 - t0),
          "batch_ms" -> dur("triggerExecution"),
          "input_rows" -> progress.map(_.numInputRows).sum,
          "planning_ms" -> dur("queryPlanning").sum, "wal_ms" -> dur("walCommit").sum,
          "add_batch_ms" -> dur("addBatch").sum,
          "state_rows" -> progress.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum)
            .getOrElse(0L),
          "state_commit_ms" -> progress.map(_.stateOperators.map(_.commitTimeMs).sum).sum,
          "rows" -> rows.asScala.toSeq)
      } finally tracer.close(opId)
    }
  }

  // ------------------------------------------------------ per-layer report

  private def layers(t: Tracer, cores: Int, wallMs: Long, cgClasses: Long, cgMs: Double,
      cache: File, out: mutable.Map[String, Any]): Map[String, Double] = {
    def list(k: String) = out.getOrElse(k, Nil).asInstanceOf[Seq[Map[String, Any]]]
    val (ops, drains) = (list("ops"), list("drains"))
    def opSum(k: String) = ops.flatMap(_.get(k)).map(_.asInstanceOf[Double]).sum / 1000
    def drainSum(k: String) = drains.map(_(k).asInstanceOf[Long]).sum.toDouble
    def stages(p: String => Boolean) =
      list("stages").filter(o => p(o("name").toString)).map(_("ms").asInstanceOf[Double]).sum / 1000
    val mb = 1024.0 * 1024.0
    val cached = files(cache)
    Map(
      "queries.build_s" -> opSum("build_ms"),
      "queries.exec_s" -> opSum("exec_ms"),
      "queries.build_jobs" -> t.get("queries.build_jobs").toDouble,
      "catalyst.analysis_s" -> t.get("catalyst.analysis_ms") / 1000.0,
      "catalyst.optimization_s" -> t.get("catalyst.optimization_ms") / 1000.0,
      "catalyst.planning_s" -> t.get("catalyst.planning_ms") / 1000.0,
      "codegen.classes" -> cgClasses.toDouble,
      "codegen.compile_ms" -> cgMs,
      "scheduler.jobs" -> t.get("scheduler.jobs").toDouble,
      "scheduler.stages" -> t.get("scheduler.stages").toDouble,
      "scheduler.tasks" -> t.get("scheduler.tasks").toDouble,
      "scheduler.delay_s" -> t.get("scheduler.delay_ms") / 1000.0,
      "scheduler.core_busy" -> t.get("exec.run_ms").toDouble / (cores * wallMs.max(1L)),
      "exec.run_s" -> t.get("exec.run_ms") / 1000.0,
      "exec.cpu_s" -> t.get("exec.cpu_ns") / 1e9,
      "exec.gc_s" -> t.get("exec.gc_ms") / 1000.0,
      "scan.mb_read" -> t.get("scan.bytes") / mb,
      "scan.rows" -> t.get("scan.rows").toDouble,
      "shuffle.write_mb" -> t.get("shuffle.write_bytes") / mb,
      "shuffle.read_mb" -> t.get("shuffle.read_bytes") / mb,
      "shuffle.fetch_wait_s" -> t.get("shuffle.fetch_wait_ms") / 1000.0,
      "spill.mb" -> t.get("spill.bytes") / mb,
      "pipeline.landing_s" -> stages(_.startsWith("landing")),
      "pipeline.transform_s" -> stages(_ == "transform"),
      "pipeline.quality_s" -> stages(_.startsWith("quality")),
      "pipeline.metrics_s" -> stages(_.startsWith("metrics")),
      "pipeline.archive_s" -> stages(_ == "archive"),
      "pipeline.jobs" -> out.getOrElse("pipeline_jobs", 0L).asInstanceOf[Long].toDouble,
      "pipeline.files_written" -> out.getOrElse("files_written", 0).asInstanceOf[Int].toDouble,
      "pipeline.mb_written" -> out.getOrElse("bytes_written", 0L).asInstanceOf[Long] / mb,
      "core.memo_release_s" -> out.getOrElse("memo_release_ms", 0L).asInstanceOf[Long] / 1000.0,
      "core.diskcache_entries" -> cached.size.toDouble,
      "core.diskcache_mb" -> cached.map(_.length).sum / mb,
      "streaming.batches" -> drains.map(_("batch_ms").asInstanceOf[Seq[Long]].size).sum.toDouble,
      "streaming.planning_ms" -> drainSum("planning_ms"),
      "streaming.wal_ms" -> drainSum("wal_ms"),
      "streaming.add_batch_ms" -> drainSum("add_batch_ms"),
      "streaming.state_rows" -> drainSum("state_rows"),
      "streaming.state_commit_ms" -> drainSum("state_commit_ms"))
  }
}

/** Minimal JSON writer for the result and span files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < 0x20 => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
