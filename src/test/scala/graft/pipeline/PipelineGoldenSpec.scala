package graft.pipeline

import graft.SparkTestBase
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** Local filesystem whose rename ALWAYS fails — models object-store
  * connectors where rename is unsupported or unsafe, for the S10
  * copy+verify+delete archival test. Registered under `norename://` via
  * `fs.norename.impl` (Hadoop instantiates it reflectively, hence
  * top-level with a no-arg constructor).
  */
class NoRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("norename:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = false
}

/** Golden end-to-end: fixture CSVs (FIXTURES.md §A — messy categories,
  * sizes, QA-trigger values, test rows, guest users, threshold violations)
  * → transform → quality → metrics, asserting hand-computed outcomes.
  */
class PipelineGoldenSpec extends SparkTestBase {
  import spark.implicits._

  private def writeCsv(dir: String, name: String, content: String): String = {
    val p = Paths.get(dir, name)
    Files.write(p, content.stripMargin.trim.getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  private lazy val fixtureDir = Files.createTempDirectory("graft-golden").toString

  // columns: app,rid,created,order,user,card,loyalty,currency,li,category,name,price,qty
  private lazy val itemsCsv = writeCsv(fixtureDir, "order_items.csv",
    """app_name,restaurant_id,creation_time_utc,order_id,user_id,printed_card_number,is_loyalty,currency,lineitem_id,item_category,item_name,item_price,item_quantity
      |alltown,r1,2023-03-08T11:03:32.223Z,o1,u1,,true,USD,li1,Sqalads ,The Caesar Salad (16 oz),12.5,3
      |alltown,r1,2023-03-08T12:00:00.000Z,o2,u2,1234,false,USD,li2,BREAK FAST,Egg Sandwich*,8.0,2
      |alltown,r1,2023-03-09T09:30:00.000Z,o3,,,false,USD,li3,Chips`s,Salt Chips,3.5,4
      |alltown,r2,2023-03-09T15:00:00.000Z,o4,u3,,true,USD,li4,Drinks,Orange Juice,4.0,2
      |alltown,r2,2023-03-10T10:00:00.000Z,o5,u4,,false,USD,li5,Entrees,Alltown Fresh Burger,14.0,2
      |alltown,r2,2023-03-10T11:00:00.000Z,o6,u5,,false,USD,li6,TEST category,Some Item,9.0,3
      |alltown,r1,2023-03-10T12:00:00.000Z,o7,u6,,true,USD,li7,Salads,Greek Salad,150.0,3
      |alltown,r1,2023-03-10T13:00:00.000Z,o8,u7,,false,USD,li8,Salads,Tiny Salad,0.5,3
      |alltown,r1,2023-03-10T14:00:00.000Z,o9,u8,,false,USD,li9,Salads,Free Salad,,3
      |alltown,r1,2023-03-10T15:00:00.000Z,o10,u9,,false,USD,li10,Salads,One Salad,12.0,1
      |alltown,r1,2023-03-10T16:00:00.000Z,o11,u10,,false,USD,li11,Salads,Bulk Salad,12.0,50
      |alltown,r2,2023-03-11T10:00:00.000Z,o12,u11,,true,USD,li12,Salads,Pricey Salad,95.0,3
      |alltown,r2,2023-03-11T11:00:00.000Z,o13,u12,,false,USD,li13,Salads,Odd Salad,95.0,40
      |""")

  private lazy val optionsCsv = writeCsv(fixtureDir, "order_item_options.csv",
    """order_id,lineitem_id,option_group_name,option_name,option_price,option_quantity
      |o1,li1,Salad Options,Extra Chicken,2.0,1
      |o4,li4,Drink Options,Discount,-1.0,1
      |""")

  private lazy val dateDimCsv = writeCsv(fixtureDir, "date_dim.csv",
    """date_key,year,month,week,day_of_week,is_weekend,is_holiday,holiday_name
      |08-03-2023,2023,3,10,Wednesday,false,false,
      |09-03-2023,2023,3,10,Thursday,false,false,
      |10-03-2023,2023,3,10,Friday,false,false,
      |11-03-2023,2023,3,10,Saturday,true,false,
      |""")

  // thresholds: pricey salad (li12) → 1 violation (price), odd salad (li13)
  // → 2 violations (price + qty) ⇒ high ⇒ quarantined
  private lazy val thresholds = Seq(
    ("r1", "salads", "caesar salad", 5.0, 20.0, 1, 10),
    ("r2", "salads", "pricey salad", 5.0, 20.0, 1, 10),
    ("r2", "salads", "odd salad", 5.0, 20.0, 1, 10)
  ).toDF("restaurant_id", "item_category", "item_name",
    "price_min", "price_max", "qty_min", "qty_max")

  private lazy val result = {
    val out = s"$fixtureDir/out"
    val r = PipelineRunner.run(spark, itemsCsv, optionsCsv, dateDimCsv, thresholds, out)
    (r, out)
  }

  test("transform: categories fixed, sizes extracted, names cleaned, test rows dropped") {
    val t = spark.read.parquet(s"${result._2}/transform/order_items")
    val byLi = t.collect().map(r => r.getAs[String]("lineitem_id") -> r).toMap
    assert(!byLi.contains("li6"), "(?i)test rows must be dropped")
    assert(byLi("li1").getAs[String]("item_category") == "salads")
    assert(byLi("li1").getAs[String]("item_size") == "16 oz")
    assert(byLi("li1").getAs[String]("item_name") == "caesar salad")
    assert(byLi("li2").getAs[String]("item_category") == "breakfast")
    assert(byLi("li3").getAs[String]("item_category") == "snacks")
    assert(byLi("li4").getAs[String]("final_category") == "juices & kombuchas drinks")
    assert(byLi("li5").getAs[String]("item_name") == "burger",
      "brand + size stripped from name")
    assert(byLi("li5").getAs[String]("final_category") == "burgers",
      "keyword reassignment")
    assert(byLi("li3").getAs[String]("user_id") == "_guest")
    assert(byLi("li1").getAs[String]("date_key") == "08-03-2023")
    assert(byLi("li1").getAs[String]("time") == "11:03:32")
  }

  test("transform: dictionary path equals the row-wise path row-for-row") {
    // The default strategy runs the regex chain once per DISTINCT
    // (item_category, item_name) and broadcast-joins back; dictionarize =
    // false is the per-row chain. Same fixture through both must produce
    // identical rows (schema AND values) — including the null-label rows,
    // which exercise the null-safe join keys.
    val raw = CsvSource.read(spark, itemsCsv)
    val dict = TransformJob(raw, MappingRules.default, dictionarize = true)
    val rowwise = TransformJob(raw, MappingRules.default, dictionarize = false)
    assert(dict.columns.toSeq == rowwise.columns.toSeq,
      s"schemas differ: ${dict.columns.toSeq} vs ${rowwise.columns.toSeq}")
    val key = dict.columns.indexOf("lineitem_id")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(key) -> r.toSeq).sortBy(_._1).toSeq
    assert(rows(dict) == rows(rowwise))
  }

  test("quality: rule quarantines, threshold severity, option + date enrichment") {
    val out = result._2
    val price = spark.read.parquet(s"$out/quality/price")
      .select("lineitem_id").as[String].collect().toSet
    assert(price == Set("li7", "li8", "li9"), s"price issues: $price") // >100, 0<p<1, null
    val qty = spark.read.parquet(s"$out/quality/quantity")
      .select("lineitem_id").as[String].collect().toSet
    assert(qty == Set("li10", "li11"), s"qty issues: $qty") // =1, >47

    val fin = spark.read.parquet(s"$out/final")
    val quar = spark.read.parquet(s"$out/quality/final")
    val finLis = fin.select("lineitem_id").as[String].collect().toSet
    val quarLis = quar.select("lineitem_id").as[String].collect().toSet
    assert(quarLis == Set("li13"), "2 threshold violations ⇒ high ⇒ quarantine")
    assert(finLis == Set("li1", "li2", "li3", "li4", "li5", "li12"))
    val byLi = fin.collect().map(r => r.getAs[String]("lineitem_id") -> r).toMap
    assert(byLi("li12").getAs[String]("severity") == "low")
    assert(byLi("li1").getAs[String]("severity") == "none")
    assert(byLi("li1").getAs[String]("option_name") == "Extra Chicken")
    assert(byLi("li2").getAs[String]("option_name") == "N/A", "missing option filled")
    assert(byLi("li1").getAs[Int]("year") == 2023, "date_dim enrichment")
    assert(byLi("li1").getAs[String]("order_key").length == 64, "sha2 surrogate")
  }

  test("metrics: revenue formula, ranking, discount flag, manifest") {
    val out = result._2
    // li1: option 2.0*1 + item 12.5*3 = 39.5
    val clv = spark.read.parquet(s"$out/metrics/clv")
    val u1 = clv.filter($"customer_id" === "u1").head()
    assert(u1.getAs[Double]("total_revenue") == 39.5)

    val top = spark.read.parquet(s"$out/metrics/top_locations")
    val r1 = top.filter($"restaurant_id" === "r1").head()
    // r1 final rows: li1 39.5, li2 16.0, li3 14.0, li12 is r2 ⇒ r1 total 69.5
    assert(r1.getAs[Double]("total_revenue") == 69.5)
    assert(r1.getAs[Int]("rank") == 2, "r2 (li4 7.0 + li5 28.0 + li12 285.0) ranks first")

    val disc = spark.read.parquet(s"$out/metrics/discount_effectiveness")
    assert(disc.filter($"is_discounted").count() == 1, "negative option price flags discount")

    val manifest = new String(Files.readAllBytes(Paths.get(result._1.manifestPath)))
    assert(manifest.contains("\"stage\":\"quality_final\""))
    assert(result._1.stages.map(_.stage).count(_.startsWith("metrics_")) == 11)
  }

  test("manifest rows, observed during each write, equal the rows on disk") {
    // the count now comes from the write's own observation; this is the
    // property the removed parquet re-count used to give
    val stages = result._1.stages
    assert(stages.size == 17, stages.map(_.stage))
    stages.foreach { s =>
      assert(s.rows == spark.read.parquet(s.path).count(), s"${s.stage} at ${s.path}")
    }
    assert(stages.find(_.stage == "quality_final").get.rows == 6L)
    assert(stages.find(_.stage == "quality_quarantine").get.rows == 1L)
  }

  test("one SQL execution per layer write: no emptiness probe, no re-count") {
    // Pinned total for a run whose layers are all non-empty: the 17 layer
    // writes, two per `CsvSource.read` of the 3 landing CSVs (Spark's CSV
    // schema resolution takes the header line, then plans a tokenising
    // pass even with inferSchema off) and the clvBuckets `localCheckpoint`
    // build. A reintroduced probe or re-count adds one execution per layer.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val tag = "pipeline-execution-count" // counts only this thread's executions
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobTags.contains(tag) =>
          starts.add(s.description)
        case _ =>
      }
    }
    val out = Files.createTempDirectory("graft-jobs").toString
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    val r = try {
      val run = PipelineRunner.run(spark, itemsCsv, optionsCsv, dateDimCsv, thresholds, out)
      org.apache.spark.graft.ListenerDrain(sc)
      run
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
    assert(r.stages.size == 17 && r.stages.forall(_.rows > 0))
    assert(starts.size == 17 + 2 * 3 + 1, starts.toArray.mkString("\n"))
  }

  test("run manifest is valid JSON when the output root holds quote and backslash") {
    val out = Files.createTempDirectory("graft-manifest").toString + "/we\"ird\\root"
    val r = PipelineRunner.run(spark, itemsCsv, optionsCsv, dateDimCsv, thresholds, out)
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(Paths.get(r.manifestPath)))
    assert(parsed.size == r.stages.size)
    r.stages.zipWithIndex.foreach { case (s, i) =>
      val n = parsed.get(i)
      assert(n.get("stage").asText == s.stage)
      assert(n.get("rows").asLong == s.rows)
      assert(n.get("path").asText == s.path && s.path.startsWith(out))
    }
  }

  test("S10 archival + empty-overwrite: landing CSVs move, re-runs can't leave stale data") {
    // own copies so the shared `result` fixtures stay untouched
    val dir = Files.createTempDirectory("graft-archival").toString
    def copy(src: String): String = {
      val dst = Paths.get(dir, Paths.get(src).getFileName.toString)
      Files.copy(Paths.get(src), dst)
      dst.toString
    }
    val (items, opts, dates) = (copy(itemsCsv), copy(optionsCsv), copy(dateDimCsv))
    val out = s"$dir/out"
    PipelineRunner.run(spark, items, opts, dates, thresholds, out,
      archiveTo = Some(s"$dir/processed"))
    assert(!Files.exists(Paths.get(items)), "landing CSV moved away")
    assert(Files.exists(Paths.get(s"$dir/processed/order_items.csv")),
      "landing CSV arrived under processed/")
    assert(Files.exists(Paths.get(s"$dir/processed/date_dim.csv")))

    assert(Files.exists(Paths.get(s"$out/metrics/clv/restaurant_id=r1")),
      "the first run leaves restaurant_id partitions for the re-run to clear")

    // re-run over the same outRoot with input that transforms to ZERO rows:
    // every output layer must be overwritten empty, not left stale
    val allTest = writeCsv(dir, "all_test.csv",
      """app_name,restaurant_id,creation_time_utc,order_id,user_id,printed_card_number,is_loyalty,currency,lineitem_id,item_category,item_name,item_price,item_quantity
        |alltown,r1,2023-03-08T11:03:32.223Z,o1,u1,,true,USD,li1,TEST stuff,Item,5.0,2
        |""")
    val r2 = PipelineRunner.run(spark, allTest, s"$dir/processed/order_item_options.csv",
      s"$dir/processed/date_dim.csv", thresholds, out)
    assert(r2.stages.find(_.stage == "landing_items").get.rows == 1L)
    val downstream = r2.stages.filterNot(_.stage == "landing_items")
    assert(downstream.size == 16)
    downstream.foreach { s =>
      assert(s.rows == 0L, s"${s.stage} manifest rows")
      assert(spark.read.parquet(s.path).count() == 0,
        s"stale ${s.stage} rows must be cleared on an empty re-run")
    }
  }

  test("S10 copy+verify+delete archival works where rename is unsupported") {
    // NoRenameFs models an object-store connector: every rename fails.
    // CopyVerifyDelete must still archive (it never renames); Rename mode
    // must fail loudly instead of silently losing or duplicating data.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.norename.impl", classOf[NoRenameFs].getName)
    conf.setBoolean("fs.norename.impl.disable.cache", true)
    val dir = Files.createTempDirectory("graft-cvd").toString
    Files.createDirectories(Paths.get(s"$dir/landing"))
    Files.write(Paths.get(s"$dir/landing/a.csv"), "x,y\n1,2\n".getBytes)
    Files.write(Paths.get(s"$dir/landing/b.csv"), "x,y\n3,4\n".getBytes)
    // pre-existing same-named archive copy: must be overwritten, not fail
    Files.createDirectories(Paths.get(s"$dir/processed"))
    Files.write(Paths.get(s"$dir/processed/a.csv"), "stale".getBytes)

    val moved = PipelineRunner.archiveLanding(spark,
      s"norename://$dir/landing", s"norename://$dir/processed",
      PipelineRunner.ArchiveMode.CopyVerifyDelete)
    assert(moved.size == 2)
    assert(!Files.exists(Paths.get(s"$dir/landing/a.csv")), "source deleted after verify")
    assert(new String(Files.readAllBytes(Paths.get(s"$dir/processed/a.csv"))) ==
      "x,y\n1,2\n", "stale archive copy overwritten with verified content")
    assert(new String(Files.readAllBytes(Paths.get(s"$dir/processed/b.csv"))) ==
      "x,y\n3,4\n")

    // Rename mode on the same FS: loud failure, source intact
    Files.write(Paths.get(s"$dir/landing/c.csv"), "x\n9\n".getBytes)
    val e = intercept[java.io.IOException] {
      PipelineRunner.archiveLanding(spark,
        s"norename://$dir/landing", s"norename://$dir/processed",
        PipelineRunner.ArchiveMode.Rename)
    }
    assert(e.getMessage.contains("rename failed"))
    assert(Files.exists(Paths.get(s"$dir/landing/c.csv")), "source preserved on failure")
  }

  test("consumer views: top-k, RFM merges, partition-pruned drill-down") {
    val views = new ConsumerViews(spark, s"${result._2}/metrics")
    val top = views.topRestaurants(k = 1).head()
    assert(top.getAs[String]("restaurant_id") == "r2", "r2 has the higher revenue")

    val merged = views.rfmWithClv()
    assert(merged.columns.contains("segment") && merged.columns.contains("clv_bucket"))
    assert(merged.count() > 0)
    assert(views.rfmWithActivity().columns.contains("activity_tag"))

    val drill = views.restaurantTrends("r1")
    val plan = drill.queryExecution.executedPlan.toString
    assert(plan.contains("restaurant_id"), "partition filter present")
    assert(drill.select("restaurant_id").distinct().head().getString(0) == "r1")

    // sidebar id-set union (go_streamlit.py:204-207): sorted distinct union
    // of the rfm and clv layers' restaurant ids
    val ids = views.restaurantIds().as[String].collect()
    assert(ids.toSeq == ids.sorted.toSeq && ids.distinct.length == ids.length)
    assert(ids.toSet == Set("r1", "r2"))

    // recency-sorted customer list (go_streamlit.py:244-246): one
    // restaurant, freshest customers first
    val custs = views.customersByRecency("r1")
    assert(custs.select("restaurant_id").distinct().head().getString(0) == "r1")
    val rec = custs.select("recency").as[Int].collect()
    assert(rec.toSeq == rec.sorted.toSeq, "ascending recency = freshest first")
    assert(rec.nonEmpty)
  }
}
