package graft.core

import graft.{SparkEntry, SparkTestBase}

/** Cache-loss chaos for the Memo layer's multi-reader chains (VERDICT r17
  * item 5, generalizing RankingSpec's mid-query block eviction): the
  * dedup family memoizes two expensive artifacts — q37's candidate-pair
  * set and q76's connected components — and LATER registered queries
  * (q76 reads the pairs, q136 reads the components) consume them through
  * the retained memo entry. On a real cluster an executor loss drops the
  * cached BLOCKS while the memo (driver-side) keeps handing out the same
  * lazy DataFrame — so a consumer arriving after the loss recomputes
  * through the retained lineage. This spec simulates total block loss
  * between each reader and asserts every reader still matches the
  * no-chaos truth row-for-row.
  *
  * The band-pair and component links write their builds as session
  * parquet artifacts ([[Scratch.parquet]]), one per memo build: the chaos
  * phase's fresh memos write their own artifacts, so nothing the truth
  * phase produced can serve the chaos phase's recompute.
  */
class MemoEvictionChaosSpec extends SparkTestBase {

  // the memo chain under chaos: q37 builds `q37-pairs`, q76 consumes it
  // and builds `q76-components`, q136 consumes the components
  private val chain = Seq(
    "q37_minhash_pairs", "q76_neardup_components", "q136_quality_survivor")

  // compare on non-floating columns only (ADVICE r18): a different
  // partial-aggregation merge order across the two end-to-end recomputes
  // could flip a last-ulp digit of a double and flake the string compare;
  // the chain's keys/counts/integer-micro logits are the identity anyway
  private def canon(name: String): Seq[String] = {
    val df = SparkEntry.queries(name)(spark, sf)
    val stable = df.schema.fields.filterNot(f =>
      f.dataType == org.apache.spark.sql.types.DoubleType ||
        f.dataType == org.apache.spark.sql.types.FloatType).map(_.name)
    df.select(stable.map(org.apache.spark.sql.functions.col).toSeq: _*)
      .collect().map(_.toString).sorted.toSeq
  }

  test("dedup memo chain survives total cached-block loss between readers") {
    try {
      // truth: cold builds, fresh memos
      Memo.release(spark)
      val want = chain.map(n => n -> canon(n)).toMap

      // chaos: fresh memos (and with them fresh artifacts); after each
      // reader materializes, drop EVERY cached block before the next reader.
      //
      // SCOPE (ADVICE r18, adjudicated r19): within this phase, the
      // artifact-backed links (q76's components, the band-pairs layer)
      // recover through their own session parquet artifacts, so only
      // the plain-persist links (q37's pairs) recompute through raw
      // lineage. That split is the ENGINE'S ACTUAL durability design,
      // not a spec gap: the iterative links localCheckpoint their rounds
      // (lineage deliberately truncated — a localCheckpoint block is
      // not recomputable, by Spark contract), and the parquet artifact
      // IS their cross-reader durability story. An r19 variant that
      // skipped the artifact failed precisely there —
      // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on the evicted component
      // rounds — confirming pure-lineage recovery is NOT a property
      // these links have or claim. What this test pins: the memo layer
      // serves correct rows to late readers after total block loss,
      // through whichever recovery path each link owns.
      Memo.release(spark)
      val got = chain.map { n =>
        val r = canon(n)
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        n -> r
      }.toMap

      chain.foreach { n =>
        assert(got(n).length == want(n).length,
          s"$n lost/gained rows after block eviction: " +
            s"${got(n).length} vs ${want(n).length}")
        assert(got(n) == want(n),
          s"$n diverged from the no-chaos truth after block eviction")
      }
    } finally {
      // later suites must not inherit evicted-but-retained memo entries
      Memo.release(spark)
    }
  }
}
