package graft.queries

import graft.{Oracles, QueryDef}
import graft.core.Tables
import graft.ops.PageRank
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Graph analytics over the transaction schema — the iterative-numeric
  * sibling of q76's connected components.
  */
object GraphQ {

  /** q92 — 3-iteration PageRank over the part↔supplier transaction graph
    * (distinct lineitem pairs; supplier ids offset into a disjoint node-id
    * space). The loop is fixed-point BIGINT micro-units with half-up
    * integer division (see [[graft.ops.PageRank]]) so the DuckDB
    * chained-CTE oracle reproduces every step bit-for-bit — per-step
    * double rounding provably flips .5 boundaries between engines.
    */
  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val edges = t.lineitem.select(
      col("l_partkey").as("src"),
      (col("l_suppkey") + lit(10000000L)).as("dst"))
    PageRank.run(edges, "src", "dst", iterations = 3)
  }

  private val pagerankSql = {
    // one fixed-point PR step: half-up integer contribution divide,
    // integer damping; HUGEINT sums cast back to BIGINT
    def step(prev: String, i: Int): String =
      s"""c$i AS (
         |  SELECT e.dst AS node,
         |    CAST(SUM((2 * r.rank_u + e.deg) // (2 * e.deg)) AS BIGINT) AS s_u
         |  FROM e JOIN $prev r ON e.src = r.node GROUP BY 1),
         |r$i AS (
         |  SELECT node, 150000 + (85 * s_u + 50) // 100 AS rank_u FROM c$i)""".stripMargin
    s"""WITH e0 AS (
       |  SELECT DISTINCT l_partkey AS src, l_suppkey + 10000000 AS dst
       |  FROM lineitem),
       |sym AS (
       |  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY 1),
       |e AS (SELECT sym.src, sym.dst, deg.deg FROM sym JOIN deg USING (src)),
       |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank_u FROM deg),
       |${step("r0", 1)},
       |${step("r1", 2)},
       |${step("r2", 3)}
       |SELECT node, CAST(rank_u AS BIGINT) AS rank_u,
       |  rank_u / 1000000.0 AS rank
       |FROM r3""".stripMargin
  }

  /** q126 — triangle count + global clustering coefficient over the part
    * CO-PURCHASE graph (parts sharing an order; per-order pair expansion
    * through [[graft.ops.Dedup.candidatePairs]]' capped bucket-collect
    * shape — an order is a "bucket", so the expansion is bounded per
    * task and never a relation self-join).
    *
    * Triangle enumeration uses DEGREE-ORDERED orientation: each edge
    * points from lower (degree, id) to higher, so every out-adjacency is
    * O(√m) even on power-law graphs — the bound that makes the
    * wedge-close join survive hot vertices at 100 TB (id-ordering would
    * fan a celebrity vertex's full neighborhood into one join key).
    * Wedges = two out-edges of one source; a wedge (v, w) closes iff the
    * oriented edge v→w exists. Every triangle has exactly ONE vertex
    * with two out-edges inside it, so each is counted once.
    *
    * The oracle counts triangles with the plain id-ordered a<b<c
    * self-join — a DIFFERENT enumeration of the same invariant totals
    * (triangle count, edge count, wedge count are orientation-free), so
    * agreement cross-checks the oriented algorithm rather than mirroring
    * it. All counts exact BIGINT; the clustering coefficient is one
    * rounded division at the end.
    */
  /** Co-purchase pairs (a<b) WITH their basket co-occurrence count, built
    * once per (session, sf) and persisted — the ONE per-order pair
    * expansion the whole family rides: q126/q137 project the distinct
    * edge set off it, q131 filters it by min support. Before round 8,
    * q131 ran its own `candidatePairsWithCount` expansion while q126/q137
    * shared a count-free `candidatePairs` memo, so every suite pass (and
    * every Verify run, whatever its concurrent interleaving) paid the
    * full lineitem expansion TWICE.
    *
    * Bucket-cap contract: the expansion inherits the default
    * `maxBucketSize = 4096`, so an order with more distinct parts than the
    * cap contributes NO edges. Every oracle over this graph (q126, q131,
    * q137) mirrors the cap with a `bsz` bucket-size CTE — the q37/q77
    * convention — so an over-cap order is dropped identically on both
    * sides instead of silently diverging.
    */
  private def copurchasePairCounts(spark: SparkSession, dir: String): DataFrame =
    graft.core.Memo.cached(spark, s"copurchase-paircnt:$dir") {
      // session parquet artifact: the family's consumers plan over one
      // spread scan of the pair table, never the per-order expansion
      val t = Tables(spark, dir)
      val lp = t.lineitem.select(
        lit(0).as("band"), col("l_orderkey").cast("string").as("band_key"),
        col("l_partkey").as("p"))
      graft.core.Scratch.parquet(spark, graft.ops.Dedup.candidatePairsWithCount(lp, "p"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Distinct co-purchase edges (a<b): a narrow projection of the
    * memoized pair-count table (already distinct by construction — the
    * count agg groups by pair), so it costs one in-memory pass, never a
    * second expansion.
    */
  private def copurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    copurchasePairCounts(spark, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))

  /** Shared degree + degree-oriented edge artifact (one memo, persisted):
    * q126 consumes both for triangle counting; q137 derives its symmetric
    * adjacency and hub seed from the SAME artifact instead of re-running
    * its own degree aggregation over a rebuilt symmetric edge table —
    * the round-9 verdict's graph-family residual was exactly this
    * duplicated build work (item 3).
    */
  private def degAndOriented(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    // deg AND eo both persist (one memo): without the deg persist, the
    // tiny stats branch re-ran the FULL per-order pair expansion just to
    // re-derive degrees — one whole extra pass over the edge build
    graft.core.Memo.cached(spark, s"q126-graph:$dir") {
      // the oriented-edge table is the second session artifact: its
      // consumers plan over a spread parquet scan, not the pair expansion
      // plus two degree joins
      val e = copurchaseEdges(spark, dir)
      val dg0 = e.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
      // orient a↔b toward the higher (degree, id); rank carried as a struct
      val ranked = graft.core.Scratch.parquet(spark,
        e.join(dg0.select(col("v").as("a"), col("d").as("da")), Seq("a"))
          .join(dg0.select(col("v").as("b"), col("d").as("db")), Seq("b"))
          .select(
            when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
              struct(col("a").as("id"), col("b").as("oid")))
              .otherwise(struct(col("b").as("id"), col("a").as("oid")))
              .as("o"))
          .select(col("o.id").as("src"), col("o.oid").as("dst")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // degrees re-derived from the oriented table (src∪dst explode): one
      // in-memory pass over the artifact, never a second pair expansion
      val dg = ranked.select(explode(array(col("src"), col("dst"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (dg, ranked)
    }

  def triangles(spark: SparkSession, dir: String): DataFrame = {
    val (deg, eo) = degAndOriented(spark, dir)
    // compact-forward counting: for each oriented edge (u,v), triangles
    // through it = |N⁺(u) ∩ N⁺(v)| (each triangle counted exactly once, at
    // its unique out-degree-2 vertex). Joining per-source adjacency ARRAYS
    // (bounded O(√m) by the orientation) moves ~|E| rows instead of
    // materializing every wedge — the wedge-join formulation shuffled
    // ~138M wedge rows at sf0.1 and cost 2× this plan
    val adj = eo.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nb"))
    val tri = eo.select(col("src"), col("dst"))
      .join(adj.select(col("src"), col("nb").as("nu")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nb").as("nv")), Seq("dst"))
      .agg(sum(size(array_intersect(col("nu"), col("nv")))).cast("long")
        .as("n_triangles"))
    val stats = deg.agg(
      (sum(col("d")) / 2).cast("long").as("n_edges"),
      sum(col("d") * (col("d") - 1) / 2).cast("long").as("n_wedges"))
    stats.crossJoin(broadcast(tri))
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
          .as("global_clustering"))
  }

  private val trianglesSql = Oracles("graph", "triangles")

  /** q131 — association rules over order baskets (the recsys/market-basket
    * step downstream of q126's co-purchase edges): for part pairs
    * co-occurring in ≥ 3 orders, support / confidence / lift from exact
    * integer counts — pair counts via the same capped bucket-collect
    * expansion (per-order, never a basket self-join), per-part order
    * counts as one hash agg broadcast back, basket total as a 1-row
    * broadcast. Emitted per DIRECTION (a→b and b→a differ in
    * confidence), top-20 by (lift, antecedent, consequent) with every
    * ratio rounded(6) AFTER ranking on the exact integers.
    *
    * Overflow bound: `n_pair·n_baskets·10⁶` stays in int64 while
    * basket count × pair count < ~9·10¹² — beyond that (trillion-basket
    * corpora) the micro-lift moves to DECIMAL(38,0); the comparison
    * semantics are unchanged.
    */
  def associationRules(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // checkpoint: this frame feeds TWO broadcast builds (antecedent and
    // consequent sides) and broadcast builds don't share exchanges — the
    // distinct+agg over lineitem executed twice (q151/q139 precedent).
    // Part-grain rows, broadcast-sized by the query's own contract.
    val basketsOfPart = t.lineitem
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_part"))
      .localCheckpoint(true)
    val nBaskets = t.lineitem.agg(
      countDistinct(col("l_orderkey")).as("n_baskets"))
    val pairCounts = copurchasePairCounts(spark, dir)
      .filter(col("n_pair") >= 3)
    val directed = pairCounts.select(
        col("doc_a").as("antecedent"), col("doc_b").as("consequent"), col("n_pair"))
      .unionByName(pairCounts.select(
        col("doc_b").as("antecedent"), col("doc_a").as("consequent"), col("n_pair")))
    directed
      .join(broadcast(basketsOfPart.select(col("l_partkey").as("antecedent"),
        col("n_part").as("n_ante"))), Seq("antecedent"))
      .join(broadcast(basketsOfPart.select(col("l_partkey").as("consequent"),
        col("n_part").as("n_cons"))), Seq("consequent"))
      .crossJoin(broadcast(nBaskets))
      // rank on exact integers (lift ∝ n_pair·N/(n_ante·n_cons) — compare
      // as cross-multiplied BIGINTs? a/b vs c/d ranking needs one global
      // order; n_pair·N and n_ante·n_cons fit long, ratio ties broken by
      // ids, and the ROUNDED double agrees with the oracle's
      .withColumn("lift_u", expr(
        "(n_pair * n_baskets * CAST(1000000 AS BIGINT)) div (n_ante * n_cons)"))
      .orderBy(col("lift_u").desc, col("antecedent"), col("consequent"))
      .limit(20)
      .select(col("antecedent"), col("consequent"), col("n_pair"),
        col("n_ante"), col("n_cons"),
        round(col("n_pair").cast("double") / col("n_baskets"), 6).as("support"),
        round(col("n_pair").cast("double") / col("n_ante"), 6).as("confidence"),
        col("lift_u"))
  }

  private val associationRulesSql = Oracles("graph", "associationRules")

  /** q137 — bounded BFS: hop distance (≤ 4) from the top-degree hub of
    * the co-purchase graph — the "blast radius" / influence-neighborhood
    * question (recall sets for recommendations, contamination spread).
    * Same iterative discipline as [[graft.ops.Dedup.connectedComponents]]
    * and PageRank: one join + min-aggregate per round over a
    * localCheckpoint'd frontier (lineage truncated, rounds = hop bound,
    * each round one shuffle on the node key). The hub is the max-degree
    * node (min id on ties) selected via `orderBy.limit(1)` —
    * TakeOrderedAndProject, not a global window. The oracle is an
    * independent RECURSIVE-CTE BFS with UNION dedup, so the iterative
    * min-plus loop is cross-checked by a different algorithm.
    */
  def bfsHops(spark: SparkSession, dir: String): DataFrame = {
    // Ride the q126 memo instead of building a second graph: the oriented
    // edge table eo contains each undirected edge exactly once, so its
    // union with its own reversal IS the symmetric adjacency, and deg
    // (count of symmetric neighbors per vertex) is exactly the degree the
    // hub seed needs — no re-aggregation, no extra checkpoint of a
    // rebuilt edge table. sym itself stays un-checkpointed: it is a
    // narrow projection over the persisted eo, so each round re-derives
    // it from cache for free and its lineage never grows.
    val (deg, eo) = degAndOriented(spark, dir)
    val sym = eo.select(col("src"), col("dst"))
      .unionByName(eo.select(col("dst").as("src"), col("src").as("dst")))
    val hub = deg.orderBy(col("d").desc, col("v")).limit(1)
      .select(col("v").as("node"), lit(0).as("hops"))
    // Frontier/visited are ≤ node-sized and both sides of every round's
    // joins are latency-critical: un-hinted, the planner broadcasts SYM
    // (the only side with known stats — frontier/visited are checkpointed
    // LogicalRDDs, unknown size → never auto-broadcast), which re-collects
    // the edge cache to the driver EVERY round and shuffles the anti-join
    // both ways (r19 stage logs: 30+ stages, wall 2× the compute). When
    // the node count is small enough to broadcast safely, hint the tiny
    // frames instead: per-round broadcasts become a 1-partition collect,
    // sym is only ever probed map-side, and the anti-join goes map-side
    // too (q137 3.6 → 2.4 s at sf0.1). Past the threshold (~16 MB of
    // packed longs) the hints drop away and the loop keeps the
    // scale-correct shuffle joins — a 100 TB graph's 4-hop ball cannot
    // ride a broadcast. The count is a control-plane scalar over the
    // persisted degree table (A14 pattern, one cached-scan job).
    val nNodes = deg.agg(count(lit(1)).as("n")).first().getLong(0)
    val hintTiny = nNodes <= 2000000L
    def tiny(df: DataFrame): DataFrame = if (hintTiny) broadcast(df) else df
    // frontier-only expansion (not min-plus over the full table): each
    // round joins ONLY the nodes first reached last round and anti-joins
    // the visited set — on dense graphs the frontier collapses after the
    // first hops and later rounds are near-free, where a full min-plus
    // re-aggregation would keep paying for every settled node.
    //
    // Only `next` is checkpointed each round (the one frame whose lineage
    // would otherwise nest): `visited` is a union of ≤5 already-
    // checkpointed frames, so re-checkpointing it every round was a pure
    // extra materialization job ×4 — half the loop's job count.
    val hubCp = hub.localCheckpoint(true)
    var visited: DataFrame = hubCp
    var frontier = hubCp.select(col("node"))
    (1 to 4).foreach { i =>
      val next = tiny(frontier).join(sym, frontier("node") === sym("src"))
        .select(sym("dst").as("node")).distinct()
        .join(tiny(visited.select(col("node"))), Seq("node"), "left_anti")
        .withColumn("hops", lit(i))
        .localCheckpoint(true)
      frontier = next.select(col("node"))
      visited = visited.unionByName(next)
    }
    visited
  }

  private val bfsHopsSql = Oracles("graph", "bfsHops")

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q92_pagerank", pagerank, Some(pagerankSql)),
    QueryDef("q126_triangles", triangles, Some(trianglesSql)),
    QueryDef("q131_association_rules", associationRules, Some(associationRulesSql)),
    QueryDef("q137_bfs_hops", bfsHops, Some(bfsHopsSql)),
  )
}
