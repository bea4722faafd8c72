package graft.queries

import graft.{Oracles, QueryDef}
import graft.core.Tables
import graft.ops.Similarity
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Similarity-search query surface over `embeddings` (64-dim float
  * vectors): brute-force cosine top-k baseline, embedding-cosine near-dup
  * pairs, and the hyperplane-LSH near-dup scale path — all
  * DuckDB-oracle-checked (the LSH oracle reproduces the md5-derived
  * hyperplanes in SQL, so both engines bucket identically).
  */
object SimilarityQ {

  /** Brute-force cosine top-10 for query vectors vec_id < 20. */
  def annTopK(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val all = t.embeddings.select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.bruteForceTopK(all.filter(col("id") < 20), all, k = 10)
  }

  private val annTopKSql = Oracles("similarity", "annTopK")

  /** Exact embedding-cosine near-duplicate pairs (cosine ≥ 0.35 — chosen
    * above the corpus's p99.9 pairwise cosine so the output is the
    * interesting tail, not empty and not quadratic).
    *
    * DECLARED BASELINE-ONLY: this is the O(N²) crossJoin ground truth that
    * the LSH recall specs and `q77_lsh_neardup` are measured against. It is
    * oracle-gated at small SF for exactness, but it is NOT the shape to run
    * at scale — the 100-TB near-dup path is [[lshNearDup]] (q77), whose
    * bucket equi-join replaces the full pair space.
    */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    Similarity.exactNearDupPairs(
      t.embeddings.select(col("vec_id").as("id"), col("embedding").as("vec")),
      minCosine = 0.35)
  }

  private val embeddingNearDupSql = Oracles("similarity", "embeddingNearDup")

  /** Hyperplane-LSH near-dup pairs — the SCALE path, oracle-gated:
    * corpus-adaptive signature width (see [[adaptiveLshBits]]), exact
    * cosine only within equal buckets, cosine ≥ 0.35, buckets capped at
    * 4096 ids (the [[graft.ops.Similarity.lshNearDupPairs]] hot-bucket
    * guard — mirrored in the oracle's `bsz` CTE exactly as q37 mirrors
    * the MinHash cap). The oracle rebuilds the identical hyperplanes in
    * SQL from the same md5 derivation (`Similarity.planeComponent`:
    * `('0x' || substring(md5('plane{i}:{j}'), 1, 8))::BIGINT / 2^32 - 0.5`),
    * AND the identical bit-count formula from its own COUNT(*), so Spark
    * and DuckDB compute bit-identical projections, signatures, buckets,
    * and therefore the same approximate pair set at EVERY scale.
    */
  /** numBits = smallest b ≥ 4 with 512·2ᵇ ≥ n: bucket count grows ∝
    * corpus so the expected bucket size (and with it the per-bucket
    * quadratic pair expansion) stays ~constant — total candidate-pair
    * cost stays LINEAR in n. With bits FIXED at 4, a 26× corpus measured
    * 115× the wall time (622 s — every bucket just under the 4096 cap,
    * ~87M candidate pairs), and one more decade would push every bucket
    * OVER the cap and silently drop all recall. At the gate SFs (≤2 000
    * vectors) the formula floors at 4 bits, so graded buckets are
    * unchanged. Deliberately INTEGER arithmetic (doubling loop here, a
    * binary-digit-count expression in the oracle) — a float ⌈log₂⌉ can
    * disagree across engines by one ULP exactly at power-of-two corpus
    * sizes, which would silently diverge the bucket sets. The
    * single-table recall/width trade is documented on the op: production
    * systems amplify recall with multiple tables; cost per table is what
    * must stay linear.
    */
  private def adaptiveLshBits(n: Long): Int = {
    var b = 4
    while ((512L << b) < n) b += 1
    b
  }

  /** Memoized LSH near-dup pair set, shared by q77 (the pair listing) and
    * q193 (the split-leakage audit) — one band build per (session, dir).
    * The corpus count() is a one-scalar control-plane action, paid once
    * per memo build (the same class as the incremental-ingest watermark).
    */
  private def lshPairs(spark: SparkSession, dir: String): DataFrame =
    graft.core.Memo.cached(spark, s"q77-pairs:$dir") {
      // session parquet artifact: q77 and q193 read the scored pairs, not
      // the signature build + one-bucket streaming score
      graft.core.Scratch.parquet(spark, lshPairsBuild(Tables(spark, dir).embeddings))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** The LSH pair build behind [[lshPairs]], before materialization —
    * exposed so PlanShapeSpec pins the build plan, which the artifact's
    * parquet read-back hides.
    */
  private[graft] def lshPairsBuild(embeddings: DataFrame): DataFrame =
    Similarity.lshNearDupPairs(
      embeddings.select(col("vec_id").as("id"), col("embedding").as("vec")),
      numBits = adaptiveLshBits(embeddings.count()),
      minCosine = 0.35, dim = 64, maxBucketSize = 4096)

  def lshNearDup(spark: SparkSession, dir: String): DataFrame =
    lshPairs(spark, dir)

  private val lshCtes =
    """WITH v AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS dv FROM embeddings
      |), n AS (
      |  SELECT vec_id, dv, sqrt(list_dot_product(dv, dv)) AS nrm FROM v
      |), nb AS (
      |  -- smallest b >= 4 with 512*2^b >= COUNT(*) — the same INTEGER
      |  -- formula as SimilarityQ.adaptiveLshBits (binary digit count of
      |  -- (n-1)/8192), never a float log2 (ULP-divergence at powers of 2)
      |  SELECT CASE WHEN COUNT(*) <= 8192 THEN 4
      |              ELSE 4 + LENGTH(FORMAT('{:b}', (COUNT(*) - 1) // 8192))
      |         END AS bits
      |  FROM v
      |), planes AS (
      |  SELECT i, list_transform(range(0, 64), j ->
      |    ('0x' || substring(md5('plane' || i || ':' || j), 1, 8))::BIGINT
      |      / 4294967296.0 - 0.5) AS plane
      |  FROM (SELECT unnest(range(0, (SELECT bits FROM nb))) AS i)
      |), sigs AS (
      |  SELECT v.vec_id,
      |    sum(CASE WHEN list_dot_product(v.dv, p.plane) >= 0
      |        THEN (1::BIGINT << p.i) ELSE 0 END) AS sig
      |  FROM n v CROSS JOIN planes p GROUP BY v.vec_id
      |), bsz AS (
      |  SELECT sig, count(*) AS n FROM sigs GROUP BY sig
      |)""".stripMargin

  private val lshNearDupSql = Oracles("similarity", "lshNearDup",
    "lshCtes" -> String.valueOf(lshCtes))

  /** q102 — the 64×64 upper-triangle Gramian of the embedding corpus (the
    * PCA/covariance prerequisite and embedding-health diagnostic), via
    * [[graft.ops.Gramian]]: partition-local fixed-point accumulators, one
    * tiny integer merge — never an N·d² pair explosion. The oracle expands
    * terms relationally (fine at sf0.01) and must land on the SAME
    * micro-unit integers.
    */
  def embeddingGramian(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    graft.ops.Gramian.upperTriangle(t.embeddings, "embedding", dim = 64)
  }

  private val embeddingGramianSql = Oracles("similarity", "embeddingGramian")

  /** q222 — EFFECTIVE RANK of the embedding space (participation ratio):
    * `PR = trace(G)² / ‖G‖²_F = (Σλ)²/Σλ²` over the q102 Gramian — the
    * eigendecomposition-free "how many dimensions is this embedding
    * really using" number (PR ≈ dim: isotropic; PR ≈ 1: collapsed to a
    * line — the embedding-collapse failure retrieval/ANN quality audits
    * like q210 can't see, because ranking survives collapse longer than
    * geometry does).
    *
    * Determinism: the Gramian is q102's micro-unit integer matrix;
    * trace, squared Frobenius mass (diag + 2·off-diag), and the final
    * milli-dimension ratio are exact integer arithmetic — the squares
    * route through DECIMAL(38,0)/HUGEINT (the q204 overflow recipe:
    * gram_u² ~ 10²⁰ exceeds int64).
    *
    * Scale shape: everything downstream of the Gramian runs on the
    * 2 080-row upper triangle — two 1-row aggregates and a broadcast
    * combine; the Gramian itself is the q102 partition-local fold
    * (never an N·d² explosion).
    */
  def effectiveRank(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val g = graft.ops.Gramian.upperTriangle(t.embeddings, "embedding", dim = 64)
    val tr = g.filter(col("i") === col("j"))
      .agg(sum(col("gram_u")).as("trace_u"))
    val fro = g.agg(sum(
      when(col("i") === col("j"),
        col("gram_u").cast("decimal(38,0)") * col("gram_u"))
        .otherwise(col("gram_u").cast("decimal(38,0)") * col("gram_u") * 2))
      .as("fro2"))
    val n = t.embeddings.agg(count(lit(1)).as("n_vecs"))
    n.crossJoin(broadcast(tr)).crossJoin(broadcast(fro))
      .select(col("n_vecs"), lit(64L).as("dim"), col("trace_u"),
        expr("CAST((CAST(trace_u AS DECIMAL(38,0)) * trace_u * 1000) div fro2 AS BIGINT)")
          .as("pr_milli"))
  }

  private val effectiveRankSql = Oracles("similarity", "effectiveRank")

  /** q226 — PER-LABEL effective rank: q222's participation ratio computed
    * inside each label class (the embeddings carry an int label). The
    * global PR (q222) can look healthy while a single class has
    * collapsed onto a line — exactly the failure a per-class retrieval
    * or contrastive objective hits first, and the reason embedding
    * audits report anisotropy per class, not just in aggregate. Output:
    * one row per label with its vector count, trace, and PR.
    *
    * Determinism: identical to q222 — the per-label Gramian is exact
    * micro-unit integers ([[graft.ops.Gramian.upperTriangleBy]], one
    * accumulator per (partition, label)), trace/Frobenius/ratio are
    * integer arithmetic with the squares in DECIMAL(38,0)/HUGEINT (the
    * q204 overflow recipe).
    *
    * Scale shape: ONE corpus scan folds all labels' Gramians
    * partition-locally (shuffle = partitions × labels × 2 080 tiny
    * rows); everything downstream runs on the labels × 2 080 cell
    * table — three label-keyed aggregates and two tiny joins. Label
    * cardinality bounds the per-partition accumulator map (10 here;
    * the op's scaladoc names the posexplode fallback for key spaces
    * where groups × d² stops being "tiny").
    */
  def labelEffectiveRank(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val g = graft.ops.Gramian
      .upperTriangleBy(t.embeddings, "label", "embedding", dim = 64)
    val tr = g.filter(col("i") === col("j"))
      .groupBy(col("label")).agg(sum(col("gram_u")).as("trace_u"))
    val fro = g.groupBy(col("label")).agg(sum(
      when(col("i") === col("j"),
        col("gram_u").cast("decimal(38,0)") * col("gram_u"))
        .otherwise(col("gram_u").cast("decimal(38,0)") * col("gram_u") * 2))
      .as("fro2"))
    val n = t.embeddings.groupBy(col("label").cast("int").as("label"))
      .agg(count(lit(1)).as("n_vecs"))
    n.join(tr, Seq("label")).join(fro, Seq("label"))
      .select(col("label"), col("n_vecs"), lit(64L).as("dim"), col("trace_u"),
        expr("CAST((CAST(trace_u AS DECIMAL(38,0)) * trace_u * 1000) div fro2 AS BIGINT)")
          .as("pr_milli"))
  }

  private val labelEffectiveRankSql = Oracles("similarity", "labelEffectiveRank")

  /** q154 — fixed-point Lloyd k-means (k=4, two update rounds) over the
    * embedding corpus: the clustering step corpus curation uses for
    * diversity sampling / topic balancing, done bit-deterministically.
    * Everything integer: vectors quantize to BIGINT micro-units (the
    * q102 convention), distances are exact Σ(aᵤ−bᵤ)² folds, the argmin
    * breaks ties on the lower cluster id, and the centroid mean uses a
    * +OFFSET shift before integer division so Spark's truncate-toward-
    * zero `div` and DuckDB's floor `//` agree on negative coordinates —
    * the PageRank half-up-divide lesson, adapted.
    *
    * Scale shape: assignment is MAP-SIDE — the k current centroids fold
    * into the plan as literal arrays (q122's literal-folding
    * discipline) and each vector computes k distances in one
    * `transform`+`aggregate` HOF chain with NO join; the update is one
    * posexplode + (cluster, dim) hash agg whose k·d = 256-value result
    * returns to the driver as the next round's literals (control-plane
    * scalars — the CC/IVF policy). Rounds are fixed (2), so the plan is
    * statically bounded; the quantized input is localCheckpoint'd once
    * and reused by all three passes instead of re-scanning parquet.
    * Oracle: an independent LONG-FORMAT relational k-means (explode
    * dims, join, window argmin) — a different formulation of the same
    * integer fixpoint, so agreement cross-checks the algorithm.
    */
  def kmeansEmbed(spark: SparkSession, dir: String): DataFrame =
    kmeansAssign(spark, dir)

  /** Memoized final k-means assignment (vec_id, cluster, dist_u) — one
    * Lloyd fixpoint per (session, dir), shared by q154 (the listing) and
    * q201 (SemDeDup's cluster scoping). The assignment is the expensive
    * artifact (3 assignment passes + 2 update shuffles + driver
    * control-plane rounds); consumers only re-scan the tiny result.
    */
  private def kmeansAssign(spark: SparkSession, dir: String): DataFrame =
   graft.core.Memo.cached(spark, s"q154-assign:$dir") {
    val t = Tables(spark, dir)
    val Off = 8000000L // > max |micro-unit| ⇒ shifted sums stay positive
    val u = t.embeddings.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
        .as("v"))
      .localCheckpoint(true)
    val seedIds = Seq(0L, 125L, 250L, 375L)

    def assign(cents: Seq[(Int, Seq[Long])]): DataFrame = {
      val entries = cents.map { case (cid, vs) =>
        s"named_struct('cid', $cid, 'cv', array(${vs.mkString("L,")}L))"
      }.mkString(",")
      u.withColumn("a", expr(
        s"""array_min(transform(array($entries), c -> named_struct(
           |  'dist', aggregate(zip_with(v, c.cv, (a, b) -> (a-b)*(a-b)),
           |                    0L, (acc, x) -> acc + x),
           |  'cid', c.cid)))""".stripMargin))
        .select(col("vec_id"), col("v"),
          col("a.cid").as("cluster"), col("a.dist").as("dist_u"))
    }
    def update(assigned: DataFrame): Seq[(Int, Seq[Long])] =
      assigned.select(col("cluster"), posexplode(col("v")).as(Seq("dim", "val")))
        .groupBy(col("cluster"), col("dim"))
        .agg(expr(s"(sum(val + ${Off}L) div count(1)) - ${Off}L").as("cv"))
        .collect()
        .groupBy(_.getInt(0)).toSeq
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
        }.sortBy(_._1)

    val seeds = u.filter(col("vec_id").isin(seedIds: _*)).collect()
      .sortBy(r => seedIds.indexOf(r.getLong(0))).zipWithIndex
      .map { case (r, i) => i -> r.getSeq[Long](1) }.toSeq
    val c1 = update(assign(seeds))
    val c2 = update(assign(c1))
    assign(c2).select(col("vec_id"), col("cluster"), col("dist_u"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
   }

  /** The k-means CTE chain, ending in `asg(vec_id, cluster, dist_u)` —
    * shared by the q154 oracle (a straight projection) and the q201
    * oracle (cluster scoping for SemDeDup).
    */
  private val kmeansCtes =
    """WITH u AS (
      |  SELECT vec_id, CAST(t.i + 1 AS INT) AS dim,
      |    CAST(round(CAST(list_extract(embedding, CAST(t.i + 1 AS INT)) AS DOUBLE)
      |      * 1000000) AS BIGINT) AS v
      |  FROM embeddings, range(64) t(i)),
      |c0 AS (
      |  SELECT CASE vec_id WHEN 0 THEN 0 WHEN 125 THEN 1 WHEN 250 THEN 2
      |    ELSE 3 END AS cid, dim, v
      |  FROM u WHERE vec_id IN (0, 125, 250, 375)),
      |a1 AS (
      |  SELECT u.vec_id, c.cid, SUM((u.v - c.v) * (u.v - c.v)) AS dist
      |  FROM u JOIN c0 c USING (dim) GROUP BY 1, 2),
      |b1 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |    FROM a1) WHERE rn = 1),
      |c1 AS (
      |  SELECT b.cid, u.dim,
      |    CAST((SUM(u.v + 8000000) // COUNT(*)) - 8000000 AS BIGINT) AS v
      |  FROM u JOIN b1 b USING (vec_id) GROUP BY 1, 2),
      |a2 AS (
      |  SELECT u.vec_id, c.cid, SUM((u.v - c.v) * (u.v - c.v)) AS dist
      |  FROM u JOIN c1 c USING (dim) GROUP BY 1, 2),
      |b2 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |    FROM a2) WHERE rn = 1),
      |c2 AS (
      |  SELECT b.cid, u.dim,
      |    CAST((SUM(u.v + 8000000) // COUNT(*)) - 8000000 AS BIGINT) AS v
      |  FROM u JOIN b2 b USING (vec_id) GROUP BY 1, 2),
      |a3 AS (
      |  SELECT u.vec_id, c.cid, SUM((u.v - c.v) * (u.v - c.v)) AS dist
      |  FROM u JOIN c2 c USING (dim) GROUP BY 1, 2),
      |asg AS (
      |  SELECT vec_id, CAST(cid AS INT) AS cluster, CAST(dist AS BIGINT) AS dist_u
      |  FROM (
      |    SELECT vec_id, cid, dist,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |    FROM a3) WHERE rn = 1)""".stripMargin

  private val kmeansEmbedSql = Oracles("similarity", "kmeansEmbed",
    "kmeansCtes" -> String.valueOf(kmeansCtes))

  /** q201 — SemDeDup-shaped semantic dedup (Abbas et al. 2023, public):
    * embedding near-duplicates are pruned WITHIN k-means clusters — a
    * vector is dropped when a same-cluster vector with a SMALLER id sits
    * at cosine ≥ 0.35 (anchor-ordered pruning: deterministic,
    * join-expressible, and an over-approximation of the paper's greedy
    * epsilon-ball sweep that never depends on visit order). Reported per
    * cluster: size, near-dup pairs, dropped, kept ppm.
    *
    * Scale shape: the pair expansion is scoped to a cluster — never
    * corpus×corpus — and clusters above `cap` members contribute no pairs
    * (the candidatePairs/q77 hot-bucket convention, mirrored in the
    * oracle's `csz` CTE). In the paper's regime k scales with N
    * (clusters stay ~constant-sized); here k is pinned at 4 for the
    * oracle-checked fixpoint, so the cap is the honest guard. Rides the
    * memoized q154 assignment — SemDeDup costs one small self-join on
    * top of clustering the corpus already paid for.
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val cap = 4096
    val asg = kmeansAssign(spark, dir).select(col("vec_id"), col("cluster"))
    val csz = asg.groupBy(col("cluster")).agg(count(lit(1)).as("n_vectors"))
    val v = t.embeddings
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("dv"))
      .withColumn("nrm", Similarity.norm("dv"))
      .join(asg, Seq("vec_id"))
      .join(broadcast(csz), Seq("cluster"))
      .filter(col("n_vectors") <= cap)
    val a = v.select(col("cluster"), col("vec_id").as("id_a"),
      col("dv").as("dv_a"), col("nrm").as("nrm_a"))
    val b = v.select(col("cluster"), col("vec_id").as("id_b"),
      col("dv").as("dv_b"), col("nrm").as("nrm_b"))
    val pairs = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(Similarity.dot("dv_a", "dv_b")
        / (col("nrm_a") * col("nrm_b")) >= 0.35)
    // ONE pass over the quadratic pair expansion: per-(cluster, id_b)
    // counts first, then the per-cluster rollup carries pairs AND dropped
    // together — the q15 Expand-free recipe; a separate distinct-count
    // branch would rebuild the whole self-join subtree (PLANS_r4 lesson)
    val agg = pairs.groupBy(col("cluster"), col("id_b"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("cluster"))
      .agg(sum(col("c")).as("n_pairs"), count(lit(1)).as("n_dropped"))
    csz.join(broadcast(agg), Seq("cluster"), "left")
      .select(col("cluster"), col("n_vectors"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
      .withColumn("kept_ppm",
        expr("(n_vectors - n_dropped) * 1000000 div n_vectors"))
  }

  private val semanticDedupSql = Oracles("similarity", "semanticDedup",
    "kmeansCtes" -> String.valueOf(kmeansCtes))

  /** q168 — embedding-space LABEL AUDIT: mean cosine of deterministic
    * vector pairs, split by whether the pair shares a label — the cheap
    * "is the embedding space healthy" check (same-label pairs should
    * average meaningfully higher cosine than cross-label pairs; if they
    * don't, the embeddings carry no label signal and an
    * embedding-cosine dedup threshold is meaningless).
    *
    * Pairing is hash-derived, not random: vectors sort by a salted
    * 60-bit md5 of their id inside 64 hash buckets and pair with their
    * successor (`lead`) — a deterministic linear-size pair SAMPLE (the
    * q57 hash-sampling convention applied to pairs), rerun- and
    * partitioning-stable on any engine. The one lost pair per bucket
    * boundary is by construction, identically on both sides.
    *
    * Scale shape: windows partition by the 64 hash buckets (parallel,
    * never a global sort); pairs are linear in the corpus; the final agg
    * is 2 rows. Cosines are the same left-to-right double fold on both
    * engines ([[graft.functions.VecDotProduct]] ≡ `list_dot_product`),
    * rounded(6) BEFORE the DECIMAL mean (Exact.dsum rule).
    */
  def labelCosineAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Tables(spark, dir)
    val dot = graft.functions.GraftFunctions.vec_dot _
    val v = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("dv"),
        col("label"),
        graft.ops.Dedup.hash60(col("vec_id").cast("string"), "pair").as("h"))
      .withColumn("bucket", pmod(col("h"), lit(64L)))
    val w = Window.partitionBy(col("bucket")).orderBy(col("h"), col("vec_id"))
    v.withColumn("dv_b", lead(col("dv"), 1).over(w))
      .withColumn("id_b", lead(col("vec_id"), 1).over(w))
      .withColumn("label_b", lead(col("label"), 1).over(w))
      .filter(col("id_b").isNotNull)
      .withColumn("cos",
        round(dot(col("dv"), col("dv_b"))
          / (sqrt(dot(col("dv"), col("dv"))) * sqrt(dot(col("dv_b"), col("dv_b")))), 6)
          .cast("decimal(18,6)"))
      .groupBy((col("label") === col("label_b")).as("same_label"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("cos")).as("sc"))
      .select(col("same_label"), col("n_pairs"),
        round(col("sc").cast("double") / col("n_pairs"), 6).as("mean_cosine"))
  }

  private val labelCosineAuditSql = Oracles("similarity", "labelCosineAudit")

  /** q185 — hard-negative mining for contrastive training: for each probe
    * vector (vec_id < 20), the top-5 most-similar corpus vectors carrying a
    * DIFFERENT label — the "looks the same, labeled differently" set that
    * contrastive batches and reranker training want
    * (the standard mining step behind dense-retrieval fine-tuning).
    *
    * Scale shape: the ~20 probes broadcast into a single map-side pass over
    * the corpus (broadcast nested loop, no corpus shuffle — q40's declared
    * shape), and the top-k reduction is the BOUNDED aggregate
    * [[graft.functions.TopKStructs]] (`topk_structs`), whose partial
    * buffers hold at most O(k) rows per probe: the probes×corpus scored
    * set never crosses the wire — only ~k rows per (probe, partition) do —
    * where q40's window baseline (and a `slice(sort_array(collect_list))`
    * re-packaging, whose partial buffers are UNbounded) would shuffle the
    * full Q·N scored set. Cosines live as exact 1e6 micro-units (BIGINT)
    * with the neighbor id as in-struct tiebreaker, so the bounded partial
    * sorts, the merge, and the oracle hash all agree bit-for-bit.
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val k = 5
    val v = t.embeddings.select(col("vec_id").as("id"),
        Similarity.toDoubleVec(col("embedding")).as("v"), col("label"))
      .withColumn("nrm", Similarity.norm("v"))
    val probes = v.filter(col("id") < 20).select(
      col("id").as("q_id"), col("v").as("qv"),
      col("label").as("q_label"), col("nrm").as("qn"))
    v.join(broadcast(probes), col("label") =!= col("q_label"))
      .withColumn("cos_u",
        round(Similarity.dot("qv", "v") / (col("qn") * col("nrm")) * 1e6)
          .cast("long"))
      .groupBy(col("q_id"))
      .agg(graft.functions.GraftFunctions.topk_structs(k, struct(
        (-col("cos_u")).as("neg_u"), col("id").as("neighbor_id"),
        col("label").as("neighbor_label"))).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.neighbor_id").as("neighbor_id"),
        col("col.neighbor_label").as("neighbor_label"),
        (-col("col.neg_u")).as("cos_u"))
  }

  private val hardNegativesSql = Oracles("similarity", "hardNegatives")

  /** q189 — embedding L2-norm audit per label: corrupt or degenerate
    * vectors (zeroed rows, double-scaled batches, truncated uploads) show
    * up as norm outliers long before they poison a similarity index.
    * Norms are exact 1e6 micro-units; the outlier band is
    * [median/2, median·2] around the GLOBAL median norm (Spark
    * `percentile` ≡ DuckDB `quantile_cont`, the suite's pinned pair), so
    * the flag threshold itself is data-derived, not a magic constant.
    *
    * Scale shape: one map-side projection computes each norm (no join, no
    * shuffle of vectors); the median is a 1-row broadcast; the audit is a
    * single label-keyed hash agg. At 100 TB the only wide op is the
    * tiny per-label agg — the q114 family shape.
    */
  def embeddingNormAudit(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val v = t.embeddings.select(col("vec_id"), col("label"),
        Similarity.toDoubleVec(col("embedding")).as("v"))
      .withColumn("norm_u", round(Similarity.norm("v") * 1e6).cast("long"))
      .select(col("vec_id"), col("label"), col("norm_u"))
    val med = v.agg(expr("percentile(norm_u, 0.5d)").as("med"))
    v.crossJoin(broadcast(med))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        (sum(col("norm_u")) / count(lit(1))).cast("long").as("mean_u"),
        min(col("norm_u")).as("min_u"),
        max(col("norm_u")).as("max_u"),
        sum(when(col("norm_u") * 2 < col("med") ||
                 col("norm_u") > col("med") * 2, 1L).otherwise(0L))
          .as("n_outliers"))
  }

  private val embeddingNormAuditSql = Oracles("similarity", "embeddingNormAudit")

  /** q193 — embedding-space split leakage: evaluation vectors (q114's
    * md5-hash split convention, applied to vec_id) that are near-duplicates
    * (cosine ≥ 0.35 within shared LSH buckets) of a TRAIN vector. The
    * embedding-space counterpart of q173's shingle-based audit: text-level
    * decontamination misses paraphrases and re-encodings that land next to
    * a train point in embedding space, which inflate eval scores exactly
    * like verbatim leaks. Reported per eval split: vectors, leaked
    * vectors, exact ppm.
    *
    * Scale shape: rides the memoized q77 pair set (bucketed, capped — the
    * audited near-dup scale path); split tags are map-side md5; leakage is
    * a union of two pair-sized projections, one distinct, one tiny agg.
    * Never vector×vector.
    */
  def embeddingSplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    def splitOf(c: Column): Column = {
      val v = conv(substring(md5(concat_ws("|", lit("split"),
        c.cast("string"))), 1, 8), 16, 10).cast("long")
      when(v < 3435973836L, lit("train"))        // floor(0.8 * 2^32)
        .when(v < 3865470566L, lit("val"))       // floor(0.9 * 2^32)
        .otherwise(lit("test"))
    }
    val cross = lshPairs(spark, dir)
      .withColumn("sa", splitOf(col("id_a")))
      .withColumn("sb", splitOf(col("id_b")))
    val leaked = cross
      .filter(col("sa") === "train" && col("sb") =!= "train")
      .select(col("id_b").as("id"), col("sb").as("split"))
      .union(cross
        .filter(col("sb") === "train" && col("sa") =!= "train")
        .select(col("id_a").as("id"), col("sa").as("split")))
      .distinct()
      .groupBy(col("split")).agg(count(lit(1)).as("n_leaked"))
    t.embeddings.select(splitOf(col("vec_id")).as("split"))
      .filter(col("split") =!= "train")
      .groupBy(col("split")).agg(count(lit(1)).as("n_vectors"))
      .join(leaked, Seq("split"), "left")
      .select(col("split"), col("n_vectors"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"))
      .withColumn("leaked_ppm", expr("n_leaked * 1000000 div n_vectors"))
  }

  private val embeddingSplitLeakageSql = Oracles("similarity", "embeddingSplitLeakage",
    "lshCtes" -> String.valueOf(lshCtes))

  /** q210 — ANN ranking quality: nDCG@10 and MRR of the hyperplane-LSH
    * bucket search against the exact cosine top-10, per probe (vec_id <
    * 20, the q40/q185 probe convention). Recall@k (q53) says how many
    * true neighbors an index returns; nDCG says whether they arrive in
    * the right ORDER with the right weight — the metric an embedding-
    * retrieval eval actually reports. Relevance is graded by exact rank
    * (rel = 11 − exact_rank, 0 if outside the true top-10).
    *
    * Determinism: cosines live as 1e6 micro-unit BIGINTs with id
    * tiebreaks (the q185 recipe); each DCG term rounds
    * rel·1e6/log₂(pos+1) to BIGINT before the sum (only ten distinct
    * log₂ values exist, p ∈ 1..10); MRR is the exact integer
    * `1000000 div pos` of the first relevant position. Probes whose
    * bucket holds no other vector drop from BOTH engines identically.
    *
    * Scale shape: the exact branch is the declared-baseline broadcast
    * sweep (q40's shape — 20 probes map-side over the corpus); the
    * approx branch joins only same-signature candidates BEFORE scoring
    * (the whole point of the index: at scale it scores N/16 of the
    * corpus per probe); windows partition by probe. Output is ≤20 rows.
    */
  def annNdcg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Tables(spark, dir)
    // v feeds the probe set and BOTH scoring joins — un-persisted, the
    // vector prep (double cast + norm + 64-hyperplane signature) re-ran
    // under every reader (r19 runtime plan audit: embeddings scanned 6×,
    // an 83 kB plan). Checkpoint it (data-sized but reused, the query's
    // CPU cost — guide §5), and checkpoint `exact` below (≤ probes×10
    // rows) whose scoring-join subtree fed both the IDCG agg and the
    // relevance join.
    val v = t.embeddings.select(col("vec_id").as("id"),
        Similarity.toDoubleVec(col("embedding")).as("dv"))
      .withColumn("nrm", Similarity.norm("dv"))
      .withColumn("sig", Similarity.hyperplaneSignature("dv", 4, 64))
      .localCheckpoint(true)
    val probes = v.filter(col("id") < 20).select(col("id").as("q_id"),
      col("dv").as("qv"), col("nrm").as("qn"), col("sig").as("qsig"))
    def score(df: DataFrame): DataFrame = df
      .withColumn("cos_u",
        round(Similarity.dot("qv", "dv") / (col("qn") * col("nrm")) * 1e6)
          .cast("long"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_u").desc, col("id"))
    val exact = score(v.join(broadcast(probes), col("id") =!= col("q_id")))
      .withColumn("ex_rank", row_number().over(w))
      .filter(col("ex_rank") <= 10)
      .select(col("q_id"), col("id"), col("ex_rank"))
      .localCheckpoint(true)
    val idcg = exact.groupBy(col("q_id"))
      .agg(sum(expr(
        "CAST(round((11 - ex_rank) * 1000000 / log2(ex_rank + 1)) AS BIGINT)"))
        .as("idcg_u"))
    val approx = score(v.join(broadcast(probes),
        col("sig") === col("qsig") && col("id") =!= col("q_id")))
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <= 10)
      .select(col("q_id"), col("id"), col("pos"))
    approx.join(exact, Seq("q_id", "id"), "left")
      .withColumn("rel", coalesce(lit(11) - col("ex_rank"), lit(0)))
      .groupBy(col("q_id"))
      .agg(
        sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_hits"),
        sum(expr("CAST(round(rel * 1000000 / log2(pos + 1)) AS BIGINT)"))
          .as("dcg_u"),
        max(when(col("rel") > 0, expr("1000000 div pos")).otherwise(0L))
          .as("mrr_u"))
      .join(idcg, Seq("q_id"))
      .select(col("q_id"), col("n_hits"), col("dcg_u"), col("idcg_u"),
        expr("dcg_u * 1000000 div idcg_u").as("ndcg_ppm"), col("mrr_u"))
  }

  private val annNdcgSql = Oracles("similarity", "annNdcg",
    "lshCtes" -> String.valueOf(lshCtes))

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q210_ann_ndcg", annNdcg, Some(annNdcgSql)),
    QueryDef("q193_embedding_split_leakage", embeddingSplitLeakage,
      Some(embeddingSplitLeakageSql)),
    QueryDef("q168_label_cosine_audit", labelCosineAudit, Some(labelCosineAuditSql)),
    QueryDef("q40_ann_topk", annTopK, Some(annTopKSql)),
    QueryDef("q41_embedding_neardup", embeddingNearDup, Some(embeddingNearDupSql),
      tags = Set("baseline_only")), // declared O(N²) ground truth; scale path = q77 LSH
    QueryDef("q77_lsh_neardup", lshNearDup, Some(lshNearDupSql)),
    QueryDef("q102_embedding_gramian", embeddingGramian, Some(embeddingGramianSql)),
    QueryDef("q222_effective_rank", effectiveRank, Some(effectiveRankSql)),
    QueryDef("q226_label_effective_rank", labelEffectiveRank,
      Some(labelEffectiveRankSql)),
    QueryDef("q154_kmeans_embed", kmeansEmbed, Some(kmeansEmbedSql)),
    QueryDef("q185_hard_negatives", hardNegatives, Some(hardNegativesSql)),
    QueryDef("q189_embedding_norm_audit", embeddingNormAudit,
      Some(embeddingNormAuditSql)),
    QueryDef("q201_semantic_dedup", semanticDedup, Some(semanticDedupSql)),
  )
}
