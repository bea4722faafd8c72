package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Percentile computation mode — the explicit exact↔approximate knob for
  * every operator whose thresholds come from a percentile aggregation
  * (q45 severity thresholds, q108 median/MAD, q130 equi-depth bounds,
  * the CLV bucket thresholds).
  *
  * Why a knob and not a hardcode: exact `percentile` buffers EVERY value
  * of the group in one aggregation state — at the oracle gate (≤10⁵ rows
  * per group) that is the right default, because it is bit-reproducible
  * against DuckDB's `quantile_cont` (same interpolated-rank IEEE
  * sequence). At 100 TB a single global group holds ~10¹¹ values: the
  * buffering aggregation is a guaranteed executor OOM, and the scale
  * path must be `approx_percentile` (Greenwald–Khanna sketch: mergeable,
  * bounded state) whose result carries a RANK error bound instead of
  * bit-equality:
  *
  *   rank(returned value) ∈ [⌊p·n⌋ − n/accuracy, ⌊p·n⌋ + n/accuracy]
  *
  * i.e. the returned value is an actual element of the column whose rank
  * is within `n/accuracy` of the requested percentile. State is
  * O(accuracy·log n) per group, independent of group size — what makes
  * the swap safe on a 1000-executor cluster. PercentileModeSpec pins the
  * bound empirically; q234 pins it under the driver's oracle gate.
  *
  * Both modes produce the SAME downstream plan shape (tiny threshold
  * aggregate → broadcast join → map-side comparisons); only the
  * aggregation function changes. Exact stays the default everywhere so
  * the 233 oracle hashes are untouched.
  */
object Percentiles {
  sealed trait Mode

  /** Exact interpolated percentile (Spark `percentile` ≡ DuckDB
    * `quantile_cont`). Oracle-gated default; buffers the group's values.
    */
  case object Exact extends Mode

  /** `approx_percentile` at the given accuracy: rank error ≤ n/accuracy,
    * O(accuracy·log n) mergeable state. 10000 (the q48 precedent) keeps
    * the error under 0.01% of ranks — far inside any bucketing decision
    * the engine makes with the result.
    */
  final case class Approx(accuracy: Int = 10000) extends Mode

  /** Self-driving mode (VERDICT r11 item 6): [[resolve]] estimates the
    * operator's values-per-group from its ACTUAL input and picks
    * [[Approx]] above `bound`, [[Exact]] below. The default bound, 10⁷
    * values/group (~80 MB of boxed doubles in one exact aggregation
    * state), sits ~3 orders of magnitude under the state size that OOMs
    * an executor — so even a 100×-skewed group (the estimate is an
    * AVERAGE, not a max) resolves Approx long before the exact path
    * becomes unsafe, while every oracle-gate input stays Exact.
    */
  final case class Auto(bound: Long = 10000000L, accuracy: Int = 10000)
    extends Mode

  /** Resolve [[Auto]] against the frame a percentile aggregation is about
    * to consume: ONE cheap scan — `count(*)` + `approx_count_distinct`
    * over the group columns (both constant-state, map-side partial; no
    * value buffering) — estimates average values-per-group; above the
    * bound the operator runs [[Approx]], otherwise [[Exact]]. [[Exact]]
    * and [[Approx]] pass through untouched, so the oracle-gated defaults
    * never pay the estimate scan. The decision is logged to stderr with
    * the numbers that drove it.
    */
  def resolve(df: DataFrame, groupCols: Seq[Column], mode: Mode): Mode =
    mode match {
      case Auto(bound, acc) =>
        val est = df.select(
          count(lit(1)).as("n"),
          (if (groupCols.isEmpty) lit(1L)
           else approx_count_distinct(struct(groupCols: _*))).as("g")).head()
        val n = est.getLong(0)
        val g = math.max(est.getLong(1), 1L)
        val avg = n.toDouble / g
        val chosen = if (avg > bound) Approx(acc) else Exact
        System.err.println(
          f"[percentiles] auto: n=$n groups~$g avg=$avg%.0f " +
            f"bound=$bound -> $chosen")
        chosen
      case m => m
    }

  /** percentile(c, p) under the chosen mode. [[Auto]] must be resolved
    * against the operator's input first ([[resolve]]) — a Column can't
    * estimate group cardinality, and silently defaulting would hide a
    * missing wire-up.
    */
  def pctl(c: Column, p: Double, mode: Mode): Column = mode match {
    case Exact       => percentile(c, lit(p))
    case Approx(acc) => percentile_approx(c, lit(p), lit(acc))
    case _: Auto => throw new IllegalArgumentException(
      "Percentiles.Auto must be resolved via Percentiles.resolve(df, groupCols, mode) before pctl")
  }

  /** percentile(c, array(ps)) under the chosen mode — ONE aggregation
    * buffer serving every requested percentile. N separate [[pctl]]
    * aggregates over the same column each buffer (Exact) or sketch
    * (Approx) the full group independently: Spark gives every Percentile /
    * ApproximatePercentile expression its own aggregation state, so a
    * 9-decile bounds aggregation paid 9× the buffering, sorting and
    * merge work of this single array call (round-19 measurement: the
    * q130/q148 decile-bounds stage). Element i of the result is
    * BIT-IDENTICAL to `pctl(c, ps(i), mode)` — same function, same
    * buffer contents, same interpolation — so oracle hashes are
    * untouched. Callers index with `.getItem(i)`.
    */
  def pctls(c: Column, ps: Seq[Double], mode: Mode): Column = {
    val arr = array(ps.map(lit): _*)
    mode match {
      case Exact       => percentile(c, arr)
      case Approx(acc) => percentile_approx(c, arr, lit(acc))
      case _: Auto => throw new IllegalArgumentException(
        "Percentiles.Auto must be resolved via Percentiles.resolve(df, groupCols, mode) before pctls")
    }
  }
}
