package graft.profile

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._

/** Distribution drift between two snapshots of a table (deploy
  * before/after, week over week, source A vs source B) — the
  * monitoring generalization of the reference's before/after DQ
  * comparison (home.py:41-52): not just "did the score change" but
  * "which column's DISTRIBUTION moved, and how much", scored with the
  * population stability index (PSI = Σ (p−q)·ln(p/q) over categories;
  * < 0.1 stable, 0.1-0.25 drifting, > 0.25 shifted).
  *
  * Scale shape: ALL requested columns profile in ONE scan per
  * snapshot — each row explodes to (column, value) pairs and a single
  * map-side-combined groupBy counts them; per-column totals are a
  * column-count-sized dimension joined back by broadcast (no window,
  * no per-column job). PSI terms are quantized to nano-units and
  * summed as longs, so the score is reduction-order- and
  * engine-independent (same discipline as TokenStats.crossEntropy).
  */
object Drift {

  private def shares(df: DataFrame, cols: Seq[String], pName: String): DataFrame = {
    val kvs = explode(array(cols.map(c =>
      struct(lit(c).as("column"),
        coalesce(col(c).cast("string"), lit("<null>")).as("value"))): _*)).as("kv")
    val counts = df.select(kvs)
      .select(col("kv.column").as("column"), col("kv.value").as("value"))
      .groupBy("column", "value").agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy("column").agg(F.sum(col("cnt")).as("total"))
    counts.join(broadcast(totals), "column")
      .select(col("column"), col("value"),
        (col("cnt") / col("total")).as(pName))
  }

  /** Per-(column, value) share shift: (column, value, p_before,
    * p_after, delta). Categories absent from one side carry share 0.
    */
  def valueShifts(before: DataFrame, after: DataFrame,
                  cols: Seq[String]): DataFrame =
    shares(before, cols, "p_before")
      .join(shares(after, cols, "p_after"), Seq("column", "value"), "full_outer")
      .select(col("column"), col("value"),
        round(coalesce(col("p_before"), lit(0.0)), 6).as("p_before"),
        round(coalesce(col("p_after"), lit(0.0)), 6).as("p_after"),
        round(coalesce(col("p_after"), lit(0.0))
          - coalesce(col("p_before"), lit(0.0)), 6).as("delta"))

  /** Per-column PSI. Categories missing on one side take share
    * `eps` (the standard zero-replacement). Each term
    * `(p−q)·ln(p/q)` is quantized to nano-units (a long) before the
    * per-column sum, making the score exact under any reduction
    * order.
    */
  def categoricalPsi(before: DataFrame, after: DataFrame, cols: Seq[String],
                     eps: Double = 1e-6): DataFrame =
    categoricalPsiAndGuard(before, after, cols, eps)._1

  /** [[categoricalPsi]] plus the A21/D80-style portability guard
    * (ADVICE r11): a one-row frame with the minimum distance of any
    * nano-quantized term to its .5 rounding boundary. A guard value
    * comfortably above the libm cross-engine error (~1 ulp of the
    * double term, i.e. > ~1e-7 at nano scale) certifies that an
    * engine recomputing the `(p−q)·ln(p/q)` table rounds every term
    * to the identical integer, and therefore reproduces the PSI
    * bit-for-bit.
    */
  def categoricalPsiAndGuard(before: DataFrame, after: DataFrame,
                             cols: Seq[String],
                             eps: Double = 1e-6): (DataFrame, DataFrame) = {
    val joined = shares(before, cols, "p")
      .join(shares(after, cols, "q"), Seq("column", "value"), "full_outer")
    val p2 = coalesce(col("p"), lit(eps))
    val q2 = coalesce(col("q"), lit(eps))
    val termNanoDbl = (p2 - q2) * log(p2 / q2) * 1e9
    val terms = graft.CacheScope.persist(joined
      .select(col("column"),
        round(termNanoDbl).cast("long").as("term_nano"),
        abs(termNanoDbl - floor(termNanoDbl) - lit(0.5)).as("_bd")))
    val psi = terms
      .groupBy("column")
      .agg(count(lit(1)).as("n_categories"),
        round((F.sum(col("term_nano"))).cast("double") / 1e9, 4).as("psi"))
    val guard = terms.agg(
      coalesce(min(col("_bd")), lit(0.5)).as("min_term_dist"))
    (psi, guard)
  }

  /** Two-sample Kolmogorov–Smirnov statistic for NUMERIC drift
    * (SURVEY §2 D78) — the numeric counterpart of [[categoricalPsi]]:
    * KS = max over v of |F_a(v) − F_b(v)|, the standard screen for
    * "did this column's distribution move" without binning choices.
    *
    * EXACT flavor, zero floats until display: the empirical-CDF gap
    * at value v is |cum_a(v)·n_b − cum_b(v)·n_a| / (n_a·n_b), so the
    * maximization runs entirely over exact integer cross-products;
    * only the final tie-safe 4-dp division touches a double. Engine-
    * portable by construction.
    *
    * Cost shape: one groupBy per side on the VALUE (map-side
    * combined), one full-outer merge, then cum_a/cum_b as running sums
    * over the DISTINCT values from the range-partitioned primitive
    * ([[graft.operators.Rank.runningSums]]) — parallel, never one
    * task, however many distinct values a continuous column has. The
    * 100 TB path that avoids the exact merge is the mergeable-KLL
    * grid: sketch both sides (D67), evaluate both CDFs on a common
    * quantile grid, take the max gap — within ±2·ε of exact by KLL's
    * published rank error; see `ksOnGrid` in the spec suite.
    */
  def ksStatistic(a: DataFrame, b: DataFrame, c: String): DataFrame = {
    val ca = a.filter(col(c).isNotNull)
      .groupBy(col(c).cast("double").as("v")).agg(count(lit(1)).as("ca"))
    val cb = b.filter(col(c).isNotNull)
      .groupBy(col(c).cast("double").as("v")).agg(count(lit(1)).as("cb"))
    val merged = ca.join(cb, Seq("v"), "full_outer")
      .select(col("v"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    // DECIMAL(38,0) cross-products: exact at any corpus size (n_a·n_b
    // overflows a long past ~3e9 rows/side — the KMV discipline)
    graft.operators.Rank.runningSums(merged, Nil, Seq(col("v").asc),
        Seq("cuma" -> col("ca"), "cumb" -> col("cb")))
      .select(
        col("cuma").cast("decimal(38,0)").as("cuma"),
        col("cumb").cast("decimal(38,0)").as("cumb"),
        col("cuma_total").cast("decimal(38,0)").as("na"),
        col("cumb_total").cast("decimal(38,0)").as("nb"))
      .select(abs(col("cuma") * col("nb") - col("cumb") * col("na")).as("gap"),
        col("na"), col("nb"))
      .agg(F.max(col("gap")).as("ks_num"),
        F.max(col("na")).as("na"), F.max(col("nb")).as("nb"))
      .select(
        col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"),
        (expr("CAST((2*ks_num*10000 + greatest(na*nb, CAST(1 AS DECIMAL(38,0))))" +
          " DIV (2*greatest(na*nb, CAST(1 AS DECIMAL(38,0)))) AS LONG)") / 10000.0)
          .as("ks"))
  }
}
