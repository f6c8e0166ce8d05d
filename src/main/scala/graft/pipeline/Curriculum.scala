package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** D89: competence-based curriculum scheduling (Platanios et al.,
  * NAACL 2019 — "Competence-based Curriculum Learning for NMT"):
  * order a training corpus easy→hard and release documents as the
  * model's competence grows. The competence function is the paper's
  * square-root schedule c(t) = sqrt(c0² + t·(1−c0²)/T): at step t
  * only documents whose difficulty-CDF position is ≤ c(t) are
  * eligible. Because c(t) is monotone, each document has a single
  * FIRST ELIGIBLE STEP with the closed form
  *
  *   first_step(p) = max(1, ceil(T·(p² − c0²) / (1 − c0²)))
  *
  * where p = cdf position. With p = cnt_le/n exact rationals and
  * c0² = 1/c0InvSq, the ceiling is EXACT INTEGER arithmetic:
  *
  *   t ≥ (c0InvSq·T·cnt_le² − T·n²) / ((c0InvSq−1)·n²)
  *
  * evaluated in decimal(38,0) so n up to ~10^9 documents stays
  * exact (c0InvSq·T·cnt_le² ≤ 10^2·10^6·10^18 < 10^27 ≪ 10^38) —
  * no doubles anywhere, so any engine re-derives the schedule
  * bit-identically.
  *
  * Scale shape: one corpus scan to the difficulty histogram
  * (map-side-combined groupBy on the micro-quantized difficulty),
  * a running sum over the DISTINCT-difficulty frame (bounded by
  * difficulty cardinality, not corpus size — the A21/D53 frame
  * discipline; the single-partition window is over that small frame
  * only), then one join back on difficulty. The corpus shuffles
  * once, on difficulty. Difficulty itself is CALLER-SUPPLIED (any
  * deterministic numeric Column — D10 quality, D53 perplexity,
  * D44 cross-entropy all plug in), so the operator composes with
  * the scoring family instead of hard-coding a metric.
  */
object Curriculum {

  /** Per-document curriculum assignment: (id, difficulty_micro,
    * cnt_le, n_total, first_step). `cnt_le` counts documents with
    * difficulty ≤ this one's (ties share a position — deterministic),
    * `first_step` ∈ [1, nSteps] is the earliest step the document
    * is eligible under the sqrt-competence schedule with initial
    * competence c0 = 1/sqrt(c0InvSq). Documents whose difficulty
    * evaluates to NULL are EXCLUDED (unscorable docs have no CDF
    * position — filter or impute upstream).
    */
  def firstEligibleStep(df: DataFrame, idCol: String, difficulty: Column,
                        nSteps: Int, c0InvSq: Int = 100): DataFrame = {
    require(nSteps >= 1, s"nSteps must be >= 1, got $nSteps")
    require(c0InvSq >= 2, s"c0InvSq must be >= 2 (c0 < 1), got $c0InvSq")
    val scored = df.select(col(idCol).as("id"),
      round(difficulty.cast("double") * 1000000.0).cast("long")
        .as("difficulty_micro"))
    val hist = scored.filter(col("difficulty_micro").isNotNull)
      .groupBy("difficulty_micro").agg(count(lit(1)).as("_cnt"))
    // bounded by difficulty cardinality: a running CDF over the
    // distinct-difficulty frame, never corpus-sized
    val cum = hist.withColumn("cnt_le",
      sum("_cnt").over(Window.orderBy("difficulty_micro")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("_cnt")
    val totals = cum.agg(max("cnt_le").as("n_total"))
    val dec = "decimal(38,0)"
    val joined = scored.join(cum, Seq("difficulty_micro"))
      .crossJoin(broadcast(totals))
    // ceil(a/b) for a possibly negative, b > 0: floor((a + b - 1)/b)
    val a = (lit(c0InvSq).cast(dec) * lit(nSteps).cast(dec) *
      col("cnt_le").cast(dec) * col("cnt_le").cast(dec)) -
      (lit(nSteps).cast(dec) * col("n_total").cast(dec) * col("n_total").cast(dec))
    val b = lit(c0InvSq - 1).cast(dec) * col("n_total").cast(dec) * col("n_total").cast(dec)
    // exact ceil(a/b) on the a > 0 branch: subtract the exact pmod
    // remainder first so the decimal division is of an exact
    // multiple — a PLAIN decimal division rounds at scale 6 BEFORE
    // floor and mis-ceils whenever b > ~2e6 (b here is n², so at any
    // real corpus size); the a ≤ 0 branch is the p ≤ c0 region,
    // eligible from step 1
    val aPlus = a + b - lit(1).cast(dec)
    val ceilDiv = ((aPlus - pmod(aPlus, b)) / b).cast("long")
    joined.select(col("id"), col("difficulty_micro"), col("cnt_le"),
      col("n_total"),
      when(a <= lit(0).cast(dec), lit(1L))
        .otherwise(least(lit(nSteps.toLong), ceilDiv)).as("first_step"))
  }

  /** Step-level release census: how many documents become eligible
    * at each step (the curriculum's pacing curve — a monitoring
    * frame bounded by nSteps). */
  def releaseSchedule(assigned: DataFrame): DataFrame =
    assigned.groupBy("first_step")
      .agg(count(lit(1)).as("released"))
      .orderBy("first_step")
}
