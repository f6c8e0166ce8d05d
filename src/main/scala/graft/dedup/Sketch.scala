package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bottom-k (KMV) corpus sketches: estimate the content overlap of
  * two corpora WITHOUT a full intersection join — the
  * "how much of crawl B is already in training set A" question asked
  * before committing to an expensive dedup pass. Beyer et al.,
  * "On Synopses for Distinct-Value Estimation Under Multiset
  * Operations" (SIGMOD 2007): the k smallest hash values of a set
  * are a mergeable synopsis; the k-th smallest value estimates
  * distinct cardinality ((k−1)/U_(k)), and the fraction of the
  * union's bottom-k that lies in A∩B estimates the Jaccard
  * similarity.
  *
  * Everything is deterministic (content hash, no RNG), so the sketch
  * is reproducible across runs, partitionings, and engines — the
  * estimate itself is oracle-checkable. Plan shape: one distinct per
  * corpus (map-side combined), a hash-keyed membership merge, and a
  * TakeOrdered bottom-k (per-partition heads, never a global sort);
  * only k rows leave the aggregation.
  */
object Sketch {

  /** 60-bit content hash as a FIXED-WIDTH hex string (15 md5
    * nibbles): lexicographic order = numeric order, so the bottom-k
    * is a plain string sort and the same derivation re-runs in any
    * SQL engine ([[Spans]] uses the identical fingerprint family).
    * Normalization: lower + collapsed whitespace, the
    * [[graft.text.TextAnalysis.fingerprint]] contract.
    */
  def contentHashHex(c: Column): Column =
    substring(md5(regexp_replace(lower(trim(c)), "\\s+", " ")), 1, 15)

  /** Cross-SOURCE duplication matrix — the dataset-card answer to
    * "which of my sources are copies of each other" asked BEFORE
    * committing to cross-source dedup (CommonCrawl snapshots overlap
    * heavily; a mirror re-crawl duplicates its origin ~entirely).
    * One row per unordered source pair that shares at least one
    * distinct normalized content: (source_a, source_b, shared,
    * total_a, total_b, overlap_frac) with source_a < source_b,
    * totals = per-source DISTINCT content counts, and overlap_frac =
    * shared/min(total_a, total_b) — the containment coefficient, 4-dp
    * via pure integer rounding ((2n+d) DIV 2d, engine-exact).
    *
    * Plan: one (source, hash) distinct (map-side combined), a
    * hash-keyed self-join whose per-key fan-out is bounded by the
    * SOURCE count (≤ S rows per content, never corpus×corpus), one
    * pair groupBy, and a broadcast join against the S-row totals —
    * output bounded by S², corpus-linear everywhere else.
    */
  def sourceOverlapMatrix(df: DataFrame, textCol: String,
                          sourceCol: String): DataFrame = {
    val sh = graft.CacheScope.persist(
      df.select(col(sourceCol).as("_src"),
        contentHashHex(col(textCol)).as("h")).distinct())
    val totals = sh.groupBy(col("_src")).agg(count(lit(1)).as("_total"))
    val pairs = sh.join(sh.select(col("_src").as("_src2"), col("h")), Seq("h"))
      .filter(col("_src") < col("_src2"))
      .groupBy(col("_src"), col("_src2"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(broadcast(totals), Seq("_src"))
      .join(broadcast(totals.select(col("_src").as("_src2"),
        col("_total").as("_total2"))), Seq("_src2"))
      .select(col("_src").as("source_a"), col("_src2").as("source_b"),
        col("shared"), col("_total").as("total_a"), col("_total2").as("total_b"),
        (expr("(2*shared*10000 + least(_total, _total2))" +
          " DIV (2*greatest(least(_total, _total2), 1L))") / 10000.0)
          .as("overlap_frac"))
  }

  /** Theta-sketch source set algebra (SURVEY §2 D83) — the sketch
    * answer to the questions [[sourceOverlapMatrix]] answers exactly:
    * per-source mergeable theta sketches of normalized content
    * (ONE map-side-combined `theta_sketch_agg` over the corpus), then
    * the FULL pairwise algebra — distinct counts, union, intersection,
    * and both set differences — composed on the bounded per-source
    * frame with Spark's `theta_union` / `theta_intersection` /
    * `theta_difference`, plus one `__all__` row carrying the union
    * over every source (the profile-over-snapshot-unions path).
    * Unlike the exact matrix, the sketches PERSIST: tomorrow's
    * snapshot sketches once and every historical pairwise question
    * re-answers from the dimension frame without re-scanning 100 TB
    * of history; and unlike HLL (D64), intersection/difference are
    * first-class rather than inclusion-exclusion on union estimates.
    *
    * Determinism: exact regime (per-source distinct ≤ 2^lgK) gives
    * exact integer counts, order- and engine-independent — the
    * driver-gated contract. Estimation regime returns rounded
    * estimates whose published bounds the spec suite pins.
    * Every pair appears (zero-overlap pairs too — their inter_cnt
    * is the load-bearing 0), source_a < source_b.
    */
  def thetaSourceAlgebra(df: DataFrame, textCol: String, sourceCol: String,
                         lgK: Int = 16): DataFrame = {
    // theta_sketch_agg plans any lgK and rejects it only inside a task
    require(lgK >= 4 && lgK <= 26, s"theta lgK out of range [4,26]: $lgK")
    val sk = graft.CacheScope.persist(
      df.groupBy(col(sourceCol).cast("string").as("src"))
        .agg(theta_sketch_agg(contentHashHex(col(textCol)), lgK).as("sk")))
    // unions at lgK 26 (the library max): the default 2^12 nominal
    // entries would DOWNSAMPLE an exact union of larger exact inputs
    // (x10 regression: a 4352-distinct pair union estimated 4336), and
    // merging at the per-source lgK would do the same once TOTAL
    // distinct passes 2^lgK. Memory grows only with retained entries,
    // which the inputs bound, so the result stays exact whenever every
    // input is.
    val pairs = sk
      .join(sk.select(col("src").as("src_b"), col("sk").as("sk_b")),
        col("src") < col("src_b"))
      .select(col("src").as("source_a"), col("src_b").as("source_b"),
        theta_sketch_estimate(col("sk")).as("distinct_a"),
        theta_sketch_estimate(col("sk_b")).as("distinct_b"),
        theta_sketch_estimate(theta_union(col("sk"), col("sk_b"), 26)).as("union_cnt"),
        theta_sketch_estimate(theta_intersection(col("sk"), col("sk_b"))).as("inter_cnt"),
        theta_sketch_estimate(theta_difference(col("sk"), col("sk_b"))).as("a_not_b"),
        theta_sketch_estimate(theta_difference(col("sk_b"), col("sk"))).as("b_not_a"))
    val total = sk.agg(theta_union_agg(col("sk"), 26).as("u"))
      .select(lit("__all__").as("source_a"), lit("__all__").as("source_b"),
        theta_sketch_estimate(col("u")).as("distinct_a"),
        theta_sketch_estimate(col("u")).as("distinct_b"),
        theta_sketch_estimate(col("u")).as("union_cnt"), lit(-1L).as("inter_cnt"),
        lit(-1L).as("a_not_b"), lit(-1L).as("b_not_a"))
    pairs.unionByName(total)
  }

  /** KMV overlap estimate of corpora `a` and `b`: ONE summary row
    * (k, k_used, inter_cnt, j_est, union_est[, j_exact,
    * union_exact]) where j_est = |bottom-k(A∪B) ∩ A∩B| / k_used and
    * union_est = (k_used−1)/U_(k) with U_(k) the k-th smallest hash
    * mapped into [0,1) over the 16^15 hash space (guarded to ≥2^−60
    * so the all-zero hash cannot divide by zero). k_used < k iff the
    * union has fewer than k distinct contents (then the sketch IS
    * the union and j_est/union_est are exact by construction).
    *
    * When k_used < k the sketch saw the ENTIRE union, so j_est is the
    * exact Jaccard and union_est reports k_used itself (the (k−1)/U_(k)
    * estimator is only for the truncated case — applied to a complete
    * set it would be biased low by one element and by hash luck).
    *
    * `withExact = true` additionally computes the exact Jaccard and
    * union cardinality from the merged membership frame (one extra
    * full aggregation — the gate/diagnostic flavor; production
    * default false keeps the whole result k-bounded).
    */
  def corpusJaccardKmv(a: DataFrame, b: DataFrame, textCol: String,
                       k: Int = 1024, withExact: Boolean = false): DataFrame = {
    require(k > 1, s"k must be > 1, got $k")
    def side(df: DataFrame, flag: String) =
      df.select(contentHashHex(col(textCol)).as("h")).distinct()
        .withColumn(flag, lit(1))
    val merged0 = side(a, "in_a").join(side(b, "in_b"), Seq("h"), "full_outer")
      .select(col("h"), coalesce(col("in_a"), lit(0)).as("in_a"),
        coalesce(col("in_b"), lit(0)).as("in_b"))
    val merged = if (withExact) graft.CacheScope.persist(merged0) else merged0
    val bottom = merged.orderBy(col("h").asc).limit(k)
    // Every estimate rounds IN INTEGER SPACE: half-away-from-zero of
    // n/d computed as (2n+d) DIV (2d) — exact for nonnegative n and
    // positive d, so NO engine's float division/rounding ever touches
    // the emitted digits and the whole sketch re-derives
    // bit-identically in any SQL engine with 128-bit (HUGEINT /
    // DECIMAL) integer arithmetic. (k−1)·2^60 exceeds int64, so that
    // product rides in DECIMAL(38,0). U_(k) = _vk/2^60 lies in [0,1)
    // (the all-zero 15-nibble hash maps to 0, probability 2^−60 per
    // content but possible) — _vk is guarded to ≥1 so the estimator
    // never divides by zero; empty inputs yield j_est = 0.0 via the
    // same greatest() guard on the denominators.
    val est = bottom.agg(
        count(lit(1)).as("k_used"),
        sum(col("in_a") * col("in_b")).as("inter_cnt"),
        max(conv(col("h"), 16, 10).cast("long")).as("_vk"))
      .select(lit(k).as("k"), col("k_used"), col("inter_cnt"),
        (expr("(2*inter_cnt*10000 + k_used) DIV (2*greatest(k_used, 1L))") / 10000.0)
          .as("j_est"),
        when(col("k_used") < k, col("k_used"))
          .otherwise(expr(
            "CAST((2*CAST(k_used - 1 AS DECIMAL(38,0))*1152921504606846976" +
              " + greatest(_vk, 1L)) DIV (CAST(2 AS DECIMAL(38,0))*greatest(_vk, 1L))" +
              " AS BIGINT)"))
          .as("union_est"))
    if (!withExact) est
    else {
      val exact = merged.agg(
          count(lit(1)).as("union_exact"),
          sum(col("in_a") * col("in_b")).as("_ix"))
        .select(col("union_exact"),
          (expr("(2*_ix*10000 + union_exact) DIV (2*greatest(union_exact, 1L))") / 10000.0)
            .as("j_exact"))
      est.crossJoin(broadcast(exact))
    }
  }
}
