package graft.profile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column/dataset profiling (reference: home.py:84-251 — pandas
  * describe/value_counts/pattern analysis, recomputed per UI click).
  *
  * Spark-first design: every multi-column profile is computed in ONE
  * `agg(...)` over the table — a single shared scan with map-side
  * partial aggregation — then unpivoted by exploding an array of
  * structs. At 100 TB that is one pass over the data regardless of
  * column count, where the reference does one pandas pass per column
  * per interaction. All expressions are built-ins (whole-stage
  * codegen, vectorized parquet reader, column pruning intact).
  */
object Profiler {

  private def isNumericish(dt: DataType): Boolean = dt match {
    case _: NumericType | BooleanType | DateType | _: TimestampType => true
    case _ => false
  }

  /** Dataset shape: rows, columns, nominal vs numeric split
    * (home.py:88-92: select_dtypes(number/bool/datetime)).
    */
  def summary(df: DataFrame): DataFrame = {
    val numeric = df.schema.fields.count(f => isNumericish(f.dataType))
    df.agg(count(lit(1)).as("row_count"))
      .withColumn("column_count", lit(df.schema.size))
      .withColumn("nominal_column_count", lit(df.schema.size - numeric))
      .withColumn("numeric_column_count", lit(numeric))
  }

  /** Per-column null/fill profile (home.py:146-152), one scan for all
    * columns.
    */
  def nullProfile(df: DataFrame): DataFrame = {
    val perCol = df.columns.map { c =>
      struct(lit(c).as("column"), count(col(c)).as("non_null"))
    }
    df.agg(count(lit(1)).as("_n"), array(perCol.toIndexedSeq: _*).as("_c"))
      .select(explode(col("_c")).as("c"), col("_n"))
      .select(
        col("c.column").as("column"),
        col("c.non_null").as("non_null"),
        (col("_n") - col("c.non_null")).as("null_count"),
        // guarded: ANSI 0/0 on an empty table is a runtime error
        round(when(col("_n") > 0, col("c.non_null") * 100.0 / col("_n")), 2)
          .as("fill_pct"))
      .orderBy("column")
  }

  /** describe() equivalent for numeric columns (home.py:167-170):
    * count/mean/std/min/max/q1/median/q3, one scan for all columns.
    * Quantiles use exact `percentile` (interpolated, matches
    * quantile_cont semantics); doubles rounded for stable comparison.
    */
  def numericStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    val perCol = cols.map { c =>
      val v = col(c).cast(DoubleType)
      // one array-percentile aggregate per column: the three quantile
      // fields reference the semantically-same aggregate, which
      // Catalyst dedupes to a SINGLE hold-all-values buffer (vs three)
      val qArr = percentile(v, array(lit(0.25), lit(0.5), lit(0.75)))
      struct(
        lit(c).as("column"),
        count(v).as("cnt"),
        round(avg(v), 4).as("mean"),
        round(stddev_samp(v), 4).as("std"),
        round(min(v), 4).as("min"),
        round(element_at(qArr, 1), 4).as("q1"),
        round(element_at(qArr, 2), 4).as("median"),
        round(element_at(qArr, 3), 4).as("q3"),
        round(max(v), 4).as("max"))
    }
    df.agg(array(perCol.toIndexedSeq: _*).as("_c"))
      .select(explode(col("_c")).as("c"))
      .select("c.*")
      .orderBy("column")
  }

  /** String length + alphabetic extrema (home.py:133-144). The
    * "value at min/max length" is made deterministic: among the
    * shortest (longest) values, the lexicographically smallest wins.
    */
  def stringLengthStats(df: DataFrame, c: String): DataFrame = {
    val s = col(c)
    df.filter(s.isNotNull)
      .agg(
        min(length(s)).as("min_len"),
        min(struct(length(s).as("l"), s.as("v"))).as("_minlv"),
        max(length(s)).as("max_len"),
        min(struct((-length(s)).as("l"), s.as("v"))).as("_maxlv"),
        min(s).as("min_alpha"),
        max(s).as("max_alpha"))
      .select(
        lit(c).as("column"),
        col("min_len"), col("_minlv.v").as("value_at_min_len"),
        col("max_len"), col("_maxlv.v").as("value_at_max_len"),
        col("min_alpha"), col("max_alpha"))
  }

  /** Total row count of a grouped `cnt` frame, attached as a `_total`
    * column via a broadcast 1-row cross join. NOT a window over an
    * empty partitionBy(): that funnels the entire grouped result
    * through a single task — fatal when the profiled column is
    * id-like and the grouped result is n-sized (exactly where
    * [[unexpectedValues]] gets pointed). The total re-aggregates the
    * grouped result, whose shuffle Spark reuses (ReusedExchange), so
    * the source is still scanned once.
    */
  private def withTotal(grouped: DataFrame): DataFrame =
    grouped.crossJoin(broadcast(grouped.agg(sum(col("cnt")).as("_total"))))

  /** Frequency table: value counts + percentage (home.py:172-191;
    * like pandas value_counts(normalize=True), nulls are excluded
    * from rows AND the denominator — the null share lives in
    * [[nullProfile]]). Single scan (reused-exchange total).
    */
  def frequencyTable(df: DataFrame, c: String): DataFrame =
    withTotal(df.filter(col(c).isNotNull)
        .groupBy(col(c).as("value"))
        .agg(count(lit(1)).as("cnt")))
      .withColumn("pct", round(col("cnt") * 100.0 / col("_total"), 1))
      .drop("_total")
      .orderBy(desc("cnt"), asc("value"))

  /** Top-k most frequent (non-null) values, deterministic tie-break
    * (home.py:177-185 "5 most frequent values").
    */
  def topK(df: DataFrame, c: String, k: Int): DataFrame =
    df.filter(col(c).isNotNull)
      .groupBy(col(c).as("value"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("value"))
      .limit(k)

  /** Bottom-k least frequent (non-null) values (home.py:182-185 "5
    * least frequent values"), deterministic tie-break.
    */
  def bottomK(df: DataFrame, c: String, k: Int): DataFrame =
    df.filter(col(c).isNotNull)
      .groupBy(col(c).as("value"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(asc("cnt"), asc("value"))
      .limit(k)

  /** Character-class mask used by the pattern profile: letters -> A,
    * digits -> 9 (home.py:229-231; Turkish letter classes included as
    * in the reference).
    */
  def patternMask(c: Column): Column =
    regexp_replace(regexp_replace(c, "[A-Za-zÖÇĞİŞÜöçğışü]", "A"), "[0-9]", "9")

  /** Pattern profile: mask frequency table (home.py:229-251), single
    * scan (reused-exchange total).
    */
  def patternProfile(df: DataFrame, c: String): DataFrame =
    withTotal(df.filter(col(c).isNotNull)
        .select(patternMask(col(c)).as("pattern"))
        .groupBy("pattern")
        .agg(count(lit(1)).as("cnt")))
      .withColumn("pct", round(col("cnt") * 100.0 / col("_total"), 1))
      .drop("_total")
      .orderBy(desc("cnt"), asc("pattern"))

  /** Values rarer than `maxPct` percent of non-null rows
    * (home.py:193-209 "Unexpected Value Graph", threshold 0.1%;
    * value_counts(normalize=True) semantics). Single scan.
    */
  def unexpectedValues(df: DataFrame, c: String, maxPct: Double): DataFrame =
    withTotal(df.filter(col(c).isNotNull)
        .groupBy(col(c).as("value"))
        .agg(count(lit(1)).as("cnt")))
      .filter(col("cnt") * 100.0 / col("_total") < maxPct)
      .drop("_total")
      .orderBy(asc("value"))

  /** Positive / zero / negative split (home.py:216-227 "Show p-0-n"). */
  def signCounts(df: DataFrame, c: String): DataFrame = {
    val v = col(c)
    df.agg(
        count(when(v > 0, 1)).as("positive"),
        count(when(v === 0, 1)).as("zero"),
        count(when(v < 0, 1)).as("negative"),
        count(lit(1)).as("_n"))
      .select(
        lit(c).as("column"),
        col("positive"), col("zero"), col("negative"),
        // guarded: ANSI 0/0 on an empty table is a runtime error
        round(when(col("_n") > 0, col("positive") * 100.0 / col("_n")), 1).as("positive_pct"),
        round(when(col("_n") > 0, col("zero") * 100.0 / col("_n")), 1).as("zero_pct"),
        round(when(col("_n") > 0, col("negative") * 100.0 / col("_n")), 1).as("negative_pct"))
  }

  /** Exact + approximate (HLL) distinct counts per column, one scan.
    * The approximate path is the 100 TB default; exact is kept for
    * oracle checks and small dims.
    */
  def distinctProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val perCol = cols.map { c =>
      struct(
        lit(c).as("column"),
        countDistinct(col(c)).as("distinct_cnt"),
        approx_count_distinct(col(c)).as("approx_distinct"))
    }
    // countDistinct of several columns in one agg => Spark expands to
    // a single multi-distinct aggregate (one shuffle, AQE-planned).
    df.agg(array(perCol.toIndexedSeq: _*).as("_c"))
      .select(explode(col("_c")).as("c"))
      .select("c.*")
      .orderBy("column")
  }

  /** MERGEABLE per-column distinct sketches (Apache DataSketches HLL
    * via Spark's `hll_sketch_agg`) — the incremental-profiling path a
    * 100 TB pipeline actually needs: sketch each ingest batch /
    * partition / day ONCE (one scan, bounded 2^lgK-register state per
    * column), persist the binary sketches, and answer "distinct over
    * any union of snapshots" by merging sketches instead of
    * re-scanning history. [[distinctProfile]]'s approx flavor answers
    * one frame; this one composes over time.
    *
    * Output: tall (column, sketch BINARY) — one row per column. HLL
    * union is commutative/associative/idempotent, so merged estimates
    * are independent of merge order and batch partitioning.
    */
  def distinctSketches(df: DataFrame, cols: Seq[String],
                       lgK: Int = 12): DataFrame = {
    val perCol = cols.map(c =>
      hll_sketch_agg(col(c).cast(StringType), lit(lgK)).as(c))
    df.agg(perCol.head, perCol.tail: _*)
      .select(explode(map(
        cols.flatMap(c => Seq(lit(c), col(c))).toIndexedSeq: _*))
        .as(Seq("column", "sketch")))
  }

  /** Merge any number of [[distinctSketches]] frames (snapshots of
    * the same column set) and estimate: (column, distinct_est). ONE
    * bounded groupBy over ≤ |snapshots|·|cols| sketch rows — no
    * re-scan of any corpus.
    */
  def mergeDistinctEstimates(sketches: Seq[DataFrame]): DataFrame = {
    require(sketches.nonEmpty, "mergeDistinctEstimates: need >= 1 sketch frame")
    sketches.reduce(_.unionByName(_))
      .groupBy(col("column"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("distinct_est"))
  }

  /** MERGEABLE per-column QUANTILE sketches (Apache DataSketches KLL
    * via the custom [[graft.functions.KllSketchAgg]] Catalyst
    * aggregate) — the quantile counterpart of [[distinctSketches]]:
    * Spark's GK `approx_percentile` has no user-facing mergeable
    * form, so "median over any union of ingest snapshots" would need
    * a history re-scan; KLL sketches merge losslessly
    * (~1.65% normalized rank error at k=200, certified by the
    * `q_d67` gate against exact order statistics). Output: tall
    * (column, sketch BINARY), one row per column, one scan.
    */
  def quantileSketches(df: DataFrame, cols: Seq[String],
                       k: Int = 200): DataFrame = {
    val perCol = cols.map(c =>
      graft.functions.KllSketchAgg(col(c).cast(DoubleType), k).as(c))
    df.agg(perCol.head, perCol.tail: _*)
      .select(explode(map(
        cols.flatMap(c => Seq(lit(c), col(c))).toIndexedSeq: _*))
        .as(Seq("column", "sketch")))
  }

  /** Merge [[quantileSketches]] snapshot frames and extract
    * `quantiles`: (column, q, value). One bounded groupBy over
    * ≤ |snapshots|·|cols| sketch rows; no corpus re-scan.
    */
  def mergeQuantileEstimates(sketches: Seq[DataFrame],
                             quantiles: Seq[Double],
                             k: Int = 200): DataFrame = {
    require(sketches.nonEmpty, "mergeQuantileEstimates: need >= 1 sketch frame")
    require(quantiles.nonEmpty, "mergeQuantileEstimates: need >= 1 quantile")
    val merged = sketches.reduce(_.unionByName(_))
      .groupBy(col("column"))
      .agg(graft.functions.KllMergeAgg(col("sketch"), k).as("_m"))
    val qCols = quantiles.map(q => struct(
      lit(f"$q%.2f").as("q"),
      graft.functions.KllQuantile(col("_m"), q).as("value")))
    merged.select(col("column"), explode(array(qCols: _*)).as("_e"))
      .select(col("column"), col("_e.q").as("q"), col("_e.value").as("value"))
  }

  /** MERGEABLE frequent-items (heavy hitters) sketch for a string
    * column (DataSketches ItemsSketch via the custom
    * [[graft.functions.FreqSketchAgg]] Catalyst aggregate — SURVEY §2
    * D69): the top-k counterpart of [[distinctSketches]] (HLL, D64)
    * and [[quantileSketches]] (KLL, D67). Sketch each ingest batch
    * once (≤ maxMapSize counters, partial-merge capable like any
    * builtin agg); answer "dominant values over any union of
    * snapshots" later with NO history re-scan. Output: one row
    * (sketch BINARY).
    */
  def frequencySketch(df: DataFrame, c: String,
                      maxMapSize: Int = 1024): DataFrame =
    df.filter(col(c).isNotNull)
      .agg(graft.functions.FreqSketchAgg(col(c).cast(StringType), maxMapSize)
        .as("sketch"))

  /** Merge [[frequencySketch]] snapshot frames and extract the
    * frequent items under the NO_FALSE_NEGATIVES guarantee: every
    * item whose true count exceeds `max_error` is present, and
    * lb ≤ true ≤ ub per item. While total distinct ≤ 0.75·maxMapSize
    * the sketch never purges and everything is EXACT
    * (max_error = 0) — the certified gate range. One bounded agg over
    * ≤ |snapshots| sketch rows.
    */
  def mergeFrequentItems(sketches: Seq[DataFrame],
                         maxMapSize: Int = 1024): DataFrame = {
    require(sketches.nonEmpty, "mergeFrequentItems: need >= 1 sketch frame")
    sketches.reduce(_.unionByName(_))
      .agg(graft.functions.FreqMergeAgg(col("sketch"), maxMapSize).as("_m"))
      .select(
        graft.functions.FreqSketchStats(col("_m")).as("_s"),
        explode(graft.functions.FreqItems(col("_m"))).as("_e"))
      .select(col("_e.item").as("item"), col("_e.est").as("est"),
        col("_e.lb").as("lb"), col("_e.ub").as("ub"),
        col("_s.max_error").as("max_error"),
        col("_s.stream_length").as("stream_length"))
  }

  /** Pearson correlation for each column pair, one scan. */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    val pairs = for {
      (a, i) <- cols.zipWithIndex; (b, j) <- cols.zipWithIndex if i < j
    } yield struct(
      lit(a).as("col_a"), lit(b).as("col_b"),
      round(corr(col(a), col(b)), 4).as("pearson"))
    df.agg(array(pairs.toIndexedSeq: _*).as("_c"))
      .select(explode(col("_c")).as("c"))
      .select("c.*")
      .orderBy("col_a", "col_b")
  }

  /** Approximate numeric stats for the 100 TB path: exact
    * `percentile` holds all values per group; `approx_percentile`
    * (GK-sketch) is bounded-memory with a configurable accuracy.
    * Same output shape as [[numericStats]].
    */
  def numericStatsApprox(df: DataFrame, cols: Seq[String],
                         accuracy: Int = 10000): DataFrame = {
    val perCol = cols.map { c =>
      val v = col(c).cast(DoubleType)
      // single GK sketch per column for all three quantiles (dedup'd)
      val qArr = approx_percentile(v, array(lit(0.25), lit(0.5), lit(0.75)), lit(accuracy))
      struct(
        lit(c).as("column"),
        count(v).as("cnt"),
        round(avg(v), 4).as("mean"),
        round(stddev_samp(v), 4).as("std"),
        round(min(v), 4).as("min"),
        round(element_at(qArr, 1), 4).as("q1"),
        round(element_at(qArr, 2), 4).as("median"),
        round(element_at(qArr, 3), 4).as("q3"),
        round(max(v), 4).as("max"))
    }
    df.agg(array(perCol.toIndexedSeq: _*).as("_c"))
      .select(explode(col("_c")).as("c"))
      .select("c.*")
      .orderBy("column")
  }

  /** Certification query for [[numericStatsApprox]]'s GK quantiles:
    * for each column × quantile q emits the EXACT order statistics at
    * ranks ⌊(q−ε)·n⌋ and ⌈(q+ε)·n⌉ (ε = 1/accuracy — the GK rank
    * guarantee) plus `within` = 1 iff the approx value lands between
    * them. A SQL oracle recomputes lo/hi exactly and asserts
    * `within = 1`, turning the sketch's accuracy contract into a
    * deterministic BETWEEN instead of a hand-waved tolerance.
    * CORRECTNESS PATH ONLY: the exact bounds need a global sort per
    * column (single-partition window) — the production profiling
    * flavor remains [[numericStatsApprox]], which never sorts.
    */
  def approxQuantileCheck(df: DataFrame, cols: Seq[String],
                          accuracy: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val eps = 1.0 / accuracy
    val qs = Seq(0.25, 0.5, 0.75)
    // r16 note: the unpartitioned window below is a DELIBERATE
    // certification shape (PlanAuditSpec pins the production operator,
    // numericStatsApprox, as sort-free; this gate certifies the
    // sketch against exact rank bounds). A rewrite on the distributed
    // sort-based rank was measured SLOWER at gate scale (2.03 s vs
    // 1.77 s at sf0.1 — ~10 small jobs of orchestration vs one fused
    // sort of a 600k-value column) and reverted; at 100 TB this gate's
    // exact certification is not what you run — the approx operator is.
    val perCol = cols.map { c =>
      val v = col(c).cast(DoubleType)
      // unrounded approx values, one GK sketch for all three quantiles
      val approx = df.agg(
        approx_percentile(v, array(qs.map(lit): _*), lit(accuracy)).as("_av"))
      val vals = graft.CacheScope.persist(
        df.select(v.as("v")).filter(col("v").isNotNull)
          // bounded by the certified column's row count (gate scale only)
          .withColumn("rn", row_number().over(Window.orderBy("v"))))
      val n = vals.agg(count(lit(1)).as("n"))
      val rows = qs.zipWithIndex.map { case (q, i) =>
        val lo = vals.crossJoin(broadcast(n))
          .filter(col("rn") === greatest(floor(lit(q - eps) * col("n")), lit(1L)))
          .select(col("v").as("_lo"))
        val hi = vals.crossJoin(broadcast(n))
          .filter(col("rn") === least(ceil(lit(q + eps) * col("n")), col("n")))
          .select(col("v").as("_hi"))
        lo.crossJoin(hi).crossJoin(broadcast(approx))
          .select(
            lit(c).as("col_name"),
            lit(f"$q%.2f").as("q"),
            round(col("_lo"), 4).as("lo"),
            round(col("_hi"), 4).as("hi"),
            when(element_at(col("_av"), i + 1).between(col("_lo"), col("_hi")), 1)
              .otherwise(0).as("within"))
      }
      rows.reduce(_ union _)
    }
    perCol.reduce(_ union _).orderBy("col_name", "q")
  }

  /** Skewness / excess kurtosis per numeric column, one scan, from
    * raw moments (m3/m2^1.5, m4/m2^2 - 3). Computed with an explicit
    * E[x^k] formula rather than builtin skewness()/kurtosis() so the
    * definition is engine-independent (Spark and DuckDB builtins
    * disagree on sample-vs-population corrections).
    */
  def moments(df: DataFrame, cols: Seq[String]): DataFrame = {
    val perCol = cols.map { c =>
      val v = col(c).cast(DoubleType)
      val e1 = avg(v); val e2 = avg(v * v); val e3 = avg(v * v * v)
      val e4 = avg(v * v * v * v)
      val m2 = e2 - e1 * e1
      val m3 = e3 - e1 * e2 * 3 + e1 * e1 * e1 * 2
      val m4 = e4 - e1 * e3 * 4 + e1 * e1 * e2 * 6 - e1 * e1 * e1 * e1 * 3
      struct(
        lit(c).as("column"),
        count(v).as("cnt"),
        // guarded: m2 = 0 (constant column) is ANSI divide-by-zero
        round(when(m2 > 0, m3 / pow(m2, 1.5)), 4).as("skewness"),
        round(when(m2 > 0, m4 / (m2 * m2) - 3), 4).as("kurtosis"))
    }
    df.agg(array(perCol.toIndexedSeq: _*).as("_c"))
      .select(explode(col("_c")).as("c"))
      .select("c.*")
      .orderBy("column")
  }

  /** Equi-width histogram with an explicit bucket width anchored at 0
    * (deterministic, no extra min/max pass; pandas_profiling
    * histogram equivalent).
    */
  def histogram(df: DataFrame, c: String, width: Double): DataFrame =
    df.filter(col(c).isNotNull)
      .groupBy((floor(col(c) / width) * width).cast(DoubleType).as("bucket_start"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("bucket_start")

  /** One-call dataset profile — the reference's profiling page
    * (home.py:84-86, pandas_profiling in one click) as a single tall
    * DataFrame: dataset shape (A1), null/fill (A2), numeric stats
    * (A3/A14), string-length extrema (A4), sign split (A9),
    * cardinality (A10), correlations (A11), and higher moments (A13)
    * for every column, unioned into one
    * `(column, metric, value, value_str)` frame. Numeric metrics ride
    * in `value` (rounded to 4), string-valued ones (alphabetic
    * extrema, value-at-length) in `value_str`.
    *
    * Scale shape: with `approx = true` (the 100 TB default) the
    * ENTIRE report is ONE `agg(...)` over the table — a single scan
    * with map-side partial aggregation regardless of column count;
    * quantiles are GK sketches and cardinalities HLL, every aggregate
    * bounded-memory and mergeable, no Expand in the plan.
    * `approx = false` swaps in exact `percentile` and exact
    * `countDistinct` — the distinct counts run as a SEPARATE small
    * aggregation unioned in, because mixing multi-column
    * countDistinct with ~85 other aggregates makes Catalyst's
    * distinct-rewrite wrap every one of them in first(...) through
    * the Expand (a 4-level, hundreds-of-buffers plan whose
    * planning/codegen dwarfs the actual work). Value-DISTRIBUTION
    * profiles (frequency table, top/bottom-k, pattern profile,
    * histogram, unexpected values — A5-A8, A12) are per-value tables,
    * not per-column scalars, and stay separate calls.
    */
  def report(df: DataFrame, approx: Boolean = true,
             accuracy: Int = 10000): DataFrame = {
    val (main, card) = reportMetricStructs(df, approx, accuracy)
    def tall(metrics: Seq[Column]) =
      df.agg(array(metrics: _*).as("_c"))
        .select(explode(col("_c")).as("c"))
        .select("c.*")
    val base = tall(main ++ (if (approx) card else Nil))
    (if (approx) base else base.union(tall(card)))
      .orderBy("column", "metric")
  }

  /** Per-GROUP [[report]]: the same metric grid computed for every
    * value of `groupCol` — per-source / per-language / per-split
    * quality monitoring in one grouped aggregation (one scan, one
    * shuffle keyed by the group; each group's metrics combine
    * map-side exactly like the global report's). The group column
    * itself is excluded from the profiled columns (constant within a
    * group). Output `(group, column, metric, value, value_str)`.
    */
  def reportBy(df: DataFrame, groupCol: String, approx: Boolean = true,
               accuracy: Int = 10000): DataFrame = {
    val (main, card) = reportMetricStructs(df, approx, accuracy, exclude = Set(groupCol))
    def tall(metrics: Seq[Column]) =
      df.groupBy(col(groupCol).cast(StringType).as("group"))
        .agg(array(metrics: _*).as("_c"))
        .select(col("group"), explode(col("_c")).as("c"))
        .select("group", "c.*")
    val base = tall(main ++ (if (approx) card else Nil))
    (if (approx) base else base.union(tall(card)))
      .orderBy("group", "column", "metric")
  }

  /** Returns (main metrics, cardinality metrics) — cardinality is
    * split out so the exact flavor can aggregate it separately (see
    * [[report]]'s scale-shape note on the distinct-rewrite blowup).
    */
  private def reportMetricStructs(df: DataFrame, approx: Boolean,
                                  accuracy: Int,
                                  exclude: Set[String] = Set.empty): (Seq[Column], Seq[Column]) = {
    val fields = df.schema.fields.filterNot(f => exclude.contains(f.name))
    val cols = fields.map(_.name).toSeq
    val numCols = fields
      .filter(_.dataType.isInstanceOf[NumericType]).map(_.name).toSeq
    val strCols = fields
      .filter(_.dataType == StringType).map(_.name).toSeq
    val nominal = fields.length - fields.count(f => isNumericish(f.dataType))
    val n = count(lit(1))
    // `+ 0.0` normalizes -0.0 (a near-zero moment can round to -0.0
    // in one engine and +0.0 in another; IEEE -0.0 + 0.0 = +0.0)
    def m(c: String, metric: String, v: Column): Column =
      struct(lit(c).as("column"), lit(metric).as("metric"),
        (round(v.cast(DoubleType), 4) + lit(0.0)).as("value"),
        lit(null).cast(StringType).as("value_str"))
    def ms(c: String, metric: String, v: Column): Column =
      struct(lit(c).as("column"), lit(metric).as("metric"),
        lit(null).cast(DoubleType).as("value"), v.cast(StringType).as("value_str"))
    val shape = Seq(
      m("*", "row_count", n),
      m("*", "column_count", lit(fields.length)),
      m("*", "nominal_column_count", lit(nominal)),
      m("*", "numeric_column_count", lit(fields.length - nominal)))
    val nulls = cols.flatMap { c =>
      Seq(
        m(c, "non_null", count(col(c))),
        m(c, "null_count", n - count(col(c))),
        // when-guard: ANSI mode turns 0/0 on an empty table into a
        // runtime error, and empty partitions/tables are routine
        m(c, "fill_pct", when(n > 0, count(col(c)) * 100.0 / n)))
    }
    val card = cols.map { c =>
      if (approx) m(c, "approx_distinct", approx_count_distinct(col(c)))
      else m(c, "distinct_cnt", countDistinct(col(c)))
    }
    val numeric = numCols.flatMap { cName =>
      val v = col(cName).cast(DoubleType)
      // ONE array-percentile aggregate per column, not three scalar
      // ones: the three q-metrics reference the semantically-same
      // aggregate, which Catalyst dedupes to a single buffer — for
      // the exact flavor that is one hold-all-values buffer per
      // column instead of three
      val ps = array(lit(0.25), lit(0.5), lit(0.75))
      val qArr =
        if (approx) approx_percentile(v, ps, lit(accuracy))
        else percentile(v, ps)
      def q(p: Double) =
        element_at(qArr, p match { case 0.25 => 1; case 0.5 => 2; case _ => 3 })
      val e1 = avg(v); val e2 = avg(v * v); val e3 = avg(v * v * v)
      val e4 = avg(v * v * v * v)
      val m2 = e2 - e1 * e1
      val m3 = e3 - e1 * e2 * 3 + e1 * e1 * e1 * 2
      val m4 = e4 - e1 * e3 * 4 + e1 * e1 * e2 * 6 - e1 * e1 * e1 * e1 * 3
      Seq(
        m(cName, "cnt", count(v)),
        m(cName, "mean", avg(v)),
        m(cName, "std", stddev_samp(v)),
        m(cName, "min", min(v)),
        m(cName, "q1", q(0.25)),
        m(cName, "median", q(0.5)),
        m(cName, "q3", q(0.75)),
        m(cName, "max", max(v)),
        // m2 = 0 (constant column / single-row group) makes the
        // moment ratios 0/0 — an ANSI runtime error, not NaN; the
        // shape of a constant distribution is undefined -> null
        m(cName, "skewness", when(m2 > 0, m3 / pow(m2, 1.5))),
        m(cName, "kurtosis", when(m2 > 0, m4 / (m2 * m2) - 3)),
        m(cName, "positive", count(when(v > 0, 1))),
        m(cName, "zero", count(when(v === 0, 1))),
        m(cName, "negative", count(when(v < 0, 1))))
    }
    val corrs = for {
      (a, i) <- numCols.zipWithIndex; (b, j) <- numCols.zipWithIndex if i < j
    } yield m(a, s"pearson:$b",
      corr(col(a).cast(DoubleType), col(b).cast(DoubleType)))
    val strs = strCols.flatMap { cName =>
      val s = col(cName)
      val sl = length(s)
      Seq(
        m(cName, "min_len", min(sl)),
        m(cName, "max_len", max(sl)),
        ms(cName, "value_at_min_len",
          min(when(s.isNotNull, struct(sl.as("l"), s.as("v")))).getField("v")),
        ms(cName, "value_at_max_len",
          min(when(s.isNotNull, struct((-sl).as("l"), s.as("v")))).getField("v")),
        ms(cName, "min_alpha", min(s)),
        ms(cName, "max_alpha", max(s)))
    }
    (shape ++ nulls ++ numeric ++ corrs ++ strs, card)
  }

  /** String-column type inference (SURVEY §2 A19 — the engine form of
    * the reference's column-detector dtype display, home.py:88-130,
    * extended to STRING columns: what does this column's content
    * actually parse as, and should the C9 cast repair run?). Per
    * column, one row: non-null count, the share parseable as
    * boolean / integer / double / date (tie-safe 2-dp), and the
    * inferred type under a first-match policy
    * (bool → bigint → double → date → string) at an integer-space
    * threshold (`cnt·100 ≥ nn·thresholdPct` — no float compare).
    *
    * Detection is regex + strict-format parse only (RE2-portable
    * patterns, `try_to_timestamp` for dates) so both engines agree
    * row-for-row; doubles are a superset of ints by design (an
    * all-int column reports double_pct = 100 too, and infers bigint
    * by policy order). ONE scan for all columns (the dqSummary
    * array-of-structs shape).
    */
  def inferTypes(df: DataFrame, cols: Seq[String],
                 thresholdPct: Int = 95): DataFrame = {
    require(thresholdPct > 0 && thresholdPct <= 100,
      s"thresholdPct out of range: $thresholdPct")
    val intRe = "^[+-]?[0-9]{1,18}$"
    val dblRe = "^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$"
    val perCol = cols.map { name =>
      val c = col(name).cast(StringType)
      struct(
        lit(name).as("column"),
        count(c).as("nn"),
        count(when(lower(c).isin("true", "false"), 1)).as("bool_cnt"),
        count(when(c.rlike(intRe), 1)).as("int_cnt"),
        count(when(c.rlike(dblRe), 1)).as("dbl_cnt"),
        count(when(try_to_timestamp(c, lit("yyyy-MM-dd")).isNotNull, 1))
          .as("date_cnt"))
    }
    df.agg(array(perCol.toIndexedSeq: _*).as("_c"))
      .select(explode(col("_c")).as("c"))
      .select(col("c.*"))
      .select(
        col("column"), col("nn").as("non_null"),
        (expr("(2*bool_cnt*10000 + greatest(nn,1L)) DIV (2*greatest(nn,1L))") / 100.0).as("bool_pct"),
        (expr("(2*int_cnt*10000 + greatest(nn,1L)) DIV (2*greatest(nn,1L))") / 100.0).as("int_pct"),
        (expr("(2*dbl_cnt*10000 + greatest(nn,1L)) DIV (2*greatest(nn,1L))") / 100.0).as("double_pct"),
        (expr("(2*date_cnt*10000 + greatest(nn,1L)) DIV (2*greatest(nn,1L))") / 100.0).as("date_pct"),
        when(col("nn") === 0, "string")
          .when(col("bool_cnt") * 100 >= col("nn") * thresholdPct, "boolean")
          .when(col("int_cnt") * 100 >= col("nn") * thresholdPct, "bigint")
          .when(col("dbl_cnt") * 100 >= col("nn") * thresholdPct, "double")
          .when(col("date_cnt") * 100 >= col("nn") * thresholdPct, "date")
          .otherwise("string").as("inferred_type"))
      .orderBy("column")
  }

  /** Duplicate-column detection (SURVEY §2 A24 — redundant features /
    * accidental copies: two columns that agree on EVERY row, by
    * null-safe equality): pairwise mismatch counts in ONE scan
    * (array-of-structs aggregation, no joins, no hashing collisions —
    * exact). `identical` = zero mismatching rows.
    */
  def duplicateColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "duplicateColumns: need >= 2 columns")
    val pairs = for {
      (a, i) <- cols.zipWithIndex; (b, j) <- cols.zipWithIndex if i < j
    } yield struct(lit(a).as("col_a"), lit(b).as("col_b"),
      count(when(!(col(a) <=> col(b)), 1)).as("mismatch_rows"))
    df.agg(array(pairs.toIndexedSeq: _*).as("_p"))
      .select(explode(col("_p")).as("p"))
      .select(col("p.col_a").as("col_a"), col("p.col_b").as("col_b"),
        col("p.mismatch_rows").as("mismatch_rows"),
        (col("p.mismatch_rows") === 0).as("identical"))
      .orderBy("col_a", "col_b")
  }

  /** Missingness-pattern census (SURVEY §2 A23 — the step past
    * per-column null counts: WHICH columns are null TOGETHER? Row
    * patterns expose instrumentation failures — "ts and user_id are
    * always null as a pair" — that per-column rates hide).
    * One scan, one groupBy over ≤ 2^k patterns (k ≤ 20 loudly
    * enforced — patterns beyond that are unreadable anyway).
    * Pattern string is positional over `cols`: '1' = null.
    */
  def missingnessPatterns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty && cols.size <= 20,
      s"missingnessPatterns: need 1..20 columns, got ${cols.size}")
    val pat = concat(cols.map(c =>
      when(col(c).isNull, lit("1")).otherwise(lit("0"))).toIndexedSeq: _*)
    df.select(pat.as("pattern"))
      .groupBy("pattern").agg(count(lit(1)).as("rows"))
      // global window over the ≤2^k-row GROUPED frame (the benford
      // rationale: a crossJoin'd total would re-scan the table)
      .withColumn("_t", sum(col("rows")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("pattern"), col("rows"),
        (expr("(2*rows*10000 + greatest(_t, 1L))" +
          " DIV (2*greatest(_t, 1L))") / 100.0).as("pct"))
      .orderBy("pattern")
  }

  /** Pairwise co-missingness: for each column pair, rows where BOTH
    * are null — the correlation drill-down of [[missingnessPatterns]].
    * ONE aggregation pass (array-of-structs), no joins.
    */
  def coMissingness(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "coMissingness: need >= 2 columns")
    val pairs = for {
      (a, i) <- cols.zipWithIndex; (b, j) <- cols.zipWithIndex if i < j
    } yield struct(lit(a).as("col_a"), lit(b).as("col_b"),
      count(when(col(a).isNull && col(b).isNull, 1)).as("both_null"),
      count(when(col(a).isNull, 1)).as("a_null"),
      count(when(col(b).isNull, 1)).as("b_null"))
    df.agg(array(pairs.toIndexedSeq: _*).as("_p"))
      .select(explode(col("_p")).as("p"))
      .select("p.*")
      .orderBy("col_a", "col_b")
  }

  /** Semi-structured (JSON) column profiling (SURVEY §2 A20 — the
    * profiling step C18's embedded-JSON EXTRACTION assumes you've
    * already done: which keys exist, how often, and what do their
    * values parse as?). Two census flavors:
    *
    * [[jsonKeyCensus]] — top-level key presence: one scan-local
    * `json_object_keys` explode + one ≤|keys|-group groupBy.
    * Malformed/null JSON rows contribute nothing (json_object_keys →
    * null → explode drops them); the total row count rides along so
    * presence is tie-safe 2-dp.
    *
    * [[jsonValueProfile]] — for CALLER-NAMED keys (a bounded list —
    * dynamic per-key extraction would need literal paths anyway),
    * the A19 type shares of the extracted scalar values. Scalars
    * only by contract: engines agree on unquoted scalar extraction
    * (`get_json_object` ≡ `json_extract_string`) but not on nested-
    * object whitespace.
    */
  def jsonKeyCensus(df: DataFrame, c: String): DataFrame = {
    val base = df.select(col(c))
    val total = base.agg(count(col(c)).as("_t"))
    base.select(explode(expr(s"json_object_keys(`$c`)")).as("key"))
      .groupBy("key").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .select(col("key"), col("cnt"),
        (expr("(2*cnt*10000 + greatest(_t,1L)) DIV (2*greatest(_t,1L))") / 100.0)
          .as("presence_pct"))
      .orderBy("key")
  }

  def jsonValueProfile(df: DataFrame, c: String, keys: Seq[String],
                       thresholdPct: Int = 95): DataFrame = {
    require(keys.nonEmpty, "jsonValueProfile: need >= 1 key")
    val extracted = df.select(keys.map(k =>
      get_json_object(col(c), s"$$.$k").as(k)).toIndexedSeq: _*)
    inferTypes(extracted, keys, thresholdPct)
  }

  /** Shannon entropy of categorical columns (SURVEY §2 A21 — the
    * one-number "how informative is this column" profile: 0 for a
    * constant, ln(k) for uniform over k values; the screening signal
    * for candidate keys, degenerate columns, and skew).
    *
    * Float discipline (the D60/D61 scheme): the only libm call is
    * ln(n/cnt) per DISTINCT value; each term quantizes to NANO-nats
    * (long) with a boundary-distance column, per-term products
    * cnt·t_nano sum exactly in integer space (reduction-order
    * independent), and the final division is the tie-safe
    * `(2S+n) DIV 2n`. The one-row guard (`min_term_dist`) certifies
    * any engine recomputing the ln table rounds to identical
    * integers. Per column: one map-side-combined groupBy (the
    * frequencyTable shuffle) with the value frame persisted so the
    * total and the rollup share one computation.
    */
  def entropyProfile(df: DataFrame, cols: Seq[String]): DataFrame =
    entropyProfileAndGuard(df, cols)._1

  def entropyProfileAndGuard(df: DataFrame,
                             cols: Seq[String]): (DataFrame, DataFrame) = {
    require(cols.nonEmpty, "entropyProfile: need >= 1 column")
    val parts = cols.map { c =>
      val freq = graft.CacheScope.persist(
        df.filter(col(c).isNotNull)
          .groupBy(col(c).cast(StringType).as("_v"))
          .agg(count(lit(1)).as("cnt")))
      val n = freq.agg(sum(col("cnt")).as("_n"))
      val tNanoDbl =
        log(col("_n").cast(DoubleType) / col("cnt").cast(DoubleType)) * 1e9
      val terms = freq.crossJoin(broadcast(n)).select(
        col("cnt"), col("_n"),
        round(tNanoDbl).cast("long").as("t_nano"),
        abs(tNanoDbl - floor(tNanoDbl) - lit(0.5)).as("_bd"))
      terms.agg(
        max(col("_n")).as("n"),
        count(lit(1)).as("distinct_vals"),
        coalesce(sum(col("cnt") * col("t_nano")), lit(0L)).as("_s"),
        coalesce(min(col("_bd")), lit(0.5)).as("_bd"))
        .select(lit(c).as("column"),
          coalesce(col("n"), lit(0L)).as("n"),
          col("distinct_vals"),
          expr("(2*_s + greatest(n, 1L)) DIV (2*greatest(n, 1L))")
            .as("entropy_nano"),
          col("_bd"))
    }
    val all = parts.reduce(_ unionByName _)
    val guard = all.agg(coalesce(min(col("_bd")), lit(0.5)).as("min_term_dist"))
    (all.drop("_bd").orderBy("column"), guard)
  }

  /** Per-group linear trend — OLS slope/intercept — in EXACT integer
    * arithmetic (SURVEY §2 A22): the profiling question "is this
    * metric drifting over time, per segment" answered without a
    * single order-dependent float sum. Caller contract: x and y are
    * INTEGRAL columns (scale money to cents, timestamps to days
    * first) —
    *   slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)
    * with all sums in DECIMAL(38,0) (exact at any corpus size), so
    * numerator/denominator are exact integers and the 6-dp micro
    * display divides tie-safe. The division sign-splits: Spark's
    * `DIV` truncates toward zero while DuckDB's `//` floors — they
    * agree ONLY for non-negative operands, so negative rationals
    * compute as −(|num| DIV den). Zero-variance groups (den = 0)
    * yield null slope. One map-side-combined groupBy total.
    */
  def trendProfile(df: DataFrame, groupCol: String,
                   xCol: String, yCol: String): DataFrame = {
    val x = col(xCol).cast("decimal(38,0)")
    val y = col(yCol).cast("decimal(38,0)")
    val d38 = "decimal(38,0)"
    val agg = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"))
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
    def microDiv(numName: String, denName: String): Column = expr(
      s"CASE WHEN $denName <= 0 THEN NULL" +
        s" WHEN $numName < 0 THEN" +
        s" -CAST((2*(-$numName)*1000000 + $denName) DIV (2*$denName) AS LONG)" +
        s" ELSE CAST((2*$numName*1000000 + $denName) DIV (2*$denName) AS LONG)" +
        s" END")
    agg
      // intercept = (Σy·den − num·Σx) / (n·den), exact rational
      .withColumn("inum", col("sy") * col("den") - col("num") * col("sx"))
      .withColumn("iden", col("n") * col("den"))
      .select(col(groupCol),
        col("n").cast("long").as("n"),
        microDiv("num", "den").as("slope_micro"),
        microDiv("inum", "iden").as("intercept_micro"))
      .orderBy(groupCol)
  }

  /** Robust outlier profile (SURVEY §2 A17): per numeric column, the
    * two classic robust screens in one report —
    *  - IQR fences: lo = Q1 − k·IQR, hi = Q3 + k·IQR (Tukey k = 1.5)
    *  - modified z-score: |v − median|·0.6745 > 3.5·MAD
    *    (Iglewicz–Hoaglin; 0.6745 = Φ⁻¹(0.75) as a LITERAL, never
    *    computed at runtime)
    *
    * Engine-portability by construction: quartiles/median round to
    * 4 dp FIRST and every downstream value (fences, MAD deviations,
    * classifications) derives from the ROUNDED statistics with only
    * +,−,×,comparison — IEEE-754 binary64 ops with bit-defined
    * results, so two engines that agree on the 4-dp quartiles (the
    * a3-proven contract) agree on every outlier verdict. Nothing
    * downstream touches the unrounded interpolated quantile.
    *
    * Cost shape: a fixed number of jobs whatever the column count —
    * two exact sort-based quantile passes ([[stackedQuantiles]]: all
    * columns stacked into one (col_id, v) frame, quartiles first, then
    * the MADs around the rounded medians), each collecting only the
    * ≤ 2·|ps| values per column at the target ranks, then ONE counting
    * scan — the exact certification flavor, like a14. The 100 TB
    * production path is the mergeable-KLL profile (D67
    * `quantileSketches`): sketch once, derive fences from certified-±ε
    * quantiles, then ONE counting scan.
    */
  def outlierProfile(df: DataFrame, cols: Seq[String],
                     iqrK: Double = 1.5, madZ: Double = 3.5): DataFrame = {
    def v(i: Int) = col(cols(i)).cast(DoubleType)
    val quart = stackedQuantiles(df, cols.indices.map(v), Seq(0.25, 0.5, 0.75))
      .map(_.map(_.map(round4)))
    // MAD from the ROUNDED median; a null median (empty/all-null
    // column) nulls every deviation, like the percentile-over-null-
    // input it replaces
    val mads = stackedQuantiles(df, cols.indices.map { i =>
      quart(i)(1).map(m => abs(v(i) - lit(m))).getOrElse(lit(null).cast(DoubleType))
    }, Seq(0.5)).map(_.head.map(round4))
    // pass 3: ONE counting scan for every column against constant
    // fences (the rounded stats ride as literals); the fence
    // arithmetic keeps the exact expression shape (q1 − (q3−q1)·k
    // over the 4-dp stats), so every comparison bit matches
    val cntStructs = cols.indices.map { i =>
      def l(o: Option[Double]) = o.map(lit(_)).getOrElse(lit(null).cast(DoubleType))
      val Seq(q1, med, q3) = quart(i).map(l)
      val mad = l(mads(i))
      val lo = q1 - (q3 - q1) * iqrK
      val hi = q3 + (q3 - q1) * iqrK
      struct(
        lit(cols(i)).as("column"),
        count(v(i)).as("cnt"),
        first(q1).as("q1"), first(med).as("median"), first(q3).as("q3"),
        // fences display at FIVE dp: they are exact 5-dp decimals
        // (4-dp quartile ± 1.5×4-dp IQR), so a 4-dp re-round would sit
        // exactly on the .00005 boundary about half the time — the one
        // place Spark's decimal-string rounding and a binary-double
        // rounder systematically disagree (observed at sf0.1)
        first(round(lo, 5)).as("lo_fence"),
        first(round(hi, 5)).as("hi_fence"),
        first(mad).as("mad"),
        count(when(v(i) < lo || v(i) > hi, 1)).as("iqr_outliers"),
        count(when(abs(v(i) - med) * 0.6745 > mad * madZ, 1))
          .as("robust_outliers"))
    }
    df.agg(array(cntStructs: _*).as("_c"))
      .select(explode(col("_c")).as("c"))
      .select("c.*")
      .orderBy("column")
  }

  /** Spark's own ROUND(x, 4), evaluated on the driver: the same
    * Catalyst expression class a `round(lit(x), 4)` plan constant-folds
    * through, so the same bits, and no job.
    */
  private def round4(x: Double): Double = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Round}
    Round(Literal(x), Literal(4)).eval().asInstanceOf[Double]
  }

  /** Exact interpolated quantiles of each double-valued expression in
    * `values`, by DISTRIBUTED SORT + rank selection: the expressions
    * are stacked into one (col_id, v) frame of non-null values, ranked
    * per col_id by the shared range-partitioned primitive
    * ([[graft.operators.Rank.runningSums]]), and only the rows at the
    * floor/ceil ranks of each position p·(n−1) are collected; the
    * driver interpolates with the `percentile` aggregate's exact
    * formula — `(higher − pos)·lowerKey + (pos − lower)·higherKey`.
    * The SQL sort shares `percentile`'s double total order (NaN
    * greatest), so the selected keys — and therefore every bit of the
    * result — match. What changes is the cost shape: `percentile`
    * holds every distinct value in ONE aggregation buffer whose merge
    * is single-threaded and whose memory is O(distinct), per column;
    * here the widest structures are one shuffle of the stacked values
    * and a (partitions × columns)-row offsets frame, and the job count
    * does not grow with the column count.
    *
    * Returns, per expression, one value per percentage — None when the
    * expression has no non-null rows (where `percentile` yields null).
    */
  private def stackedQuantiles(df: DataFrame, values: Seq[Column],
                               ps: Seq[Double]): IndexedSeq[Seq[Option[Double]]] = {
    if (values.isEmpty) return IndexedSeq.empty
    val stacked = df.select(explode(array(values.zipWithIndex.map { case (e, i) =>
        struct(lit(i).as("col_id"), e.cast(DoubleType).as("v"))
      }: _*)).as("_s"))
      .select("_s.*").filter(col("v").isNotNull)
    val ranked = graft.operators.Rank.runningSums(stacked, Seq("col_id"),
      Seq(col("v").asc), Seq("_n" -> lit(1L)))
    // the floor/ceil ranks of p·(n−1): the same double product the
    // driver interpolates with below
    val rank = col("_n") - 1
    val wanted = ps.flatMap { p =>
      val pos = lit(p) * (col("_n_total") - 1)
      Seq(rank === floor(pos), rank === ceil(pos))
    }.reduce(_ || _)
    val hits = ranked.filter(wanted)
      .select(col("col_id"), rank, col("v"), col("_n_total"))
      .collect().groupBy(_.getInt(0))
    values.indices.map { i =>
      hits.get(i) match {
        case None => ps.map(_ => None)
        case Some(rows) =>
          val n = rows.head.getLong(3)
          val at = rows.map(r => r.getLong(1) -> r.getDouble(2)).toMap
          ps.map { p =>
            val pos = p * (n - 1)
            val lower = math.floor(pos).toLong
            val higher = math.ceil(pos).toLong
            if (higher == lower) Some(at(lower))
            else Some((higher - pos) * at(lower) + (pos - lower) * at(higher))
          }
      }
    }
  }

  /** Functional-dependency violation profile (SURVEY §2 A18): for
    * each declared `determinant → dependent` pair, does every
    * determinant value map to at most one dependent value? Reports
    * determinant cardinality, # violating determinant values, # rows
    * under violating values, and the verdict — the profiling step
    * before trusting a column as a lookup key or de-normalizing.
    *
    * Scale shape: ONE map-side-combined groupBy per pair on
    * (determinant, dependent) — pair-distinct counts collapse before
    * the exchange — then a ≤|distinct det| second agg. Null
    * determinants are excluded (SQL FD semantics); null dependents
    * count as a value (a det mapping to both NULL and 'x' violates).
    */
  def fdViolations(df: DataFrame, deps: Seq[(String, String)]): DataFrame = {
    val reports = deps.map { case (det, dep) =>
      df.filter(col(det).isNotNull)
        .groupBy(col(det).as("_det"))
        .agg(count(lit(1)).as("_rows"),
          // exact distinct-with-null: count distinct non-null values
          // plus 1 if any null dependent appears under this det
          (countDistinct(col(dep)) +
            max(when(col(dep).isNull, 1).otherwise(0))).as("_vals"))
        .agg(
          count(lit(1)).as("det_values"),
          count(when(col("_vals") > 1, 1)).as("violating_values"),
          coalesce(sum(when(col("_vals") > 1, col("_rows"))), lit(0L))
            .as("violating_rows"))
        .select(
          lit(det).as("determinant"),
          lit(dep).as("dependent"),
          col("det_values"), col("violating_values"), col("violating_rows"),
          (col("violating_values") === 0).as("fd_holds"))
    }
    reports.reduce(_ unionByName _).orderBy("determinant", "dependent")
  }
}
