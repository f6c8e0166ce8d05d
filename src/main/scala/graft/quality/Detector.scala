package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset-level quality detection + DQ scoring (reference:
  * home.py:94-111 useless/duplicated rows, 1132-1190 scoring,
  * 41-52/1139-1150 before-after summary tables).
  *
  * All reports are single-pass aggregations or hash-shuffled
  * group-bys on the interesting key only — nothing collects to the
  * driver, so the same code runs on 100 TB inputs.
  *
  * The DQ counters and the guarded score are written once
  * ([[dqCounts]], [[dqScore]]): [[dqReport]], [[dqSummary]],
  * [[beforeAfterOneScan]] and the windowed operators of
  * [[graft.streaming.StreamingDQ]] all count and score with them.
  */
object Detector {

  /** Rows with more than half their columns null (home.py:94-98). */
  def uselessRows(df: DataFrame): DataFrame = {
    val nullCnt = df.columns
      .map(c => when(col(c).isNull, 1).otherwise(0))
      .reduce(_ + _)
    df.withColumn("null_col_count", nullCnt)
      .filter(col("null_col_count") > df.columns.length / 2)
  }

  /** Full-row duplicate groups with multiplicity (home.py:100-110).
    * Hash group-by on all columns: one shuffle keyed by the full row,
    * map-side combined; never materializes a sort of the whole data.
    */
  def duplicateRows(df: DataFrame): DataFrame =
    df.groupBy(df.columns.map(col).toIndexedSeq: _*)
      .agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)

  /** Values of `key` appearing more than once (home.py:255-263
    * "Duplicated Data Detector").
    */
  def duplicatesByKey(df: DataFrame, key: String): DataFrame =
    df.groupBy(col(key))
      .agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)
      .orderBy(desc("dup_count"), asc(key))

  /** DQ score band label (home.py:1175-1189 gauge arrow). */
  def band(score: Column): Column =
    when(score <= 25, "VERY LOW")
      .when(score <= 50, "LOW")
      .when(score <= 75, "MEDIUM")
      .otherwise("HIGH")

  /** The DQ counters of column `c` under `rules` (home.py:1132-1138),
    * as aggregates: (total rows, null records, non-null records that
    * violate any rule). Every DQ operator, batch and streaming, counts
    * with these and names them itself.
    */
  private[graft] def dqCounts(c: Column, rules: Seq[Rule]): (Column, Column, Column) =
    (count(lit(1)), count(when(c.isNull, 1)),
      count(when(c.isNotNull && Rule.anyViolation(c, rules), 1)))

  /** score = proper / total · 100 at 2 dp, proper = total − nulls −
    * out-of-format. Guarded: ANSI 0/0 on an empty input is a runtime
    * error, so an empty input scores null.
    */
  private[graft] def dqScore(total: Column, nulls: Column, oof: Column): Column =
    round(when(total > 0, (total - nulls - oof) * 100.0 / total), 2)

  /** `proper_format_records` and `dq_score` from the three counters. */
  private[graft] def dqScored(total: Column, nulls: Column, oof: Column): Seq[Column] =
    Seq((total - nulls - oof).as("proper_format_records"),
      dqScore(total, nulls, oof).as("dq_score"))

  /** Column DQ report (home.py:1132-1138): null records,
    * out-of-format records (violating any rule), proper records, and
    * score = proper/total*100. One aggregation pass; [[dqSummary]]'s
    * row for the one column.
    */
  def dqReport(df: DataFrame, column: String, rules: Seq[Rule]): DataFrame =
    dqRows(df, Seq(column -> rules))

  /** Multi-column DQ report in a single scan: one row per (column,
    * rule set) pair — the engine-side equivalent of filling the
    * reference's Before/After summary table column by column.
    */
  def dqSummary(df: DataFrame, specs: Seq[(String, Seq[Rule])]): DataFrame =
    dqRows(df, specs).orderBy("column")

  private def dqRows(df: DataFrame, specs: Seq[(String, Seq[Rule])]): DataFrame = {
    val perCol = specs.map { case (name, rules) =>
      val (total, nulls, oof) = dqCounts(col(name), rules)
      struct(lit(name).as("column"), nulls.as("null_records"),
        oof.as("out_of_format_records"), total.as("total"))
    }
    val Seq(t, n, o) = Seq("total", "null_records", "out_of_format_records")
      .map(k => col(s"c.$k"))
    df.agg(array(perCol.toIndexedSeq: _*).as("_c"))
      .select(explode(col("_c")).as("c"))
      .select(Seq(col("c.column").as("column"), n.as("null_records"),
        o.as("out_of_format_records")) ++ dqScored(t, n, o): _*)
      .withColumn("dq_band", band(col("dq_score")))
  }

  /** Before/after comparison: join the two summaries on column name
    * (home.py Review Summary Report).
    */
  def beforeAfter(before: DataFrame, after: DataFrame): DataFrame =
    before.select(col("column"), col("dq_score").as("before_score"))
      .join(after.select(col("column"), col("dq_score").as("after_score")), "column")
      .withColumn("delta", round(col("after_score") - col("before_score"), 2))
      .orderBy("column")

  /** Referential-integrity audit (SURVEY §2 B19): for each declared
    * foreign-key relationship `(childName, child, fkCol, parent,
    * pkCol)`, one report row — child rows, null FKs, orphan rows
    * (non-null FK with no parent), distinct orphan keys, and coverage
    * percent. The classic DQ check a profiling tool runs before
    * trusting a join.
    *
    * Scale shape: per relationship, ONE map-side-combined groupBy on
    * the FK (≤ |distinct fk| rows cross the exchange, not the child
    * table) and ONE join against the distinct parent keys — Spark
    * broadcasts the parent side when it is small (dimension tables)
    * and sort-merges otherwise; the child table itself is never
    * re-shuffled. Coverage rounds in integer space (the repo's
    * tie-safe `(2a+b) DIV 2b` rule) so both engines emit the same
    * 2-dp value.
    */
  def referentialIntegrity(
      rels: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    val reports = rels.map { case (name, child, fkCol, parent, pkCol) =>
      val fkCounts = child
        .groupBy(col(fkCol).as("_fk"))
        .agg(count(lit(1)).as("_cnt"))
      val pk = parent.select(col(pkCol).as("_fk")).distinct()
        .withColumn("_present", lit(1))
      fkCounts.join(pk, Seq("_fk"), "left")
        .agg(
          sum(col("_cnt")).as("child_rows"),
          sum(when(col("_fk").isNull, col("_cnt")).otherwise(lit(0L)))
            .as("null_fk_rows"),
          sum(when(col("_fk").isNotNull && col("_present").isNull, col("_cnt"))
            .otherwise(lit(0L))).as("orphan_rows"),
          count(when(col("_fk").isNotNull && col("_present").isNull, lit(1)))
            .as("orphan_keys"))
        .select(
          lit(name).as("relationship"),
          coalesce(col("child_rows"), lit(0L)).as("child_rows"),
          coalesce(col("null_fk_rows"), lit(0L)).as("null_fk_rows"),
          coalesce(col("orphan_rows"), lit(0L)).as("orphan_rows"),
          col("orphan_keys"))
        // coverage from the COALESCED counts (ADVICE r11: computing it
        // in the same select read the pre-coalesce sum, so an empty
        // child yielded NULL coverage next to zeroed counts)
        .withColumn("coverage_pct",
          expr("(2*(child_rows - null_fk_rows - orphan_rows)*10000" +
            " + greatest(child_rows, 1L))" +
            " DIV (2*greatest(child_rows, 1L))") / 100.0)
    }
    reports.reduce(_ unionByName _).orderBy("relationship")
  }

  /** Orphan sample for one relationship: the child rows whose non-null
    * FK has no parent — the drill-down after [[referentialIntegrity]]
    * flags a relationship. Plain left-anti join; Spark picks
    * broadcast/SMJ by parent size.
    */
  def orphanRows(child: DataFrame, fkCol: String,
                 parent: DataFrame, pkCol: String): DataFrame =
    child.filter(col(fkCol).isNotNull)
      .join(parent.select(col(pkCol).as(fkCol)).distinct(),
        Seq(fkCol), "left_anti")

  /** Benford first-significant-digit conformance (SURVEY §2 B20) —
    * the classic fabricated-numbers screen for financial columns:
    * naturally-occurring multi-magnitude amounts follow
    * P(d) = log10(1+1/d); uniform or invented ones don't.
    *
    * Output: one row per leading digit 1-9 with observed count, the
    * observed share and the Benford expectation in integer
    * MICRO-units, and the absolute deviation. Engine-portable by
    * construction: the expectation table is a LITERAL (the nine
    * log10(1+1/d) values pre-quantized to micro, summing to exactly
    * 1e6 — no runtime transcendentals), and the observed share rounds
    * in integer space. The leading digit is extracted from the
    * DECIMAL(18,2) string form (cast first — double→string rendering
    * is engine-specific, decimal→string is not), so a value like
    * 0.07 yields first significant digit 7.
    *
    * Scale shape: scan-local digit extraction, one 9-group
    * map-side-combined groupBy — nothing else crosses the exchange.
    */
  def benfordDigits(df: DataFrame, column: String): DataFrame = {
    // log10(1+1/d) in micro-units; literals, so both engines agree
    val expMicro = Map(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
      4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L,
      8 -> 51153L, 9 -> 45757L)
    val digitStr = substring(regexp_replace(
      abs(col(column)).cast("decimal(18,2)").cast("string"),
      "[^1-9]", ""), 1, 1)
    val expCol = expMicro.foldLeft(lit(null).cast("long")) {
      case (acc, (d, m)) => when(col("digit") === d, lit(m)).otherwise(acc)
    }
    df.filter(col(column).isNotNull && abs(col(column)) >= 0.005)
      .select(digitStr.cast("int").as("digit"))
      .filter(col("digit").isNotNull)
      .groupBy("digit").agg(count(lit(1)).as("obs_cnt"))
      // global window over the ≤9-row GROUPED frame (deliberate: only
      // nine digit rows cross into the single window partition — a
      // crossJoin'd total agg would re-scan the table instead)
      .withColumn("_n", sum(col("obs_cnt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(
        col("digit"), col("obs_cnt"),
        expr("(2*obs_cnt*1000000 + _n) DIV (2*_n)").as("obs_micro"),
        expCol.as("exp_micro"))
      .withColumn("dev_micro", abs(col("obs_micro") - col("exp_micro")))
      .orderBy("digit")
  }

  /** Volume-anomaly detection (SURVEY §2 B22 — the arrival monitor:
    * "did this hour's partition come in short?"): per (series, time
    * bucket) event counts, DENSIFIED over each series' observed
    * bucket range (an absent bucket is a ZERO count — the classic
    * failure mode is missing data, which a groupBy alone never sees),
    * then flagged by the robust modified-z rule
    * |cnt − median| · 0.6745 > z · MAD over that series' buckets.
    *
    * Engine-portable with NO rounding at all: counts are integers, so
    * their interpolated median/MAD land on exact .0/.5 doubles, and
    * the classification is IEEE-exact arithmetic on them (the A17
    * discipline, minus the rounding it doesn't need).
    *
    * Scale shape: one corpus groupBy to (series, bucket) counts; the
    * densify explode, the per-series median/MAD aggregate, and the
    * join-back all run on the BUCKET frame (series × buckets — a
    * dimension, not the corpus).
    */
  def volumeAnomalies(df: DataFrame, epochMicrosCol: Column, seriesCol: String,
                      bucketMicros: Long, z: Double = 3.5): DataFrame = {
    require(bucketMicros > 0, s"bucketMicros must be positive: $bucketMicros")
    val counts = graft.CacheScope.persist(
      df.filter(col(seriesCol).isNotNull && epochMicrosCol.isNotNull)
        .withColumn("_us", epochMicrosCol.cast("long"))
        // integer DIV (float division corrupts near 2^53; non-negative
        // epochs make truncation = floor)
        .withColumn("_b", expr(s"_us DIV ${bucketMicros}L"))
        .groupBy(col(seriesCol).as("series"), col("_b").as("bucket"))
        .agg(count(lit(1)).as("cnt")))
    val dense = counts.groupBy("series")
      .agg(min(col("bucket")).as("_lo"), max(col("bucket")).as("_hi"))
      .select(col("series"), explode(sequence(col("_lo"), col("_hi"))).as("bucket"))
      .join(counts, Seq("series", "bucket"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val denseP = graft.CacheScope.persist(dense)
    val stats = denseP.groupBy("series").agg(
      percentile(col("cnt").cast("double"), lit(0.5)).as("med"))
    val withMed = denseP.join(broadcast(stats), "series")
    val mads = withMed.groupBy("series").agg(
      percentile(abs(col("cnt") - col("med")), lit(0.5)).as("mad"))
    withMed.join(broadcast(mads), "series")
      .select(col("series"), (col("bucket") * bucketMicros).as("bucket_start_us"),
        col("cnt"), col("med"), col("mad"),
        (abs(col("cnt") - col("med")) * 0.6745 > col("mad") * z).as("anomaly"))
      .orderBy("series", "bucket_start_us")
  }

  /** Before/after comparison in ONE scan: when the repair is
    * expressible as per-row Column transforms (`repairs`), the
    * "after" metrics are computed from the repaired expression inside
    * the same aggregation as the "before" metrics — one pass over the
    * data instead of two full scans joined afterwards. Identical
    * output to `beforeAfter(dqSummary(df), dqSummary(repaired df))`.
    */
  def beforeAfterOneScan(df: DataFrame, specs: Seq[(String, Seq[Rule])],
                         repairs: Map[String, Column]): DataFrame = {
    val perCol = specs.map { case (name, rules) =>
      val (total, bNull, bOof) = dqCounts(col(name), rules)
      val (_, aNull, aOof) = dqCounts(repairs.getOrElse(name, col(name)), rules)
      struct(
        lit(name).as("column"), total.as("total"),
        bNull.as("b_null"), bOof.as("b_oof"),
        aNull.as("a_null"), aOof.as("a_oof"))
    }
    df.agg(array(perCol.toIndexedSeq: _*).as("_c"))
      .select(explode(col("_c")).as("c"))
      .select(
        col("c.column").as("column"),
        dqScore(col("c.total"), col("c.b_null"), col("c.b_oof")).as("before_score"),
        dqScore(col("c.total"), col("c.a_null"), col("c.a_oof")).as("after_score"))
      .withColumn("delta", round(col("after_score") - col("before_score"), 2))
      .orderBy("column")
  }
}
