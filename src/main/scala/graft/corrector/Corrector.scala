package graft.corrector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Repair operations (reference: home.py:1196-2076 "Data
  * Corrector"). Each is a narrow transformation (scan-local Column
  * rewrite) or a pruned filter — no shuffles, fully codegen'd; the
  * interactive pandas mutations become declarative rewrites Spark can
  * pipeline with the surrounding plan.
  */
object Corrector {

  /** Search engine (home.py:1200-1371): predicate builders. */
  object search {
    def equals(c: Column, v: Any): Column = c === v
    def gte(c: Column, v: Any): Column = c >= v
    def lt(c: Column, v: Any): Column = c < v
    def between(c: Column, lo: Any, hi: Any): Column = c >= lo && c <= hi
  }

  /** home.py:1384-1389 drop the column. */
  def dropColumns(df: DataFrame, cols: String*): DataFrame = df.drop(cols: _*)

  /** home.py:1502-1579 drop rows matching a value predicate. */
  def dropRowsWhere(df: DataFrame, pred: Column): DataFrame = df.filter(!pred)

  /** home.py:1494-1568 "Alter the Cell" by value: conditional
    * replace across the whole column.
    */
  def replaceValue(df: DataFrame, column: String, from: Any, to: Any): DataFrame =
    df.withColumn(column, when(col(column) === from, to).otherwise(col(column)))

  /** home.py:1498-1572 "Fill with NaN" by value. */
  def nullifyValue(df: DataFrame, column: String, v: Any): DataFrame =
    df.withColumn(column,
      when(col(column) === v, lit(null)).otherwise(col(column)))

  /** home.py:1590-1619 case conversions. */
  def toTitleCase(df: DataFrame, column: String): DataFrame =
    df.withColumn(column, initcap(lower(col(column))))
  def toLowerCase(df: DataFrame, column: String): DataFrame =
    df.withColumn(column, lower(col(column)))
  def toUpperCase(df: DataFrame, column: String): DataFrame =
    df.withColumn(column, upper(col(column)))

  /** home.py:1621-1630 "Remove multiple spaces" + 1632-1641 strip. */
  def collapseSpaces(df: DataFrame, column: String): DataFrame =
    df.withColumn(column, regexp_replace(col(column), " +", " "))
  def strip(df: DataFrame, column: String): DataFrame =
    df.withColumn(column, trim(col(column)))

  /** Unicode normalization (default NFC — see
    * [[graft.functions.UnicodeNormalize]]): run BEFORE any content
    * hashing/dedup on multilingual corpora — composed and decomposed
    * representations of the same text are byte-different, so every
    * fingerprint operator (D1/D47/D55/D59…) misses the duplicate
    * until both sides agree on a form. NFKC additionally folds
    * compatibility variants (ligatures, full-width forms).
    */
  def normalizeUnicode(c: Column, form: String = "NFC"): Column =
    graft.functions.UnicodeNormalize(c, form)
  def normalizeUnicode(df: DataFrame, column: String, form: String): DataFrame =
    df.withColumn(column, normalizeUnicode(col(column), form))

  /** home.py:1643-1698 substring replace. */
  def replaceSubstring(df: DataFrame, column: String, from: String, to: String): DataFrame =
    df.withColumn(column, regexp_replace(col(column),
      java.util.regex.Pattern.quote(from), java.util.regex.Matcher.quoteReplacement(to)))

  /** home.py:1700-1708 phone normalizer: strip every non-digit, keep
    * the last 10 digits (drops 0 / 90 / +90 country prefixes).
    */
  def normalizePhone(c: Column): Column = {
    val digits = regexp_replace(c.cast("string"), "[^0-9]", "")
    when(length(digits) >= 10, substring(digits, -10, 10)).otherwise(digits)
  }
  def normalizePhone(df: DataFrame, column: String): DataFrame =
    df.withColumn(column, normalizePhone(col(column)))

  /** Fill nulls with a constant. */
  def fillNulls(df: DataFrame, column: String, value: Any): DataFrame =
    df.withColumn(column, coalesce(col(column), lit(value)))

  /** Fill numeric nulls with the column mean (single extra agg job,
    * joined back as a broadcast scalar — no driver collect of data).
    */
  def fillNullsWithMean(df: DataFrame, column: String, scale: Int = 4): DataFrame = {
    val m = df.agg(round(avg(col(column)), scale).as("_mean"))
    df.crossJoin(broadcast(m))
      .withColumn(column, coalesce(col(column), col("_mean")))
      .drop("_mean")
  }

  /** Stable row index for index-based search/edit (home.py:1373-1377
    * — pandas positional index has no distributed equivalent, so the
    * index is DEFINED by a sort order): `row_index` (INT, 0-based) =
    * the D96 distributed rank under `orderCols`
    * ([[graft.operators.Rank.globalRank]] — range-partitioned, never
    * one task), rows that tie on `orderCols` broken by an id pinned
    * with the rank's partitioning.
    */
  def withRowIndex(df: DataFrame, orderCols: Seq[String]): DataFrame =
    graft.operators.Rank.globalRank(
        df.withColumn("_rid", monotonically_increasing_id()),
        orderCols.map(col), col("_rid"))
      .withColumn("row_index", col("global_rank").cast("int"))
      .drop("_rid", "global_rank")

  /** home.py:1966-1990 sorting transformation. */
  def sortBy(df: DataFrame, cols: Seq[(String, Boolean)]): DataFrame =
    df.orderBy(cols.map { case (c, asc_) => if (asc_) asc(c) else desc(c) }.toIndexedSeq: _*)

  /** home.py:2026-2035 reorder / eliminate columns for export. */
  def reorder(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col).toIndexedSeq: _*)

  /** Multi-format date parsing repair (SURVEY §2 C25 — the engine
    * form of the reference's "Convert to date" repair, home.py's cast
    * menu, made format-robust): a string date column parsed by the
    * FIRST matching pattern from a caller-ordered candidate list.
    * Adds `out` (TimestampType; null when nothing matches) and
    * `out_format` (the winning pattern; null when unparsed).
    *
    * Entirely scan-local `try_to_timestamp` chains — strict
    * CORRECTED-parser semantics, so a pattern either fully matches or
    * yields null (no partial/lenient parses), which is what makes the
    * first-match rule deterministic. Mutually-exclusive pattern lists
    * (distinct separators) make the priority order irrelevant;
    * ambiguous lists (dd/MM vs MM/dd) resolve by caller order —
    * that's a POLICY input, not something the engine can infer.
    */
  def parseDatesMulti(df: DataFrame, column: String, formats: Seq[String],
                      out: String = "parsed_ts"): DataFrame = {
    require(formats.nonEmpty, "parseDatesMulti: empty format list")
    val c = col(column)
    val parsed = coalesce(formats.map(f => try_to_timestamp(c, lit(f))): _*)
    val fmt = formats.reverse.foldLeft(lit(null).cast("string")) { (acc, f) =>
      when(try_to_timestamp(c, lit(f)).isNotNull, lit(f)).otherwise(acc)
    }
    df.withColumn(out, parsed).withColumn(s"${out}_format", fmt)
  }

  /** Per-format parse census for [[parseDatesMulti]]'s candidate
    * list: how many rows each pattern wins (first-match rule), plus
    * `(unparsed)` — the report that tells you which format a legacy
    * extract actually uses before you repair it. One map-side-combined
    * groupBy over ≤ |formats|+1 groups.
    */
  def dateFormatReport(df: DataFrame, column: String,
                       formats: Seq[String]): DataFrame =
    parseDatesMulti(df, column, formats, "_p")
      .groupBy(coalesce(col("_p_format"), lit("(unparsed)")).as("format"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("format"))

  /** Localized-number parsing repair (SURVEY §2 C26 — the numeric
    * sibling of C25, and the reference's home turf: TR/EU extracts
    * write `1.234,56`, US ones `1,234.56`; a naive cast silently
    * nulls — or worse, misreads — the other locale). Strict grouping
    * validation (`1.23,4` is rejected, not guessed), optional
    * trailing `%`, then a pure string-rewrite + DECIMAL cast — no
    * float arithmetic anywhere: the percent scaling multiplies by the
    * exact decimal 0.01, so every parsed value is exact and
    * engine-portable at any scale.
    */
  def localizedNumberValid(c: Column, style: String = "eu"): Column =
    trim(c).rlike(style match {
      case "eu" => "^[+-]?([0-9]{1,3}(\\.[0-9]{3})*|[0-9]+)(,[0-9]+)?%?$"
      case "us" => "^[+-]?([0-9]{1,3}(,[0-9]{3})*|[0-9]+)(\\.[0-9]+)?%?$"
      case other => throw new IllegalArgumentException(
        s"localizedNumberValid: unknown style '$other' (eu|us)")
    })

  /** Parsed numeric value as DECIMAL(28,8) — null when the string
    * does not strictly match the locale's format; a trailing `%`
    * scales by exact 0.01.
    */
  def localizedNumber(c: Column, style: String = "eu"): Column = {
    val t = trim(c)
    val noPct = regexp_replace(t, "%$", "")
    val cleaned = style match {
      case "eu" => regexp_replace(regexp_replace(noPct, "\\.", ""), ",", ".")
      case "us" => regexp_replace(noPct, ",", "")
      case other => throw new IllegalArgumentException(
        s"localizedNumber: unknown style '$other' (eu|us)")
    }
    // gate the cast on validity BEFORE it runs: ANSI mode hard-errors
    // on an invalid decimal cast, so the cast input must be null (not
    // garbage) for non-matching rows
    val v = when(localizedNumberValid(c, style), cleaned)
      .otherwise(lit(null).cast("string")).cast("decimal(28,8)")
    when(t.rlike("%$"), (v * lit(BigDecimal("0.01"))).cast("decimal(28,8)"))
      .otherwise(v)
  }

  /** Deterministic pseudonymization (SURVEY §2 C27 — the repair-side
    * partner of D18's redaction and D71's k-anonymity: replace an
    * identifier with a salted-hash token that is STABLE, so joins and
    * group-bys still work across tables and ingest batches, but the
    * original value is gone). `sha2(salt ‖ ':' ‖ value)` truncated to
    * `bits/4` hex chars; same salt + same value → same token
    * everywhere, different salt → unlinkable corpora. Scan-local and
    * codegen'd.
    *
    * Threat-model note (scaladoc'd, not hidden): salted hashing
    * defeats casual lookup and cross-corpus linkage without the salt,
    * but a LOW-ENTROPY domain (phone numbers, national IDs) remains
    * brute-forceable by anyone HOLDING the salt — treat the salt as a
    * key, rotate per corpus, and prefer dropping the column when
    * linkability isn't needed.
    */
  def pseudonymize(c: Column, salt: String, bits: Int = 64): Column = {
    require(salt.nonEmpty, "pseudonymize: empty salt")
    require(bits >= 32 && bits <= 256 && bits % 4 == 0,
      s"pseudonymize: bits must be a multiple of 4 in [32,256], got $bits")
    when(c.isNull, lit(null).cast("string"))
      .otherwise(substring(
        sha2(concat(lit(salt), lit(":"), c.cast("string")), 256), 1, bits / 4))
  }

  /** Sinks (downloader.py equivalent — distributed writers, not a
    * driver-side XLSX export).
    */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)
}
