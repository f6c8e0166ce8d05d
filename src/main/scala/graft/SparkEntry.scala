package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.profile.Profiler
import graft.quality.{Detector, Rule, RowRule, Validators}
import graft.corrector.{Corrector, Enrich}
import graft.dedup.Dedup
import graft.ann.{Ann, Pq}
import graft.text.TextAnalysis

/** Driver contract — see /root/repo/SURVEY.md §2 for the operator ↔
  * query mapping. Every query has a DuckDB oracle in [[oracleSql]]
  * with byte-identical column names and deterministic ordering.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** D84 gate merge-table size (r12 verdict #2: ≥64 so the batched
    * inducer and the segmented encode are what the gate grades;
    * shared by the Spark gates and the unrolled oracle builders).
    */
  private val BpeGateMerges = 64

  /** Learned BPE merge table memoized per (sfDir, table size): q_d84
    * grades the induction and q_d84b grades the ENCODE of the same
    * table — re-learning it inside the encode gate duplicated ~6.5 s
    * of every bench/gate run at zero evidence value (r13 verdict #4).
    * Driver-side collected rows (64 tuples), so CacheScope.clear()
    * between queries cannot evict it; keyed by corpus dir.
    */
  private val bpeGateCache = new java.util.concurrent.ConcurrentHashMap[
    String, Array[(Int, String, String, String, Long)]]()
  private def bpeGateTable(s: SparkSession, d: String)
      : Array[(Int, String, String, String, Long)] =
    bpeGateCache.computeIfAbsent(s"$d#$BpeGateMerges", _ =>
      graft.text.Bpe.learnMergesBatched(t(s, d, "documents"), "text",
        BpeGateMerges).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))))

  /** events with deterministically injected nulls, used by the DQ
    * queries (the synthetic tables are clean; the doctoring is
    * mirrored verbatim in the oracle SQL).
    */
  private def doctoredEvents(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    ev.select(
      col("event_id"),
      when(col("event_type") === "error" && col("user_id") % 2 === 0, lit(null))
        .otherwise(col("ts")).as("ts"),
      when(col("event_type") === "error" && col("user_id") % 2 === 0, lit(null))
        .otherwise(col("user_id")).as("user_id"),
      col("event_type"),
      when(col("event_type") === "error", lit(null)).otherwise(col("value")).as("value"),
      when(col("event_type") === "error", lit(null)).otherwise(col("props")).as("props"))
  }
  private val doctoredEventsSql =
    """SELECT event_id,
      | CASE WHEN event_type='error' AND user_id%2=0 THEN NULL ELSE ts END AS ts,
      | CASE WHEN event_type='error' AND user_id%2=0 THEN NULL ELSE user_id END AS user_id,
      | event_type,
      | CASE WHEN event_type='error' THEN NULL ELSE value END AS value,
      | CASE WHEN event_type='error' THEN NULL ELSE props END AS props
      |FROM events""".stripMargin

  /** events with a doctored richer-JSON column for the A20 census
    * (four top-level-shape classes; mirrored verbatim in SQL).
    */
  private def doctoredJson(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val kv = (col("event_id") % 100).cast("string")
    ev.withColumn("props2",
      when(col("event_id") % 4 === 0, concat(lit("{\"k\": "), kv,
        lit(", \"device\": \"mobile\", \"score\": 1.5}")))
        .when(col("event_id") % 4 === 1, concat(lit("{\"k\": "), kv,
          lit(", \"device\": \"web\"}")))
        .when(col("event_id") % 4 === 2, concat(lit("{\"k\": "), kv,
          lit(", \"flags\": {\"new\": true}}")))
        .otherwise(col("props")))
  }
  // single-line lines only: this fragment is interpolated into outer
  // stripMargin strings, where a leading || would be re-stripped
  private val doctoredJsonSql =
    """SELECT CASE
      | WHEN event_id % 4 = 0 THEN '{"k": ' || CAST(event_id % 100 AS VARCHAR) || ', "device": "mobile", "score": 1.5}'
      | WHEN event_id % 4 = 1 THEN '{"k": ' || CAST(event_id % 100 AS VARCHAR) || ', "device": "web"}'
      | WHEN event_id % 4 = 2 THEN '{"k": ' || CAST(event_id % 100 AS VARCHAR) || ', "flags": {"new": true}}'
      | ELSE props END AS p
      |FROM events""".stripMargin

  /** Synthetic e-mail column derived from customer (mirrored in SQL). */
  private def emailCol: Column = {
    val local = lower(regexp_replace(col("c_name"), "#", "."))
    val domain = when(col("c_custkey") % 5 === 0, "gmail.com")
      .when(col("c_custkey") % 5 === 1, "hotmail.com")
      .when(col("c_custkey") % 5 === 2, "example.org")
      .when(col("c_custkey") % 5 === 3, "gamil.com")
      .otherwise("mail.co.")
    val email0 = concat(local, lit("@"), domain)
    when(col("c_custkey") % 11 === 0, regexp_replace(email0, "@", ""))
      .when(col("c_custkey") % 13 === 0, concat(lit("yok@"), domain))
      .when(col("c_custkey") % 17 === 0, upper(email0))
      .otherwise(email0)
  }
  private val emailSqlKeyed =
    """SELECT c_custkey, CASE
      | WHEN c_custkey%11=0 THEN replace(e0,'@','')
      | WHEN c_custkey%13=0 THEN 'yok@' || d
      | WHEN c_custkey%17=0 THEN upper(e0)
      | ELSE e0 END AS email
      |FROM (SELECT c_custkey, lower(replace(c_name,'#','.')) || '@' || d AS e0, d FROM (
      | SELECT c_custkey, c_name, CASE c_custkey%5
      |  WHEN 0 THEN 'gmail.com' WHEN 1 THEN 'hotmail.com'
      |  WHEN 2 THEN 'example.org' WHEN 3 THEN 'gamil.com'
      |  ELSE 'mail.co.' END AS d FROM customer))""".stripMargin
  private val emailSql = s"SELECT email FROM ($emailSqlKeyed)"

  /** emailViolation mirrored for DuckDB (same rule union as
    * Validators.emailViolation).
    */
  private val emailViolationSql =
    """(regexp_matches(email, '[~`!#$%^&*()+={}\[\]|/:;"''<>?,\\ ]')
      | OR length(email) <= 6
      | OR strpos(email,'@') = 0 OR strpos(email,'.') = 0
      | OR length(email)-length(replace(email,'@','')) <> 1
      | OR regexp_matches(email, '^(@|yok@|YOK@|www|bbb@|girilecek@|deneme@|Mailadresi@|dummy@|ingo@)')
      | OR regexp_matches(email, '(@\.|\.@|@-)')
      | OR regexp_matches(email, '(gmail|yahoo|hotmail|msn|@live|yandex|outlook|windowslive)$')
      | OR regexp_matches(email, '(\.com\.t|\.o|\.cm|\.co|\.ocom|\.ney|\.co\.|\.cvom|\.comtr|\.com\.|\.comom|\.c|\.r|\.com\.tr''|\.com\.tr/)$')
      | OR regexp_matches(email, '(windowlive|hotmil|hatmail|hotmial|gamil|gmmail|outlok|yaaho)')
      | OR regexp_matches(email, '[A-ZıİçÇşŞğĞüÜöÖ]'))""".stripMargin

  /** Deterministic synthetic phone number in the canonical
    * 99-999-999-9999 mask (the testdata customer table carries no
    * phone column), plus doctored bad variants — mirrored in SQL.
    */
  private def phoneBase: Column = format_string("%02d-%03d-%03d-%04d",
    col("c_custkey") % 90 + 10, col("c_custkey") * 7 % 1000,
    col("c_custkey") * 13 % 1000, col("c_custkey") * 17 % 10000)
  private val phoneBaseSql =
    "printf('%02d-%03d-%03d-%04d', c_custkey%90+10, c_custkey*7%1000, c_custkey*13%1000, c_custkey*17%10000)"
  /** TR-style phone corpus for q_b15: a 10-digit '5…' msisdn derived
    * from c_custkey, doctored by custkey%8 into the reference's
    * malformed classes — d111, d613, d216, d413, y10, dummy, invalid
    * — plus the proper format. Dummy fragments that arise by luck of
    * the digit derivation reclassify a row identically in BOTH
    * engines, so the oracle stays exact.
    */
  private def trPhoneBase: Column = format_string("5%02d%03d%04d",
    col("c_custkey") % 100, col("c_custkey") * 7 % 1000, col("c_custkey") * 17 % 10000)
  private def trPhoneCol: Column = {
    val b = trPhoneBase
    when(col("c_custkey") % 8 === 1, concat(lit("0"), b))                     // d111
      .when(col("c_custkey") % 8 === 2, concat(substring(b, 1, 3), lit("-"),  // d613
        substring(b, 4, 3), lit("-"), substring(b, 7, 2), lit("-"), substring(b, 9, 2)))
      .when(col("c_custkey") % 8 === 3, concat(lit("+90 "), substring(b, 1, 3), // d216
        lit(" "), substring(b, 4, 3), lit(" "), substring(b, 7, 4)))
      .when(col("c_custkey") % 8 === 4, concat(lit("90"), substring(b, 1, 1),  // d413
        lit(" "), substring(b, 2, 9)))
      .when(col("c_custkey") % 8 === 5, concat(lit("0"), substring(b, 1, 9)))  // y10
      .when(col("c_custkey") % 8 === 6, concat(substring(b, 1, 4), lit("111111"))) // dummy
      .when(col("c_custkey") % 8 === 7, substring(b, 1, 5))                    // invalid
      .otherwise(b)                                                           // proper
  }
  private val trPhoneBaseSql =
    "printf('5%02d%03d%04d', c_custkey%100, c_custkey*7%1000, c_custkey*17%10000)"
  private val trPhoneSql =
    s"""SELECT CASE
       | WHEN c_custkey%8=1 THEN '0' || $trPhoneBaseSql
       | WHEN c_custkey%8=2 THEN substr($trPhoneBaseSql,1,3)||'-'||substr($trPhoneBaseSql,4,3)||'-'||substr($trPhoneBaseSql,7,2)||'-'||substr($trPhoneBaseSql,9,2)
       | WHEN c_custkey%8=3 THEN '+90 '||substr($trPhoneBaseSql,1,3)||' '||substr($trPhoneBaseSql,4,3)||' '||substr($trPhoneBaseSql,7,4)
       | WHEN c_custkey%8=4 THEN '90'||substr($trPhoneBaseSql,1,1)||' '||substr($trPhoneBaseSql,2,9)
       | WHEN c_custkey%8=5 THEN '0'||substr($trPhoneBaseSql,1,9)
       | WHEN c_custkey%8=6 THEN substr($trPhoneBaseSql,1,4)||'111111'
       | WHEN c_custkey%8=7 THEN substr($trPhoneBaseSql,1,5)
       | ELSE $trPhoneBaseSql END AS phone
       |FROM customer""".stripMargin

  /** The phone taxonomy's CASE expression in portable SQL, generated
    * from the SAME [[Validators.trPhoneMasks]] constants the Spark
    * classifier compiles — one source of truth, two engines.
    */
  private val trPhoneClassCaseSql: String = {
    val (before, after) = Validators.trPhoneMasks.span(_._1 != "d1312")
    def ws(ms: Seq[(String, String)]) = ms.map { case (id, m) =>
      s"WHEN regexp_matches(phone, '${Validators.maskRegex(m)}') THEN '$id'"
    }
    val branches = ws(before) ++
      Seq("WHEN regexp_matches(phone, '^[0-9 ]{12}$') AND phone LIKE '%  %' THEN 'd1212'") ++
      ws(after) ++
      Seq(
        "WHEN length(phone)=10 AND (phone LIKE '0%' OR regexp_matches(phone, '[-/() ]')) THEN 'y10'",
        s"WHEN regexp_matches(phone, '${Validators.phoneDummyPattern}') THEN 'dummy'",
        "WHEN length(phone)<10 OR regexp_matches(phone, '[A-Za-z]') THEN 'invalid'",
        "WHEN length(phone)>10 THEN 'others'")
    branches.mkString("CASE\n ", "\n ", "\n END")
  }

  /** Flagship: multi-column DQ summary over customer at sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Detector.dqSummary(t(spark, dir, "customer"), Seq(
      "c_acctbal" -> Seq(Rule.NumBetween(-1000, 10000)),
      "c_mktsegment" -> Seq(Rule.NoDigits, Rule.NoSpaces),
      "c_name" -> Seq(Rule.LenBetween(10, 30))))
  }

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- A. profiling
    "q_a1_summary" -> ((s, d) => Profiler.summary(t(s, d, "customer"))),
    "q_a2_null_profile" -> ((s, d) => Profiler.nullProfile(t(s, d, "customer"))),
    "q_a3_numeric_stats" -> ((s, d) => Profiler.numericStats(
      t(s, d, "lineitem"), Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),
    "q_a4_strlen_stats" -> ((s, d) => Profiler.stringLengthStats(t(s, d, "part"), "p_name")),
    "q_a5_freq_table" -> ((s, d) => Profiler.frequencyTable(t(s, d, "customer"), "c_mktsegment")),
    "q_a6_topk_values" -> ((s, d) => Profiler.topK(t(s, d, "part"), "p_brand", 5)),
    "q_a6b_bottomk_values" -> ((s, d) => Profiler.bottomK(t(s, d, "events"), "props", 5)),
    "q_a7_pattern_profile" -> ((s, d) => Profiler.patternProfile(t(s, d, "customer"), "c_name")),
    "q_a8_unexpected" -> ((s, d) => Profiler.unexpectedValues(t(s, d, "events"), "props", 1.0)),
    "q_a9_sign_counts" -> ((s, d) => Profiler.signCounts(t(s, d, "customer"), "c_acctbal")),
    "q_a10_distinct" -> ((s, d) => Profiler.distinctProfile(
      t(s, d, "orders"), Seq("o_orderstatus", "o_orderpriority", "o_custkey"))
      .drop("approx_distinct")),
    "q_a11_corr" -> ((s, d) => Profiler.correlationMatrix(
      t(s, d, "lineitem"), Seq("l_quantity", "l_extendedprice", "l_discount"))),
    "q_a12_histogram" -> ((s, d) => Profiler.histogram(t(s, d, "lineitem"), "l_quantity", 5.0)),
    // categorical entropy in nano-nat integer space; the guard row
    // (zz_guard) pins the ln table's engine-portability (D60 scheme)
    "q_a21_entropy" -> ((s, d) => {
      val (prof, g) = Profiler.entropyProfileAndGuard(
        t(s, d, "customer"), Seq("c_mktsegment", "c_nationkey"))
      prof.unionByName(g.select(lit("zz_guard").as("column"),
        lit(-1L).as("n"), lit(-1L).as("distinct_vals"),
        when(col("min_term_dist") > 1e-7, 1L).otherwise(0L)
          .as("entropy_nano")))
        .orderBy("column")
    }),
    // JSON column profiling: four doctored top-level-shape classes
    // (scalar extras, nested object, the original {"k": N}); census =
    // key presence, values = A19 type shares of named scalar keys
    "q_a20_json_census" -> ((s, d) =>
      Profiler.jsonKeyCensus(doctoredJson(s, d), "props2")),
    "q_a20b_json_values" -> ((s, d) =>
      Profiler.jsonValueProfile(doctoredJson(s, d), "props2",
        Seq("k", "device", "score"))),
    // string-column type inference: five doctored columns (pure int,
    // decimal-string, dated with 3.4% corruption, boolean with 4.3%
    // corruption, mixed) — the 95% threshold decides in integer space
    "q_a19_infer_types" -> ((s, d) => {
      val o = t(s, d, "orders")
      val df = o.select(
        col("o_orderkey").cast("string").as("s_int"),
        col("o_totalprice").cast("decimal(18,2)").cast("string").as("s_double"),
        when(col("o_orderkey") % 29 === 0, lit("garbage"))
          .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("s_date"),
        when(col("o_orderkey") % 23 === 0, lit("maybe"))
          .when(col("o_orderstatus") === "O", lit("true"))
          .otherwise(lit("false")).as("s_bool"),
        when(col("o_orderkey") % 3 === 0, col("o_orderkey").cast("string"))
          .when(col("o_orderkey") % 3 === 1, lit("word"))
          .otherwise(lit("12.5")).as("s_mixed"))
      Profiler.inferTypes(df,
        Seq("s_int", "s_double", "s_date", "s_bool", "s_mixed"))
    }),
    // robust outliers: every downstream value derives from the 4-dp
    // ROUNDED quartiles via IEEE-exact ops only, so the verdict is
    // engine-portable wherever the a3 quantile contract holds
    "q_a17_outliers" -> ((s, d) => Profiler.outlierProfile(
      t(s, d, "lineitem"), Seq("l_quantity", "l_extendedprice"))),
    // functional-dependency profile: l_orderkey→l_returnflag holds or
    // not per the data; l_partkey→l_suppkey is genuinely violated
    "q_a18_fd" -> ((s, d) => Profiler.fdViolations(
      t(s, d, "lineitem"), Seq(
        ("l_orderkey", "l_returnflag"),
        ("l_orderkey", "l_linestatus"),
        ("l_partkey", "l_suppkey")))),
    // integral-valued columns: all E[x^k] sums stay exact in doubles,
    // so the higher moments are bit-identical across engines
    "q_a13_moments" -> ((s, d) =>
      Profiler.moments(t(s, d, "lineitem"), Seq("l_quantity"))
        .union(Profiler.moments(t(s, d, "part"), Seq("p_size")))
        .orderBy("column")),

    // ---- B. quality detection
    // ts is emitted as an epoch-nanos LONG — a representation-neutral
    // value the oracle mirrors with epoch_ns(); comparing rendered
    // timestamps would pit Spark's formatting against DuckDB's.
    // Tables.epochMicros adapts to the physical ts type (null-safe:
    // the doctored nulls survive the conversion)
    "q_b1_useless_rows" -> ((s, d) => {
      val de = doctoredEvents(s, d)
      Detector.uselessRows(
        de.withColumn("ts", Tables.epochMicros(de, "ts") * lit(1000L)))
        .orderBy("event_id")
    }),
    "q_b2_dup_rows" -> ((s, d) => {
      val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value", "props")
      Detector.duplicateRows(ev.union(ev.filter(col("event_type") === "click")))
        .orderBy("event_id")
    }),
    "q_b3_dup_by_key" -> ((s, d) => Detector.duplicatesByKey(t(s, d, "orders"), "o_custkey")),
    "q_b4_string_sim" -> ((s, d) => {
      // nation names + typo'd variants: the detector must pair each
      // name with its corruption (rows-only check; exactness is
      // covered by the tf-idf spec against engineered fixtures)
      val n = t(s, d, "nation")
      val corpus = n.select(col("n_nationkey").cast("long").as("id"), col("n_name").as("s"))
        .union(n.select((col("n_nationkey") + 100).cast("long").as("id"),
          concat(col("n_name"), lit(" X")).as("s")))
      // candidateBudget pinned to MaxValue: the GATE compares fixed
      // relative-cap semantics against the oracle's uncapped scoring,
      // so the auto-degrade (a function of corpus statistics) must
      // not be able to change this query's result set on a future
      // corpus. The guard itself is gated by CandidateGuardSpec and
      // the PropertySpec soundness property.
      graft.similarity.StringSim.similarPairs(corpus, "s", "id", 0.52,
          candidateBudget = Long.MaxValue)
        .orderBy("id_a", "id_b")
    }),
    "q_b5_rule_numeric" -> ((s, d) => t(s, d, "lineitem")
      .filter(col("l_quantity").isNotNull && Rule.NumBetween(5, 45).violation(col("l_quantity")))
      .select(col("l_quantity").as("value")).distinct().orderBy("value")),
    "q_b6_rule_date" -> ((s, d) => t(s, d, "orders")
      .filter(col("o_orderdate").isNotNull &&
        Rule.DateBetween("1995-01-01", "1997-12-31").violation(col("o_orderdate")))
      .groupBy(year(col("o_orderdate").cast("date")).as("yr"))
      .agg(count(lit(1)).as("cnt")).orderBy("yr")),
    "q_b7_rule_length" -> ((s, d) => t(s, d, "part")
      .agg(
        count(when(Rule.LenBetween(10, 30).violation(col("p_name")), 1)).as("viol_cnt"),
        min(length(col("p_name"))).as("min_len"),
        max(length(col("p_name"))).as("max_len"))),
    "q_b8_rule_specchars" -> ((s, d) => t(s, d, "customer")
      .agg(
        count(when(Rule.NoSpecialChars().violation(col("c_name")), 1)).as("viol_all"),
        count(when(Rule.NoSpecialChars(Seq("#")).violation(col("c_name")), 1)).as("viol_excl"))),
    "q_b10_rule_combo" -> ((s, d) => t(s, d, "orders")
      .agg(
        count(when(Rule.NoDigits.violation(col("o_orderpriority")), 1)).as("digit_viol"),
        count(when(Rule.NoSpaces.violation(col("o_orderpriority")), 1)).as("space_viol"),
        count(when(Rule.DenyList(Seq("3-MEDIUM")).violation(col("o_orderpriority")), 1)).as("deny_viol"),
        count(when(Rule.anyViolation(col("o_orderpriority"),
          Seq(Rule.NoDigits, Rule.NoSpaces, Rule.DenyList(Seq("3-MEDIUM")))), 1)).as("any_viol"))),
    "q_b11_email" -> ((s, d) => t(s, d, "customer")
      .select(emailCol.as("email"))
      .groupBy(Validators.emailValid(col("email")).as("email_valid"))
      .agg(count(lit(1)).as("cnt")).orderBy("email_valid")),
    "q_b12_tckn" -> ((s, d) => t(s, d, "customer")
      .select((lit(10000000000L) + col("c_custkey") * 7919).cast("string").as("tckn"))
      .groupBy(Validators.tcknValid(col("tckn")).as("tckn_valid"))
      .agg(count(lit(1)).as("cnt")).orderBy("tckn_valid")),
    "q_b13_taxnum" -> ((s, d) => t(s, d, "supplier")
      .select((lit(1000000000L) + col("s_suppkey") * 104729).cast("string").as("tax"))
      .groupBy(Validators.taxNumValid(col("tax")).as("tax_valid"))
      .agg(count(lit(1)).as("cnt")).orderBy("tax_valid")),
    // international checksum validators (Luhn PAN / IBAN mod-97) over
    // deterministically synthesized identifiers with structural-
    // corruption classes (letters, too-short, lowercase country code);
    // per-row verdicts so a single flipped classification mismatches
    "q_b18_intl_checksums" -> ((s, d) => {
      val cust = t(s, d, "customer")
        .withColumn("card", expr(
          "CASE WHEN c_custkey % 13 = 0 THEN concat('ABCD', lpad(cast(c_custkey AS STRING), 12, '0')) " +
            "WHEN c_custkey % 11 = 0 THEN lpad(cast(c_custkey AS STRING), 8, '0') " +
            "ELSE lpad(cast((c_custkey * 7919383 + 1234567890123) % 10000000000000000 AS STRING), 16, '0') END"))
        .withColumn("iban", expr(
          "concat(CASE WHEN c_custkey % 17 = 0 THEN 'tr' ELSE 'TR' END, " +
            "lpad(cast(c_custkey % 100 AS STRING), 2, '0'), " +
            "lpad(cast((c_custkey * 37 + 11) % 100000000000000 AS STRING), 14, '0'))"))
      cust.select(col("c_custkey"), col("card"),
        graft.functions.IntlChecksumExpr.luhnValid(col("card")).as("card_valid"),
        col("iban"),
        graft.functions.IntlChecksumExpr.ibanValid(col("iban")).as("iban_valid"))
        .orderBy("c_custkey")
    }),
    // cross-field row rules: ordering (doctored negative spans),
    // implication (open orders under a price floor), not-both-null
    // (doctored contact pair, both null every 77th), null-safe match
    // (key copy perturbed every 31st)
    "q_b21_row_rules" -> ((s, d) => {
      val o = t(s, d, "orders")
      val df = o.select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"),
          datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).as("lo"))
        .withColumn("hi", col("lo") + (col("o_orderkey") % 5).cast("int") - 1)
        .withColumn("contact_a", when(col("o_orderkey") % 7 === 0,
          lit(null).cast("string")).otherwise(lit("a")))
        .withColumn("contact_b", when(col("o_orderkey") % 11 === 0,
          lit(null).cast("string")).otherwise(lit("b")))
        .withColumn("custkey2", when(col("o_orderkey") % 31 === 0,
          col("o_custkey") + 1).otherwise(col("o_custkey")))
      RowRule.report(df, Seq(
        RowRule.ordered("r1_ordered", col("lo"), col("hi")),
        RowRule.implies("r2_open_price",
          col("o_orderstatus") === "O", col("o_totalprice") > 1000),
        RowRule.notBothNull("r3_contact", col("contact_a"), col("contact_b")),
        RowRule.mustMatch("r4_key_match", col("o_custkey"), col("custkey2"))))
    }),
    // referential-integrity audit: lineitem->orders is naturally
    // complete; orders->customer is doctored with orphan FKs (every
    // 37th order shifted past the key space) and null FKs (every 53rd)
    // so all three counters are non-trivial; coverage rounds tie-safe
    // in integer space
    "q_b19_ref_integrity" -> ((s, d) => {
      val orders = t(s, d, "orders")
        .withColumn("o_custkey",
          when(col("o_orderkey") % 53 === 0, lit(null).cast("long"))
            .when(col("o_orderkey") % 37 === 0, col("o_custkey") + 10000000L)
            .otherwise(col("o_custkey")))
      Detector.referentialIntegrity(Seq(
        ("lineitem->orders", t(s, d, "lineitem"), "l_orderkey",
          t(s, d, "orders"), "o_orderkey"),
        ("orders->customer", orders, "o_custkey",
          t(s, d, "customer"), "c_custkey")))
    }),
    // Benford first-digit screen on order totals: per-digit observed
    // share vs the literal log10(1+1/d) micro-table (no runtime
    // transcendentals — the nine constants sum to exactly 1e6)
    "q_b20_benford" -> ((s, d) =>
      Detector.benfordDigits(t(s, d, "orders"), "o_totalprice")),
    "q_b14_domain" -> ((s, d) => t(s, d, "nation")
      .select(col("n_name"), Validators.inDomain(col("n_name"), Seq(
        "BRAZIL", "CANADA", "CHINA", "FRANCE", "GERMANY", "INDIA", "JAPAN",
        "RUSSIA", "UNITED KINGDOM", "UNITED STATES")).as("in_domain"))
      .orderBy("n_name")),
    "q_b15_phone" -> ((s, d) => t(s, d, "customer")
      .select(trPhoneCol.as("phone"))
      .groupBy(
        coalesce(Validators.phoneProblemClass(col("phone")), lit("ok")).as("phone_class"),
        Validators.phoneValidTr(col("phone")).as("phone_valid"))
      .agg(count(lit(1)).as("cnt")).orderBy("phone_class", "phone_valid")),
    "q_b16_dq_score" -> ((s, d) =>
      Detector.dqReport(doctoredEvents(s, d), "value", Seq(Rule.NumBetween(10, 90)))),
    // before + after metrics from ONE scan: the repair is a per-row
    // Column transform, so the "after" counters aggregate over the
    // repaired expression in the same pass (two full dqSummary scans
    // joined would read the table twice)
    "q_b17_dq_summary" -> ((s, d) =>
      Detector.beforeAfterOneScan(doctoredEvents(s, d),
        Seq(
          "value" -> Seq(Rule.NumBetween(10, 90): Rule),
          "props" -> Seq(Rule.NoSpaces: Rule)),
        Map(
          "value" -> least(greatest(coalesce(col("value"), lit(50.0)), lit(10.0)), lit(90.0)),
          "props" -> regexp_replace(coalesce(col("props"), lit("{}")), " ", "")))),

    // ---- C. correction
    "q_c1_search" -> ((s, d) => {
      val ev = t(s, d, "events")
      ev.filter(Corrector.search.between(col("value"), 50.0, 60.0) &&
          Corrector.search.equals(col("event_type"), "purchase"))
        .select("event_id", "user_id", "value").orderBy("event_id")
    }),
    "q_c1b_index_search" -> ((s, d) =>
      Corrector.withRowIndex(t(s, d, "nation").select("n_nationkey", "n_name"), Seq("n_name"))
        .filter(col("row_index") >= 5 && col("row_index") <= 7)
        .orderBy("row_index")),
    "q_c18_json_extract" -> ((s, d) => t(s, d, "events")
      .select(graft.sources.Sources.jsonField(col("props"), "k INT", "k").as("k"))
      .groupBy("k").agg(count(lit(1)).as("cnt"))
      .orderBy("k")),
    "q_c19_salted_count" -> ((s, d) =>
      graft.operators.Skew.saltedCount(
        t(s, d, "events").select("event_type"), "event_type", 16)
        .orderBy("event_type")),
    // CDC latest-wins compaction: the events log read as a change
    // stream keyed by (user_id, event_type) — version = (µs timestamp,
    // unique event_id tiebreak), op doctored from value so both
    // upserts and deletes occur; winner-is-a-delete keys vanish. The
    // plan is ONE map-side-combined max(struct) aggregate (no window
    // sort); the oracle is the textbook row_number formulation — two
    // different plans, same semantics
    // localized-number repair: four EU-format classes (grouped,
    // plain, percent, invalid grouping) doctored from key arithmetic;
    // value emitted in exact integer micro (no float anywhere)
    "q_c26_localized_num" -> ((s, d) => {
      val o = t(s, d, "orders").filter(col("o_orderkey") % 2 === 0)
        .withColumn("k1", (col("o_orderkey") % 900 + 100).cast("string"))
        .withColumn("k2", lpad((col("o_orderkey") % 1000).cast("string"), 3, "0"))
        .withColumn("k3", lpad((col("o_orderkey") % 100).cast("string"), 2, "0"))
        .withColumn("raw",
          when(col("o_orderkey") % 8 === 0,
            concat(col("k1"), lit("."), col("k2"), lit(","), col("k3")))
            .when(col("o_orderkey") % 8 === 2,
              concat(col("k3"), lit(",5%")))
            .when(col("o_orderkey") % 8 === 4,
              concat(lit("1.23,"), col("k3"))) // bad grouping -> null
            .otherwise(concat(col("k2"), lit(","), col("k3"))))
      o.select(col("o_orderkey"), col("raw"),
          Corrector.localizedNumberValid(col("raw")).as("valid"),
          (Corrector.localizedNumber(col("raw")) * 1000000).cast("long")
            .as("value_micro"))
        .orderBy("o_orderkey")
    }),
    // multi-format date repair: order dates rendered into five
    // formats by key class (every 17th corrupted), re-parsed by the
    // first-match rule; epoch_day avoids engine timestamp rendering
    "q_c25_date_parse" -> ((s, d) => {
      val fmts = Seq("yyyy-MM-dd", "dd/MM/yyyy", "MM-dd-yyyy",
        "yyyyMMdd", "dd.MM.yyyy")
      val o = t(s, d, "orders").filter(col("o_orderkey") % 3 === 0)
        .withColumn("raw",
          when(col("o_orderkey") % 17 === 0, lit("not-a-date"))
            .when(col("o_orderkey") % 5 === 0,
              date_format(col("o_orderdate"), "yyyy-MM-dd"))
            .when(col("o_orderkey") % 5 === 1,
              date_format(col("o_orderdate"), "dd/MM/yyyy"))
            .when(col("o_orderkey") % 5 === 2,
              date_format(col("o_orderdate"), "MM-dd-yyyy"))
            .when(col("o_orderkey") % 5 === 3,
              date_format(col("o_orderdate"), "yyyyMMdd"))
            .otherwise(date_format(col("o_orderdate"), "dd.MM.yyyy")))
      Corrector.parseDatesMulti(o, "raw", fmts)
        .select(col("o_orderkey"), col("raw"),
          datediff(col("parsed_ts").cast("date"),
            lit("1970-01-01").cast("date")).as("epoch_day"),
          col("parsed_ts_format").as("fmt"))
        .orderBy("o_orderkey")
    }),
    "q_c22_merge" -> ((s, d) => {
      val ev0 = t(s, d, "events")
      val changes = ev0.select(
        col("user_id"), col("event_type"),
        Tables.epochMicros(ev0, "ts").as("ts_us"),
        col("event_id"), col("value"),
        when(col("value") > 100.0, lit("D")).otherwise(lit("U")).as("op"))
      graft.operators.Merge.compactLatest(changes,
        keyCols = Seq("user_id", "event_type"),
        versionCols = Seq("ts_us", "event_id"), opCol = Some("op"))
        .orderBy("user_id", "event_type")
    }),
    // GK-quantile certification: exact rank-bound order statistics
    // (oracle-recomputable) + a within-bound verdict per quantile.
    // numericStatsApprox itself (same sketch, full stat grid) stays
    // the production operator; this query is its correctness gate.
    "q_a14_approx_stats" -> ((s, d) => Profiler.approxQuantileCheck(
      t(s, d, "lineitem"), Seq("l_quantity", "l_extendedprice"))),
    // one-call profile report, exact (oracle) flavor; the default
    // approx=true flavor (GK quantiles + HLL cardinality, no Expand)
    // is spec-covered in ProfilerSpec
    "q_a15_report" -> ((s, d) => Profiler.report(t(s, d, "customer"), approx = false)),
    // per-group (per-source) flavor: the same metric grid for every
    // market segment in one grouped aggregation
    "q_a16_report_by" -> ((s, d) =>
      Profiler.reportBy(t(s, d, "customer"), "c_mktsegment", approx = false)),
    "q_c2_drop" -> ((s, d) => {
      val kept = Corrector.dropRowsWhere(
        Corrector.dropColumns(t(s, d, "events"), "props", "ts"),
        col("event_type") === "error")
      kept.orderBy("event_id")
    }),
    "q_c3_edit_value" -> ((s, d) => {
      val fixed = Corrector.nullifyValue(
        Corrector.replaceValue(t(s, d, "orders"), "o_orderstatus", "P", "PENDING"),
        "o_orderpriority", "5-LOW")
      fixed.groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
    }),
    "q_c5_case" -> ((s, d) => {
      val base = t(s, d, "customer").select(col("c_mktsegment").as("orig")).distinct()
      Corrector.toTitleCase(base.withColumn("title_seg", col("orig")), "title_seg")
        .withColumn("lower_seg", lower(col("orig")))
        .withColumn("upper_seg", upper(col("orig")))
        .orderBy("orig")
    }),
    "q_c6_whitespace" -> ((s, d) => {
      val messy = t(s, d, "customer").select(col("c_mktsegment").as("seg")).distinct()
        .withColumn("messy", concat(lit("  "), col("seg"), lit("   "), col("seg"), lit(" ")))
      val cleaned = Corrector.strip(
        Corrector.collapseSpaces(messy.withColumn("cleaned", col("messy")), "cleaned"), "cleaned")
      Corrector.replaceSubstring(cleaned, "cleaned", "ING", "_")
        .select("seg", "cleaned").orderBy("seg")
    }),
    "q_c8_phone_norm" -> ((s, d) => t(s, d, "customer")
      .select(col("c_custkey"), Corrector.normalizePhone(phoneBase).as("phone_norm"))
      .orderBy("c_custkey")),
    "q_c9_cast" -> ((s, d) => t(s, d, "lineitem")
      .filter(col("l_orderkey") < 1000)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate").cast("date").cast("string").as("ship_date_str"),
        col("l_quantity").cast("int").as("qty_int"),
        col("l_orderkey").cast("string").as("okey_str"))
      .orderBy("l_orderkey", "l_linenumber")),
    "q_c10_date_parts" -> ((s, d) => Enrich.dateParts(
        t(s, d, "orders").filter(col("o_orderkey") < 2000)
          .select(col("o_orderkey"), col("o_orderdate").cast("date").as("od")), "od")
      .drop("od").orderBy("o_orderkey")),
    "q_c11_age" -> ((s, d) => t(s, d, "orders")
      .select(Enrich.yearsSince(col("o_orderdate"), "2026-01-01").as("age"))
      .groupBy("age").agg(count(lit(1)).as("cnt")).orderBy("age")),
    "q_c12_gender" -> ((s, d) => {
      val names = Seq("Ahmet", "Ayşe", "Mehmet", "Fatma", "Mustafa", "Zeynep", "Ali", "Elif")
      val withName = t(s, d, "customer")
        .withColumn("name", element_at(
          array(names.map(lit(_)): _*), (col("c_custkey") % 8 + 1).cast("int")))
      Enrich.gender(withName, "name")
        .groupBy("gender").agg(count(lit(1)).as("cnt")).orderBy("gender")
    }),
    "q_c13_geo" -> ((s, d) => {
      val cities = Seq("İstanbul", "Ankara", "İzmir", "Nowhere")
      val withCity = t(s, d, "customer")
        .withColumn("city", element_at(
          array(cities.map(lit(_)): _*), (col("c_custkey") % 4 + 1).cast("int")))
      Enrich.geo(withCity, "city")
        .groupBy("city").agg(count(col("latitude")).as("with_geo"), count(lit(1)).as("cnt"))
        .orderBy("city")
    }),
    "q_c14_sort" -> ((s, d) => Corrector.sortBy(
        t(s, d, "orders").select("o_orderkey", "o_totalprice"),
        Seq("o_totalprice" -> false, "o_orderkey" -> true))
      .limit(100)),
    "q_c15_reorder" -> ((s, d) => Corrector.reorder(
        t(s, d, "customer").filter(col("c_custkey") <= 50),
        Seq("c_mktsegment", "c_name", "c_custkey"))
      .orderBy("c_custkey")),
    "q_c16_fillna" -> ((s, d) => {
      val dv = doctoredEvents(s, d)
      val filled0 = Corrector.fillNulls(dv.withColumn("v0", col("value")), "v0", 0.0)
      val filledMean = Corrector.fillNullsWithMean(
        filled0.withColumn("vm", col("value")), "vm", 4)
      filledMean.agg(
        round(avg(col("v0")), 2).as("avg_fill_zero"),
        round(avg(col("vm")), 2).as("avg_fill_mean"),
        count(when(col("value").isNull, 1)).as("filled_cnt"))
    }),

    // C17 sink gate (r11 verdict #5): actually WRITE the hive-
    // partitioned layout, then grade the physical result — the query
    // reads the written files back and emits a (partition value,
    // rows, files) census; the oracle recomputes the same census
    // from the same files with hive_partitioning=1, so directory
    // names, per-partition row placement, and file layout are all
    // driver-checked, not just spec-asserted.
    "q_c17_partitioned_sink" -> ((s, d) => {
      val path = "/tmp/graft_gate/c17_partitioned"
      val ord = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      graft.sources.Sources.writePartitioned(
        ord.repartition(col("o_orderpriority")), path, Seq("o_orderpriority"))
      s.read.parquet(path)
        .withColumn("fname", input_file_name())
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("rows"),
          countDistinct(col("fname")).as("n_files"))
        .orderBy("o_orderpriority")
    }),
    // C21 bucketed-writer gate: write the catalog-registered bucketed
    // table, read the files back raw, and census rows/files per
    // bucket id parsed from the writer's _NNNNN.c file suffix — the
    // oracle parses the same suffixes from the same files. (That the
    // bucketed scan then joins shuffle-free is plan-audited in
    // PlanAuditSpec; this gates the physical layout itself.)
    "q_c21_bucketed_layout" -> ((s, d) => {
      val path = "/tmp/graft_gate/c21_bucketed"
      s.sql("DROP TABLE IF EXISTS graft_c21_gate")
      graft.sources.Sources.writeBucketed(
        t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        "graft_c21_gate", path, "o_custkey", 8)
      s.read.parquet(path)
        .withColumn("fname", input_file_name())
        .withColumn("bucket",
          regexp_extract(col("fname"), "_([0-9]{5})\\.c", 1).cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("rows"),
          countDistinct(col("fname")).as("n_files"))
        .orderBy("bucket")
    }),

    // C32 (r13): native Avro round trip — documents (mixed
    // primitives: long/string/binary) exported as executor-written
    // .avro container parts, read back through the file-parallel
    // reader, graded value-for-value (incl. UTF-8 octet length of
    // the binary hop) against the ORIGINAL parquet: the Avro
    // container hop must be byte-invisible.
    "q_c32_avro_roundtrip" -> ((s, d) => {
      val dir = "/tmp/graft_gate/c32_avro"
      val docs = t(s, d, "documents").select(
        col("doc_id"), col("text"), col("lang"), col("n_chars"),
        encode(col("text"), "UTF-8").as("raw"))
      graft.sources.Avro.writeAvroPartitioned(docs.repartition(4), dir, manifest = true)
      graft.sources.Avro.readAvro(s, dir, docs.schema)
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
          length(col("raw")).cast("long").as("n_bytes"),
          decode(col("raw"), "UTF-8").as("raw_text"))
        .orderBy("doc_id")
    }),

    // C32b (r14, r13 verdict #5): NESTED Avro round trip — a
    // nullable struct, an array of structs, and a string-keyed map
    // built from documents, through the executor-written container
    // parts and back under writer→reader resolution, then FLATTENED
    // for grading against the ORIGINAL parquet: every nested level
    // must be value-invisible, including the null struct branch.
    "q_c32b_avro_nested" -> ((s, d) => {
      val dir = "/tmp/graft_gate/c32b_avro"
      val docs = t(s, d, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 7 === 0, lit(null))
          .otherwise(struct(col("lang"), col("n_chars"))).as("meta"),
        array(
          struct(lit("len").as("k"), length(col("text")).cast("long").as("v")),
          struct(lit("id9").as("k"), (col("doc_id") % 9).cast("long").as("v")))
          .as("tags"),
        map(lit("src"), col("source")).as("props"))
      graft.sources.Avro.writeAvroPartitioned(docs.repartition(4), dir, manifest = true)
      graft.sources.Avro.readAvro(s, dir, docs.schema)
        .select(col("doc_id"),
          col("meta.lang").as("lang"), col("meta.n_chars").as("n_chars"),
          element_at(col("tags"), 1).getField("v").as("len"),
          element_at(col("tags"), 2).getField("v").as("id9"),
          element_at(col("props"), "src").as("src"))
        .orderBy("doc_id")
    }),

    // C31 (r13): deterministic sharded JSONL export + manifest —
    // documents exported as 200-row shards in doc_id order (shard
    // identity from the D96 global rank, one file per shard by
    // construction), read BACK from the written JSONL, and the
    // manifest censused from the read-back — so shard assignment,
    // the one-file layout, AND the JSONL round trip are all under
    // the oracle's md5-XOR checksum.
    "q_c31_jsonl_shards" -> ((s, d) => {
      val dir = "/tmp/graft_gate/c31_shards"
      graft.sources.Sources.exportJsonlShards(
        t(s, d, "documents").select("doc_id", "text"), dir, 200L,
        Seq(col("doc_id")), col("doc_id"))
      val back = s.read.schema("doc_id LONG, text STRING, global_rank LONG")
        .json(dir)
      graft.sources.Sources.shardManifest(back, col("doc_id"), col("text"))
        .orderBy("shard")
    }),

    // C30 (r13): parquet compaction gate — write documents as 16
    // deliberately-small files, compact to 200-row targets, census
    // BOTH physical layouts via input_file_name (the c17/c21
    // scheme), and certify content preservation through the
    // small-write + compaction round trip with a portable md5-head
    // XOR checksum the oracle recomputes from the ORIGINAL parquet
    // (XOR: order-independent, overflow-free).
    "q_c30_compact" -> ((s, d) => {
      val base = "/tmp/graft_gate/c30"
      t(s, d, "documents").repartition(16)
        .write.mode("overwrite").parquet(s"$base/small")
      graft.sources.Sources.compactParquetByRows(
        s, s"$base/small", s"$base/compact", 200L)
      val small = s.read.parquet(s"$base/small")
      val comp = s.read.parquet(s"$base/compact")
      val h = Dedup.portableTokenHash60(concat_ws("|",
        col("doc_id"), coalesce(col("text"), lit("")))).as("_h")
      def cell(df: DataFrame, metric: String) =
        df.select(lit(metric).as("metric"), col("value"))
      cell(small.agg(count(lit(1)).as("value")), "rows_small")
        .unionByName(cell(small.select(input_file_name().as("f"))
          .agg(countDistinct(col("f")).as("value")), "files_small"))
        .unionByName(cell(comp.agg(count(lit(1)).as("value")), "rows_compact"))
        .unionByName(cell(comp.select(input_file_name().as("f"))
          .agg(countDistinct(col("f")).as("value")), "files_compact"))
        .unionByName(cell(comp.select(h)
          .agg(expr("bit_xor(_h)").as("value")), "content_xor"))
        .orderBy("metric")
    }),

    // C30b (r14, r13 verdict #8): HIVE-PARTITIONED compaction —
    // documents written lang-partitioned as 16-way small files,
    // compacted with a PER-PARTITION 200-row target; the census
    // grades per-lang rows, the ceil-exact per-partition file
    // count, and a per-lang content XOR (so the grouped two-pass
    // rank rewrite is content-invisible partition by partition).
    "q_c30b_compact_partitioned" -> ((s, d) => {
      val base = "/tmp/graft_gate/c30b"
      t(s, d, "documents").repartition(16)
        .write.mode("overwrite").partitionBy("lang").parquet(s"$base/small")
      graft.sources.Sources.compactParquetPartitionedByRows(
        s, s"$base/small", s"$base/compact", 200L, Seq("lang"))
      s.read.parquet(s"$base/compact")
        .withColumn("_h", Dedup.portableTokenHash60(concat_ws("|",
          col("doc_id"), coalesce(col("text"), lit("")))))
        .withColumn("_f", input_file_name())
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("rows"),
          countDistinct(col("_f")).as("n_files"),
          expr("bit_xor(_h)").as("content_xor"))
        .orderBy("lang")
    }),

    // C30c (r15): LIVE in-place compaction over the snapshot log —
    // v0 = 10-file write, v1 = compactInPlace to ceil(n/200) range-
    // ordered files. A reader pinned to v0 BEFORE the commit keeps
    // its complete file set (old-or-new, never mixed): the gate
    // re-reads through BOTH snapshots and certifies identical content
    // census, disjoint file sets, and every v0 file still alive.
    // Data claims (rows/xor/ceil file count) re-derived by the
    // oracle; isolation certs are Spark-computed 0/1 literals.
    "q_c30c_live_compaction" -> ((s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_gate/c30c_log"
      val root = new org.apache.hadoop.fs.Path(dir)
      val hfs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      hfs.delete(root, true)
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"), col("lang"))
      graft.sources.SnapshotLog.write(docs.repartition(10), dir)
      val oldSnap = graft.sources.SnapshotLog.snapshot(s, dir) // pre-commit reader
      graft.sources.SnapshotLog.compactInPlace(s, dir, 200L, Seq("doc_id"))
      val newSnap = graft.sources.SnapshotLog.snapshot(s, dir)
      def census(df: DataFrame, tag: String): DataFrame =
        df.withColumn("_h", Dedup.portableTokenHash60(concat_ws("|",
            col("doc_id"), coalesce(col("text"), lit("")))))
          .agg(count(lit(1)).cast("long").as("rows"), expr("bit_xor(_h)").as("xr"))
          .select(expr(s"stack(2, 'rows_$tag', rows, 'xor_$tag', xr) AS (metric, value)"))
      val disjoint = oldSnap.files.toSet.intersect(newSnap.files.toSet).isEmpty
      val alive = oldSnap.files.forall(f =>
        hfs.exists(new org.apache.hadoop.fs.Path(f)))
      val certs = Seq(
        ("cert_disjoint_filesets", if (disjoint) 1L else 0L),
        ("cert_old_files_alive", if (alive) 1L else 0L),
        ("files_new", newSnap.files.size.toLong),
        ("files_old", oldSnap.files.size.toLong),
        ("versions", graft.sources.SnapshotLog.versions(s, dir).size.toLong))
        .toDF("metric", "value")
      census(graft.sources.SnapshotLog.read(s, dir), "new_reader")
        .unionByName(census(s.read.parquet(oldSnap.files: _*), "old_reader"))
        .unionByName(certs)
        .orderBy("metric")
    }),

    // C30d (r15): manifest-level DATA SKIPPING — per-file min/max
    // stats recorded at compaction time; a range read keeps only
    // overlapping files, decided from the version manifest alone
    // (zero file opens). The oracle re-derives the filtered census —
    // skipping must be invisible to results; cert_skipped pins that
    // files were actually skipped (vacuously true at one file).
    "q_c30d_data_skipping" -> ((s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_gate/c30d_log"
      val root = new org.apache.hadoop.fs.Path(dir)
      val hfs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      hfs.delete(root, true)
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      graft.sources.SnapshotLog.write(docs.repartition(8), dir)
      graft.sources.SnapshotLog.compactInPlace(s, dir, 200L,
        sortCols = Seq("doc_id"), statsCols = Seq("doc_id"))
      val sn = graft.sources.SnapshotLog.snapshot(s, dir)
      val kept = graft.sources.SnapshotLog.prunedFiles(sn, "doc_id", 100L, 300L)
      val pruned = graft.sources.SnapshotLog.readPruned(s, dir, "doc_id", 100L, 300L)
      val cen = pruned
        .withColumn("_h", Dedup.portableTokenHash60(concat_ws("|",
          col("doc_id"), coalesce(col("text"), lit("")))))
        .agg(count(lit(1)).cast("long").as("rows"),
          coalesce(expr("bit_xor(_h)"), lit(0L)).as("xr"))
        .select(expr("stack(2, 'rows_pruned', rows, 'xor_pruned', xr) AS (metric, value)"))
      val certs = Seq(
        ("cert_skipped",
          if (kept.size < sn.files.size || sn.files.size <= 1) 1L else 0L),
        ("files_total", sn.files.size.toLong))
        .toDF("metric", "value")
      // r16 (C35i): STRING data skipping — a second table
      // range-clustered by lang with STRING manifest bounds; the
      // 'de'..'en' slice (2 of the five langs) reads only
      // overlapping files, decided from the manifest alone, and the
      // oracle re-derives its census — string skipping must be
      // invisible to results too
      val dirS = "/tmp/graft_gate/c30d_log_str"
      hfs.delete(new org.apache.hadoop.fs.Path(dirS), true)
      val docsL = t(s, d, "documents").select(col("doc_id"), col("lang"))
      graft.sources.SnapshotLog.write(docsL.repartition(8), dirS)
      graft.sources.SnapshotLog.compactInPlace(s, dirS, 200L,
        sortCols = Seq("lang", "doc_id"), statsCols = Seq("lang"))
      val snS = graft.sources.SnapshotLog.snapshot(s, dirS)
      val keptS = graft.sources.SnapshotLog.prunedFilesStr(snS, "lang", "de", "en")
      val cenS = graft.sources.SnapshotLog
        .readPrunedStr(s, dirS, "lang", "de", "en")
        .withColumn("_h", Dedup.portableTokenHash60(concat_ws("|",
          col("doc_id"), coalesce(col("lang"), lit("")))))
        .agg(count(lit(1)).cast("long").as("rows"),
          coalesce(expr("bit_xor(_h)"), lit(0L)).as("xr"))
        .select(expr("stack(2, 'rows_pruned_str', rows, 'xor_pruned_str', xr) AS (metric, value)"))
      val certsS = Seq(
        ("cert_skipped_str",
          if (keptS.size < snS.files.size || snS.files.size <= 1) 1L else 0L),
        ("files_total_str", snS.files.size.toLong))
        .toDF("metric", "value")
      cen.unionByName(certs).unionByName(cenS).unionByName(certsS)
        .orderBy("metric")
    }),

    // C30e (r15): COPY-ON-WRITE DELETE with manifest-pruned rewrites
    // (the GDPR-erasure / bad-crawl-day rollback shape): delete a
    // doc_id range from the compacted table — files whose stats don't
    // overlap carry into the next version UNTOUCHED (cert'd by path
    // identity), only overlapping files rewrite (cert'd bounded by
    // the touched count). The oracle re-derives the surviving census.
    "q_c30e_cow_delete" -> ((s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_gate/c30e_log"
      val root = new org.apache.hadoop.fs.Path(dir)
      val hfs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      hfs.delete(root, true)
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      graft.sources.SnapshotLog.write(docs.repartition(8), dir)
      graft.sources.SnapshotLog.compactInPlace(s, dir, 200L,
        sortCols = Seq("doc_id"), statsCols = Seq("doc_id"))
      val before = graft.sources.SnapshotLog.snapshot(s, dir)
      val touched = graft.sources.SnapshotLog
        .prunedFiles(before, "doc_id", 10L, 40L).toSet
      graft.sources.SnapshotLog.deleteRange(s, dir, "doc_id", 10L, 40L)
      val after = graft.sources.SnapshotLog.snapshot(s, dir)
      val untouched = before.files.filterNot(touched)
      val rewritten = after.files.toSet -- untouched.toSet
      val cen = graft.sources.SnapshotLog.read(s, dir)
        .withColumn("_h", Dedup.portableTokenHash60(concat_ws("|",
          col("doc_id"), coalesce(col("text"), lit("")))))
        .agg(count(lit(1)).cast("long").as("rows"),
          coalesce(expr("bit_xor(_h)"), lit(0L)).as("xr"))
        .select(expr("stack(2, 'rows_after', rows, 'xor_after', xr) AS (metric, value)"))
      val certs = Seq(
        ("cert_untouched_carried",
          if (untouched.forall(after.files.contains)) 1L else 0L),
        ("cert_touched_dropped",
          if (after.files.toSet.intersect(touched).isEmpty) 1L else 0L),
        ("cert_rewrite_bounded",
          if (rewritten.size <= touched.size) 1L else 0L),
        ("versions", graft.sources.SnapshotLog.versions(s, dir).size.toLong))
        .toDF("metric", "value")
      cen.unionByName(certs).orderBy("metric")
    }),

    // C30f (r15): COPY-ON-WRITE UPDATE — deleteRange's sibling
    // closing the DML triad: matching rows rewrite with the set
    // expression applied, non-matching rows in touched files rewrite
    // unchanged, non-overlapping files carry over path-identically.
    // The oracle re-derives the post-update census directly.
    "q_c30f_cow_update" -> ((s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_gate/c30f_log"
      val root = new org.apache.hadoop.fs.Path(dir)
      val hfs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      hfs.delete(root, true)
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      graft.sources.SnapshotLog.write(docs.repartition(8), dir)
      graft.sources.SnapshotLog.compactInPlace(s, dir, 200L,
        sortCols = Seq("doc_id"), statsCols = Seq("doc_id"))
      val before = graft.sources.SnapshotLog.snapshot(s, dir)
      val touched = graft.sources.SnapshotLog
        .prunedFiles(before, "doc_id", 10L, 40L).toSet
      graft.sources.SnapshotLog.updateRange(s, dir, "doc_id", 10L, 40L,
        Map("text" -> concat(col("text"), lit(" [upd]"))))
      val after = graft.sources.SnapshotLog.snapshot(s, dir)
      val untouched = before.files.filterNot(touched)
      val cen = graft.sources.SnapshotLog.read(s, dir)
        .withColumn("_h", Dedup.portableTokenHash60(concat_ws("|",
          col("doc_id"), coalesce(col("text"), lit("")))))
        .agg(count(lit(1)).cast("long").as("rows"), expr("bit_xor(_h)").as("xr"))
        .select(expr("stack(2, 'rows_after', rows, 'xor_after', xr) AS (metric, value)"))
      val certs = Seq(
        ("cert_untouched_carried",
          if (untouched.forall(after.files.contains)) 1L else 0L),
        ("versions", graft.sources.SnapshotLog.versions(s, dir).size.toLong))
        .toDF("metric", "value")
      cen.unionByName(certs).orderBy("metric")
    }),

    // C30g (r16): PARTITIONED live compaction — compact ONE lang
    // partition of a live hive-laid-out table in place: only the
    // _p=de files rewrite into ceil(n_de/100) range-ordered files
    // (the q_c30b ceil arithmetic, re-derived by the oracle); every
    // other partition's files carry path-identically (cert'd), and
    // the full-table census proves no row moved.
    "q_c30g_partitioned_compaction" -> ((s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_gate/c30g_log"
      val root = new org.apache.hadoop.fs.Path(dir)
      val hfs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      hfs.delete(root, true)
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"), col("lang"))
      graft.sources.SnapshotLog.writePartitionedBy(
        docs.repartition(6), dir, "lang", statsCols = Seq("doc_id"))
      val before = graft.sources.SnapshotLog.snapshot(s, dir)
      graft.sources.SnapshotLog.compactPartitionInPlace(s, dir, "lang", "de",
        100L, sortCols = Seq("doc_id"), statsCols = Seq("doc_id"))
      val after = graft.sources.SnapshotLog.snapshot(s, dir)
      val deBefore = before.files
        .filter(f => graft.sources.SnapshotLog.filePartition(f).contains("de")).toSet
      val others = before.files.filterNot(deBefore)
      val cen = graft.sources.SnapshotLog.read(s, dir)
        .withColumn("_h", Dedup.portableTokenHash60(concat_ws("|",
          col("doc_id"), coalesce(col("text"), lit("")),
          coalesce(col("lang"), lit("")))))
        .agg(count(lit(1)).cast("long").as("rows"),
          coalesce(expr("bit_xor(_h)"), lit(0L)).as("xr"))
        .select(expr("stack(2, 'rows_after', rows, 'xor_after', xr) AS (metric, value)"))
      val certs = Seq(
        ("cert_other_carried",
          if (others.forall(after.files.contains)) 1L else 0L),
        ("cert_de_dropped",
          if (after.files.toSet.intersect(deBefore).isEmpty) 1L else 0L),
        ("files_de_after", after.files.count(f =>
          graft.sources.SnapshotLog.filePartition(f).contains("de")).toLong),
        ("versions", graft.sources.SnapshotLog.versions(s, dir).size.toLong))
        .toDF("metric", "value")
      cen.unionByName(certs).orderBy("metric")
    }),

    // C30h (r16): FILE-PRUNED CDC MERGE — deleteRange's upsert
    // sibling and the fix for the r15 verdict's one `weak`. One batch
    // carrying updates [10,40], deletes [41,45], and brand-new keys
    // (doc_id+1e9 on the %7 class) merges into the range-compacted
    // table: only files whose key range can contain a batch key
    // rewrite (cert'd by exact path identity on the rest — the
    // q_c30e pattern), the new keys land without reading anything,
    // and the post-merge census is re-derived one-shot by the oracle.
    "q_c30h_merge_into" -> ((s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_gate/c30h_log"
      val root = new org.apache.hadoop.fs.Path(dir)
      val hfs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      hfs.delete(root, true)
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"), col("lang"))
      graft.sources.SnapshotLog.write(
        docs.withColumn("version", lit(1L)).repartition(8), dir)
      graft.sources.SnapshotLog.compactInPlace(s, dir, 200L,
        sortCols = Seq("doc_id"), statsCols = Seq("doc_id"))
      val before = graft.sources.SnapshotLog.snapshot(s, dir)
      val batch = docs.filter(col("doc_id").between(10, 40))
          .withColumn("text", concat(col("text"), lit(" [m]")))
          .withColumn("version", lit(2L)).withColumn("op", lit("U"))
        .unionByName(docs.filter(col("doc_id").between(41, 45))
          .withColumn("version", lit(2L)).withColumn("op", lit("D")))
        .unionByName(docs.filter(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000000L)
          .withColumn("text", concat(col("text"), lit(" [new]")))
          .withColumn("version", lit(2L)).withColumn("op", lit("U")))
      val touched = graft.sources.SnapshotLog
        .batchTouchedFiles(before, batch, "doc_id").toSet
      graft.sources.SnapshotLog.mergeInto(s, dir, batch,
        Seq("doc_id"), Seq("version"), Some("op"))
      val after = graft.sources.SnapshotLog.snapshot(s, dir)
      val untouched = before.files.filterNot(touched)
      val cen = graft.sources.SnapshotLog.read(s, dir)
        .withColumn("_h", Dedup.portableTokenHash60(concat_ws("|",
          col("doc_id"), coalesce(col("text"), lit("")), col("version"))))
        .agg(count(lit(1)).cast("long").as("rows"),
          coalesce(expr("bit_xor(_h)"), lit(0L)).as("xr"))
        .select(expr("stack(2, 'rows_after', rows, 'xor_after', xr) AS (metric, value)"))
      val certs = Seq(
        ("cert_untouched_carried",
          if (untouched.forall(after.files.contains)) 1L else 0L),
        ("cert_touched_dropped",
          if (after.files.toSet.intersect(touched).isEmpty) 1L else 0L),
        ("cert_pruned", // vacuous-true at one file (sf0.001: 50 docs)
          if (touched.size < before.files.size || before.files.size <= 1) 1L else 0L),
        ("versions", graft.sources.SnapshotLog.versions(s, dir).size.toLong))
        .toDF("metric", "value")
      cen.unionByName(certs).orderBy("metric")
    }),

    // C35j (r16): CHANGE DATA FEED — four commits (base write,
    // append of the odd half, a pruned range delete, a pruned range
    // update) and readChanges(0,3) must reproduce each version's
    // exact row delta: inserts at v1, deletes at v2, the
    // delete+insert pair at v3, with rewritten-but-unchanged carrier
    // rows cancelled. The oracle derives every class one-shot from
    // the original parquet.
    "q_c35_cdf" -> ((s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_gate/c35_cdf"
      val root = new org.apache.hadoop.fs.Path(dir)
      val hfs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      hfs.delete(root, true)
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      graft.sources.SnapshotLog.write(
        docs.filter(col("doc_id") % 2 === 0).repartition(4), dir,
        statsCols = Seq("doc_id"))
      graft.sources.SnapshotLog.append(
        docs.filter(col("doc_id") % 2 === 1).repartition(2), dir,
        statsCols = Seq("doc_id"))
      graft.sources.SnapshotLog.deleteRange(s, dir, "doc_id", 10L, 40L)
      graft.sources.SnapshotLog.updateRange(s, dir, "doc_id", 50L, 80L,
        Map("text" -> concat(col("text"), lit(" [u]"))))
      graft.sources.SnapshotLog.readChanges(s, dir, 0L, 3L)
        .withColumn("_h", Dedup.portableTokenHash60(concat_ws("|",
          col("doc_id"), coalesce(col("text"), lit("")))))
        .groupBy(col("_commit_version").as("commit_version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).cast("long").as("n_rows"),
          coalesce(expr("bit_xor(_h)"), lit(0L)).as("xr"))
        .orderBy("commit_version", "change_type")
    }),

    // C30i (r16): COPY-ON-WRITE DELETE over a STRING range — the
    // by-language purge / domain-prefix takedown shape C35i's string
    // stats enable: drop the zh slice of a lang-clustered table;
    // only lang-overlapping files rewrite (path-identity certs, the
    // q_c30e pattern), and the surviving census is re-derived from
    // the ORIGINAL parquet.
    "q_c30i_cow_delete_str" -> ((s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_gate/c30i_log"
      val root = new org.apache.hadoop.fs.Path(dir)
      val hfs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      hfs.delete(root, true)
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"), col("lang"))
      graft.sources.SnapshotLog.write(docs.repartition(8), dir)
      graft.sources.SnapshotLog.compactInPlace(s, dir, 200L,
        sortCols = Seq("lang", "doc_id"), statsCols = Seq("lang", "doc_id"))
      val before = graft.sources.SnapshotLog.snapshot(s, dir)
      val touched = graft.sources.SnapshotLog
        .prunedFilesStr(before, "lang", "zh", "zh").toSet
      graft.sources.SnapshotLog.deleteRangeStr(s, dir, "lang", "zh", "zh")
      val after = graft.sources.SnapshotLog.snapshot(s, dir)
      val untouched = before.files.filterNot(touched)
      val cen = graft.sources.SnapshotLog.read(s, dir)
        .withColumn("_h", Dedup.portableTokenHash60(concat_ws("|",
          col("doc_id"), coalesce(col("text"), lit("")),
          coalesce(col("lang"), lit("")))))
        .agg(count(lit(1)).cast("long").as("rows"),
          coalesce(expr("bit_xor(_h)"), lit(0L)).as("xr"))
        .select(expr("stack(2, 'rows_after', rows, 'xor_after', xr) AS (metric, value)"))
      val certs = Seq(
        ("cert_untouched_carried",
          if (untouched.forall(after.files.contains)) 1L else 0L),
        ("cert_touched_dropped",
          if (after.files.toSet.intersect(touched).isEmpty) 1L else 0L),
        ("cert_pruned", // vacuous-true at one file
          if (touched.size < before.files.size || before.files.size <= 1) 1L else 0L),
        ("versions", graft.sources.SnapshotLog.versions(s, dir).size.toLong))
        .toDF("metric", "value")
      cen.unionByName(certs).orderBy("metric")
    }),

    // s12 (r15): STREAMING CDC ingest into the snapshot-log table —
    // three replayed change batches (inserts, then inserts + revisions
    // + deletes, then inserts + higher-version re-revisions) merge
    // batch-by-batch through mergeLatest, each commit a new version
    // with its batchId recorded atomically in the manifest. The
    // oracle derives the final table directly (the change classes
    // are deterministic functions of doc_id) — three incremental
    // merges must equal the one-shot derivation.
    "q_s12_stream_snapshot_cdc" -> ((s, d) => {
      import s.implicits._
      val tableDir = "/tmp/graft_gate/s12_table"
      val arrivals = "/tmp/graft_gate/s12_arrivals"
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"), col("lang"))
      val sliceA = docs.filter(col("doc_id") % 3 === 0)
        .withColumn("op", lit("U")).withColumn("version", lit(1L))
      val sliceB = docs.filter(col("doc_id") % 3 === 1)
          .withColumn("op", lit("U")).withColumn("version", lit(1L))
        .unionByName(docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0)
          .withColumn("text", concat(col("text"), lit(" [rev2]")))
          .withColumn("op", lit("U")).withColumn("version", lit(2L)))
        .unionByName(docs.filter(col("doc_id") % 3 === 0 &&
            col("doc_id") % 2 =!= 0 && col("doc_id") % 5 === 0)
          .withColumn("op", lit("D")).withColumn("version", lit(2L)))
      val sliceC = docs.filter(col("doc_id") % 3 === 2)
          .withColumn("op", lit("U")).withColumn("version", lit(1L))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .withColumn("text", concat(col("text"), lit(" [rev3]")))
          .withColumn("op", lit("U")).withColumn("version", lit(3L)))
      val fin = graft.streaming.StreamingDQ.streamSnapshotCdcReplay(
        Seq(sliceA, sliceB, sliceC), tableDir, arrivals,
        Seq("doc_id"), Seq("version"), "op")
      val cen = fin.withColumn("_h", Dedup.portableTokenHash60(concat_ws("|",
          col("doc_id"), coalesce(col("text"), lit("")), col("version"))))
        .agg(count(lit(1)).cast("long").as("rows"), expr("bit_xor(_h)").as("xr"))
        .select(expr("stack(2, 'rows_final', rows, 'xor_final', xr) AS (metric, value)"))
      val vers = Seq(("versions",
        graft.sources.SnapshotLog.versions(s, tableDir).size.toLong))
        .toDF("metric", "value")
      cen.unionByName(vers).orderBy("metric")
    }),

    // ---- D. scale extensions
    "q_d1_exact_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.exactDedupStats(
        docs.select("doc_id", "text")
          .union(docs.filter(col("doc_id") % 10 === 0).select("doc_id", "text")), "text")
    }),
    "q_d2_minhash" -> ((s, d) =>
      Dedup.minhashPairs(t(s, d, "documents"), "text", "doc_id", 0.9)
        .orderBy("id_a", "id_b")),
    "q_d3_simhash" -> ((s, d) =>
      Dedup.simhashPairs(t(s, d, "documents"), "text", "doc_id", 3)
        .orderBy("id_a", "id_b")),
    "q_d4_jaccard" -> ((s, d) =>
      // candidateBudget pinned (same reasoning as q_b4): the gate's
      // oracle is uncapped, so corpus-statistic-driven auto-degrade
      // must not be able to shift this query's recall
      Dedup.jaccardJoin(t(s, d, "documents").filter(col("doc_id") % 10 === 0),
        "text", "doc_id", 0.8, candidateBudget = Long.MaxValue)
        .orderBy("id_a", "id_b")),
    // concat-and-chunk sequence packing into 512-token contexts,
    // 8 parallel bucket streams; window arithmetic mirrored in SQL
    "q_d26_packing" -> ((s, d) =>
      graft.pipeline.Pipeline.packSequences(
        t(s, d, "documents")
          .withColumn("n_tokens", graft.text.TextAnalysis.wordCount(col("text"))),
        col("doc_id"), col("n_tokens"), contextLen = 512, buckets = 8)
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("pack_id"), col("pack_offset").cast("long").as("pack_offset"))
        .orderBy("doc_id")),
    // cross-doc repeated-line removal: the corpus is doctored with
    // known boilerplate lines (newsletter/footer), the operator must
    // strip exactly the lines whose doc-frequency exceeds the cap and
    // reassemble the rest in order
    "q_d27_boilerplate" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") % 5 === 0)
        .withColumn("text", concat(col("text"),
          lit("\nSubscribe to our newsletter"),
          when(col("doc_id") % 2 === 0, lit("\n(c) 2024 Example Corp"))
            .otherwise(lit(""))))
      graft.text.Boilerplate.stripBoilerplate(docs, "text", "doc_id",
        minRepeatDocs = 30).orderBy("doc_id")
    }),
    // unigram-LM cross-entropy (perplexity-style quality signal);
    // per-token -ln p quantized to micro-nats so the per-doc sum is
    // an exact integer reduction on both engines
    "q_d28_xentropy" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val lm = graft.text.TokenStats.unigramCounts(docs, "text", "doc_id")
      graft.text.TokenStats.crossEntropy(docs, "text", "doc_id", lm)
        .orderBy("doc_id")
    }),
    // k-means inference path: assign every embedding to its
    // max-cosine centroid (bank = the first 4 vectors by id); the
    // oracle recomputes every cosine and the argmax independently
    "q_d29_cluster_assign" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = Ann.trainCentroidsBySample(emb, "embedding", "vec_id", 4)
      Ann.assignClusters(emb, "embedding", "vec_id", cents).orderBy("vec_id")
    }),
    // vocabulary induction (top-20 tokens, count desc / token asc)
    // + per-doc out-of-vocabulary share against it
    "q_d30_oov" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val vocab = graft.text.TokenStats.topVocab(
        graft.text.TokenStats.unigramCounts(docs, "text", "doc_id"), 20)
      graft.text.TokenStats.oovRate(docs, "text", "doc_id", vocab)
        .orderBy("doc_id")
    }),
    // deterministic epoch shuffle: the permutation key is a pure
    // function of (seed, id) — portable, re-runnable, seed-varying
    "q_d31_epoch_shuffle" -> ((s, d) =>
      graft.pipeline.Pipeline.epochShuffle(
        t(s, d, "documents").select("doc_id"), col("doc_id"), "epoch1")),
    // sequence-length histogram in power-of-two buckets (batch/packing
    // planning); bucket = integer bit-width, no float log2
    "q_d32_len_hist" -> ((s, d) =>
      graft.text.TextAnalysis.seqLenHistogram(t(s, d, "documents"), "text")
        .orderBy("bucket")),
    // SemDeDup-style semantic dedup end-to-end: cluster-bucketed
    // exact-cosine pairs (corpus doctored with re-ingested dups as in
    // q_d5) -> transitive closure -> keep-min anti join; the oracle
    // recomputes assignment, pairs, and closure independently
    "q_d33_semantic_dedup" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val corpus = e.select(col("vec_id"), col("embedding"))
        .union(e.filter(col("vec_id") % 20 === 0)
          .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      val cents = Ann.trainCentroidsBySample(e, "embedding", "vec_id", 4)
      Ann.semanticDedup(corpus, "embedding", "vec_id", cents, 0.9)
        .select("vec_id").orderBy("vec_id")
    }),
    // fuzzy incremental ingest: batch docs with an exact-Jaccard
    // near-dup (>= 0.7) already in the store are dropped; bipartite
    // inverted index, no batch x store cross product.
    // r11 verdict #6: the gate now runs the PRODUCTION guarded plan
    // (default candidateBudget) instead of a pinned-uncapped one. The
    // CandidateGuard ladder decision is integer-exact (volumes are
    // sums of bdf*df integer products, exactly representable in
    // doubles), so the oracle reproduces the degrade arithmetic and
    // the chosen rung is pinned cross-engine as a claim row:
    // doc_id = -1 (budget fit, plan untouched) or -rung (degraded).
    "q_d34_near_store_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val store = docs.filter(col("doc_id") % 3 === 0)
      val batch = docs.filter(col("doc_id") % 3 =!= 0)
      graft.similarity.CandidateGuard.clearEvents()
      val kept = Dedup.dedupNearAgainstStore(batch, store, "text", "doc_id", 0.7)
        .select("doc_id")
      // filter by opName (ADVICE r12): the event deque is JVM-global,
      // so another guarded operator running between clearEvents and
      // drain must not be able to mis-attribute its rung to this gate
      val claim = graft.similarity.CandidateGuard.drainEvents()
        .collectFirst { case e if e.opName == "Dedup.nearDupMatches" &&
          e.degradedCap.isDefined => -e.degradedCap.get }
        .getOrElse(-1L)
      kept.unionByName(s.range(1).select(lit(claim).as("doc_id")))
        .orderBy("doc_id")
    }),
    // r12 verdict #3: d34's BIG-corpus path — banded minhash batch-
    // vs-store matching (the plan the CandidateGuard's x50 refusal
    // points at; in production the store index is materialized ONCE
    // via Dedup.minhashIndex and reused per batch). Gate = the keep
    // set (batch docs with no store near-dup at J >= 0.9) under the
    // default 32x4 banding — per-pair miss ~1.4e-15 at the
    // threshold, and the S-curve midpoint (0.42) sits above this
    // corpus's ~0.6-median background set-jaccard's LOW side, so
    // banding prunes instead of degenerating to all-pairs (a 0.7
    // threshold on these word sets is output-quadratic by corpus
    // construction — see the minhashMatchesIndexed scaladoc).
    // Graded against the EXACT bipartite jaccard oracle.
    "q_d34b_near_store_banded" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val store = docs.filter(col("doc_id") % 3 === 0)
      val batch = docs.filter(col("doc_id") % 3 =!= 0)
      Dedup.dedupNearAgainstStoreBanded(batch, store, "text", "doc_id", 0.9)
        .select("doc_id").orderBy("doc_id")
    }),
    // composite quality filter: first-failing-reason cascade over
    // token-derived signals, all from one grouped token frame
    "q_d35_quality_filter" -> ((s, d) =>
      graft.text.TextAnalysis.qualityFilterReport(
        t(s, d, "documents"), "text", "doc_id")
        .orderBy("doc_id")),
    // product quantization: 4x16-dim codebooks (first-4-by-id sample),
    // map-only encode, ADC top-10 from the m x k lookup table; every
    // float here is reproduced bit-for-bit by the oracle's
    // list_dot_product formulation
    "q_d36_pq_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cb = Pq.codebooksBySample(emb, "embedding", "vec_id", m = 4, k = 4, dim = 64)
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble).toArray
      Pq.adcTopK(Pq.encode(emb, "embedding", "vec_id", cb), "vec_id", cb, q, 10)
    }),
    // distribution drift between two event slices: one-scan
    // multi-column value shares, PSI from nano-quantized terms
    "q_d37_psi_drift" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("event_id"), col("event_type"),
        floor(col("value") / 10).cast("long").as("value_decile"))
      val (psi, g) = graft.profile.Drift.categoricalPsiAndGuard(
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1),
        Seq("event_type", "value_decile"))
      // zz_guard claim row (A21 scheme, ADVICE r11): 1 certifies every
      // nano-quantized PSI term sits > 1e-7 off its rounding boundary
      psi.unionByName(g.select(lit("zz_guard").as("column"),
        lit(-1L).as("n_categories"),
        when(col("min_term_dist") > 1e-7, 1.0).otherwise(0.0).as("psi")))
        .orderBy("column")
    }),
    // mixture design: keep fractions per source for a 10k-token
    // budget at temperature 0.5 (sqrt-weighted — upweights small
    // sources; sqrt is correctly rounded on every engine)
    "q_d41_token_budget" -> ((s, d) =>
      graft.pipeline.Pipeline.tokenBudgetFractions(
        t(s, d, "documents")
          .withColumn("n_tokens", TextAnalysis.wordCount(col("text"))),
        col("n_tokens"), col("source"), budgetTokens = 10000, temperature = 0.5)
        .orderBy("source")),
    // quality-aware dedup collapse: within each near-dup component
    // keep the doc with the MOST tokens (ties -> smallest id), not
    // the smallest id unconditionally
    "q_d42_dedup_best" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") % 10 === 0)
      // candidateBudget pinned (same reasoning as q_b4): the gate's
      // oracle is uncapped, so guard auto-degrade must stay off
      val pairs = Dedup.jaccardJoin(docs, "text", "doc_id", 0.8,
        candidateBudget = Long.MaxValue)
      graft.dedup.Components.dedupByPairsBest(docs, "doc_id", pairs,
        "id_a", "id_b", size(split(trim(col("text")), " +")))
        .select("doc_id").orderBy("doc_id")
    }),
    // sliding-window chunking (RAG/context prep): map-only, 64-token
    // windows advancing by 48 (16-token overlap), final chunk ragged
    "q_d43_chunking" -> ((s, d) =>
      graft.pipeline.Pipeline.chunkDocs(
        t(s, d, "documents").filter(col("doc_id") % 5 === 0),
        "text", "doc_id", chunkLen = 64, overlap = 16)
        .orderBy("doc_id", "chunk_id")),
    // bigram-LM fluency scoring (CCNet-style, one order above d28):
    // self-scored corpus, p(w2|w1) = cnt(w1,w2)/cnt(w1,·), micro-nat
    // integer sums for reduction-order-independent float results
    "q_d44_bigram_xent" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.text.TokenStats.bigramCrossEntropy(docs, "text", "doc_id",
        graft.text.TokenStats.bigramCounts(docs, "text", "doc_id"))
        .orderBy("doc_id")
    }),
    // CCNet perplexity tiers: self-scored unigram CE per doc, exact
    // per-language tertile ranks (window partitioned by lang; the
    // approx-threshold flavor is the 100 TB path, spec'd separately)
    "q_d53_ppl_buckets" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val ce = graft.text.TokenStats.crossEntropy(docs, "text", "doc_id",
        graft.text.TokenStats.unigramCounts(docs, "text", "doc_id"))
      graft.text.TokenStats.perplexityBuckets(
        ce.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")),
        "doc_id", "lang")
        .select(col("doc_id"), col("lang"), col("cross_entropy"),
          col("ppl_rank"), col("ppl_bucket"))
        .orderBy("doc_id")
    }),
    // fastText-style linear classifier inference: deterministic
    // hash-weight model (a REAL trained model arrives as the same
    // (bucket, w_micro) dim), exact integer dot products, sigmoid of
    // the ROUNDED logit so both engines exponentiate identical input
    // prob derives from σ of the IDENTICAL 4-dp logit in both
    // engines with exp's output quantized to the 1e-6 grid (the only
    // libm step; division is IEEE-deterministic); the guard row pins
    // that no document's e·1e6 sits within 1e-7 of its rounding
    // boundary (cross-build libm drift ≲1e-9), so the 4-dp prob —
    // and the threshold label — is engine-portable
    "q_d54_linear_score" -> ((s, d) => {
      val scored = graft.text.Classifier.linearScore(
        t(s, d, "documents"), "text", "doc_id",
        graft.text.Classifier.hashWeights(s, 4096, "qw"), buckets = 4096)
      val docs = scored
        .select(col("doc_id"), col("feat_count"), col("dot_micro"),
          col("logit_micro"), col("logit"), col("prob"), col("label"),
          lit("doc").as("tag"))
      val guard = graft.text.Classifier.sigmoidBoundaryGuard(scored)
        .select(lit(-1L).as("doc_id"), lit(-1L).as("feat_count"),
          lit(-1L).as("dot_micro"), lit(-1L).as("logit_micro"),
          lit(0.0).as("logit"),
          when(coalesce(col("min_sigmoid_dist"), lit(1.0)) > 1e-7, 1.0)
            .otherwise(0.0).as("prob"),
          lit(-1).as("label"), lit("sigmoid_guard").as("tag"))
      docs.unionByName(guard).orderBy("tag", "doc_id")
    }),
    // soft dedup: duplicate content classes down-weighted 1/occ
    // instead of removed; per-doc weight + effective token mass
    "q_d55_soft_dedup" -> ((s, d) =>
      Dedup.softDedupWeights(t(s, d, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("occ"), col("weight"), col("eff_tokens"))
        .orderBy("doc_id")),
    // KMV bottom-k sketch: deterministic corpus-overlap estimate of
    // two overlapping slices, exact numbers alongside (gate flavor)
    "q_d56_kmv" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.dedup.Sketch.corpusJaccardKmv(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 3 === 0), "text",
        k = 256, withExact = true)
    }),
    // weighted sampling without replacement (D86): top-60 by
    // (ln n_chars + Gumbel) integer keys; zz guard row pins the
    // rounding-boundary distance claim (the D46 scheme, standalone)
    "q_d86_weighted_sample" -> ((s, d) => {
      val (samp, g) = graft.pipeline.Pipeline.weightedSampleTopKAndGuard(
        t(s, d, "documents"), "doc_id", "n_chars", 60)
      samp.select(col("doc_id"), col("sample_key"))
        .unionByName(g.select(lit(-1L).as("doc_id"),
          when(col("min_key_dist") > 1e-7, 1L).otherwise(0L).as("sample_key")))
        .orderBy("doc_id")
    }),
    // snapshot diff census (D85): before = orders, after = a
    // deterministic doctoring (drop %13 keys, bump totalprice on %7,
    // add %17 keys shifted out of range) — one full-outer join + one
    // aggregation, fixed-size (metric, value) report
    "q_d85_snapshot_diff" -> ((s, d) => {
      val o = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      val after = o.filter(col("o_orderkey") % 13 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1)
            .otherwise(col("o_totalprice")))
        .unionByName(o.filter(col("o_orderkey") % 17 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
      graft.operators.Merge.snapshotDiff(o, after, Seq("o_orderkey"))
        .orderBy("metric")
    }),
    // BPE merge induction (D84): 64 merges learned from the corpus
    // via the BATCHED inducer (r12 verdict #2 — top-m provably-
    // sequential pairs per driver round-trip instead of one) — one
    // corpus scan for word counts, then vocab-frame iterations; the
    // oracle unrolls the same 64 iterations SEQUENTIALLY as CTE
    // chains, so the gate certifies batched ≡ sequential on the real
    // corpus, not just the spec corpora
    "q_d84_bpe_merges" -> ((s, d) => {
      import s.implicits._
      bpeGateTable(s, d).toSeq
        .toDF("rank", "left", "right", "merged", "pair_count")
        .orderBy("rank")
    }),
    // ...and the trained tokenizer applied back to the corpus: a
    // 64-deep chain of codegen'd replaces in ONE map-only projection
    // (segmentSize=64 — longer tables fold through checkpointed
    // segments; see Bpe.applyMerges). Reuses q_d84's learned table
    // via the memo (r13 verdict #4) — the encode is what this gate
    // grades, the induction is q_d84's.
    "q_d84b_bpe_encode" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val merges = bpeGateTable(s, d)
        .map(r => (r._2, r._3)).toSeq
      graft.text.Bpe.applyMerges(docs, "text", merges)
        .select("doc_id", "bpe_tokens").orderBy("doc_id")
    }),
    // theta-sketch source set algebra (D83): per-source sketches of
    // normalized content, full pairwise union/intersection/difference
    // + the all-source union row. Exact regime at every gate scale
    // (distinct per source << 2^16), so the oracle recomputes every
    // cell with exact COUNT(DISTINCT) set arithmetic.
    "q_d83_theta_algebra" -> ((s, d) =>
      graft.dedup.Sketch.thetaSourceAlgebra(
        t(s, d, "documents"), "text", "source", lgK = 16)
        .orderBy("source_a", "source_b")),
    // full Gopher rule battery over a doctored corpus (bullet /
    // ellipsis / symbol lines injected deterministically so several
    // rule classes fire; the doctoring is mirrored in the oracle)
    "q_d57_gopher" -> ((s, d) => {
      val docs = t(s, d, "documents").withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            lit("\n- bullet point one\n- bullet point two")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("\nto be continued...")).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            lit("\n#tag #tag2 ### 123 456")).otherwise(lit(""))))
      graft.text.TextAnalysis.gopherRules(docs, "text", "doc_id",
        minWords = 20, maxWords = 80, minMeanWordLen = 3.0,
        maxMeanWordLen = 10.0, maxSymbolWordRatio = 0.05,
        maxBulletLineFrac = 0.5, maxEllipsisLineFrac = 0.3,
        minAlphaWordRatio = 0.9, minStopwords = 2)
        .orderBy("doc_id")
    }),
    // leakage-safe split: near-dup components assigned to train/val/
    // test as a unit (split key = component's min member id)
    "q_d45_leakage_split" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") % 10 === 0)
      // candidateBudget pinned (same reasoning as q_b4): the gate's
      // oracle is uncapped, so guard auto-degrade must stay off
      val pairs = Dedup.jaccardJoin(docs, "text", "doc_id", 0.8,
        candidateBudget = Long.MaxValue)
      graft.pipeline.Pipeline.leakageSafeSplit(docs, "doc_id", pairs)
        .select(col("doc_id"), col("group_id"), col("split"))
        .orderBy("doc_id")
    }),
    // duplicate-span detection (exact-substring-dedup family): hashed
    // 8-token windows at stride 1; a span occurrence is duplicated
    // when its 60-bit fingerprint repeats corpus-wide (within-doc
    // repeats count — self-repetition is part of the signal)
    "q_d47_dup_spans" -> ((s, d) =>
      graft.dedup.Spans.duplicatedSpanStats(
        t(s, d, "documents"), "text", "doc_id", spanLen = 8)
        .orderBy("doc_id")),
    // the REPAIR half of exact-substring dedup: a shared 10-token
    // sentence appended to every 7th doc guarantees cross-doc
    // duplicated 8-token windows; all its occurrences except the
    // globally-first are removed and the covered tokens dropped
    // (natural corpus span dups removed too — the oracle re-derives
    // keeper selection, coverage union, and reassembly end-to-end)
    "q_d58_span_removal" -> ((s, d) => {
      val docs = t(s, d, "documents").withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"),
            lit(" the quick brown fox jumps over the lazy dog tonight")))
          .otherwise(col("text")))
      graft.dedup.Spans.removeDuplicateSpans(docs, "text", "doc_id", spanLen = 8)
        .orderBy("doc_id")
    }),
    // cross-source duplication matrix over the corpus plus a
    // deterministic 20% "mirror" slice — the dataset-card signal for
    // which sources re-crawl each other; containment re-derived in SQL
    "q_d59_source_overlap" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val corpus = docs.select(col("text"), col("source"))
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select(col("text"), lit("mirror").as("source")))
      graft.dedup.Sketch.sourceOverlapMatrix(corpus, "text", "source")
        .orderBy("source_a", "source_b")
    }),
    // markup stripping: every 6th doc gets wrapped in crawl-shaped
    // HTML (tags, attributes, a script block, comments, entities) —
    // the cleaning chain is mirrored regexp-for-regexp in DuckDB
    // (RE2-portable patterns, no backreferences)
    "q_d68_strip_markup" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") % 2 === 0)
        .withColumn("text", when(col("doc_id") % 6 === 0,
          concat(lit("<html><head><style>p{color:red}</style>"),
            lit("<script type=\"text/javascript\">var x = 1 < 2;</script></head>"),
            lit("<body><!-- nav --><div class=\"main\">"), col("text"),
            lit(" &amp; more &lt;tags&gt; &quot;quoted&quot;</div></body></html>")))
          .otherwise(col("text")))
      docs.select(col("doc_id"),
        length(col("text")).as("len_raw"),
        length(graft.text.Boilerplate.stripMarkup(col("text"))).as("len_clean"),
        substring(md5(graft.text.Boilerplate.stripMarkup(col("text"))), 1, 16)
          .as("clean_hash"))
        .orderBy("doc_id")
    }),
    // schema conformance: a "legacy" variant of events (narrowed id,
    // stringly value, missing user_id, an extra column) conformed to
    // the canonical target — widen-cast, parse-cast, typed null,
    // drop; the oracle mirrors the cast chain on the DATA (round-trip
    // double->varchar->double is identity in both engines)
    "q_c24_conform" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val variant = t(s, d, "events").select(
        col("event_id").cast("int").as("event_id"),
        col("event_type"),
        col("value").cast("string").as("value"),
        col("props"),
        lit("legacy").as("extra_tag"))
      val target = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType),
        StructField("props", StringType)))
      graft.sources.Sources.conformSchema(variant, target).orderBy("event_id")
    }),
    // mergeable KLL quantile sketches (Spark's kll_* functions): the
    // two halves of lineitem sketched INDEPENDENTLY, merged via
    // kll_merge_agg_double, quartiles extracted — certified a14-style against
    // EXACT order statistics at rank q±3% over the union (KLL k=200
    // two-sided rank error ~1.65%; the 3% margin makes the claim's
    // failure probability negligible despite KLL's unseedable
    // compaction randomness — sketch BYTES are never compared)
    "q_d67_kll_incremental" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val li = t(s, d, "lineitem")
      val cols = Seq("l_quantity", "l_extendedprice")
      val est = Profiler.mergeQuantileEstimates(Seq(
        Profiler.quantileSketches(li.filter(col("l_orderkey") % 2 === 0), cols),
        Profiler.quantileSketches(li.filter(col("l_orderkey") % 2 =!= 0), cols)),
        Seq(0.25, 0.5, 0.75))
      // rank bounds in PURE INTEGER arithmetic ((q±3%)·n as p·n DIV
      // 100) — float literal arithmetic is engine-ambiguous here:
      // DuckDB folds 0.25+0.03 as exact DECIMAL while Spark's doubles
      // give 0.28000…0003, and ceil() flips a rank at the boundary
      val qs = Seq(0.25, 0.5, 0.75)
      val bounds = cols.map { c =>
        val vals = graft.CacheScope.persist(
          li.select(col(c).cast("double").as("v")).filter(col("v").isNotNull)
            // bounded by the gate table's column: a certification window
            .withColumn("rn", row_number().over(Window.orderBy("v"))))
        val n = vals.agg(count(lit(1)).as("n"))
        qs.map { q =>
          val loPct = math.round((q - 0.03) * 100).toInt
          val hiPct = math.round((q + 0.03) * 100).toInt
          val lo = vals.crossJoin(broadcast(n))
            .filter(col("rn") === greatest(expr(s"($loPct * n) DIV 100"), lit(1L)))
            .select(col("v").as("lo"))
          val hi = vals.crossJoin(broadcast(n))
            .filter(col("rn") === least(expr(s"($hiPct * n + 99) DIV 100"), col("n")))
            .select(col("v").as("hi"))
          lo.crossJoin(hi).select(lit(c).as("column"), lit(f"$q%.2f").as("q"),
            round(col("lo"), 4).as("lo"), round(col("hi"), 4).as("hi"))
        }.reduce(_ unionByName _)
      }.reduce(_ unionByName _)
      bounds.join(est, Seq("column", "q"))
        .select(col("column"), col("q"), col("lo"), col("hi"),
          when(col("value").between(col("lo"), col("hi")), 1).otherwise(0)
            .as("within"))
        .orderBy("column", "q")
    }),
    // the INGEST path composed end-to-end: bloom screen (claim: no
    // false negative corpus-wide) → exact dedup vs the store → span
    // staleness gate on the novel docs (≤50% stale 8-token spans) →
    // per-language rollup; every stage re-derived in one SQL chain
    "q_e2e_ingest" -> ((s, d) => {
      val all = t(s, d, "documents")
      val store = all.filter(col("doc_id") % 3 === 0)
      val batch = all.filter(col("doc_id") % 3 === 1)
        .unionByName(store.filter(col("doc_id") % 5 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      val bits = graft.dedup.Bloom.buildFilter(
        store, md5(col("text")), expectedItems = 100000)
      val screened = graft.dedup.Bloom.screenBatch(
        batch.withColumn("_k", md5(col("text"))), col("_k"), bits)
      val storeKeys = store.select(md5(col("text")).as("_k")).distinct()
      val flagged = screened
        .join(storeKeys.withColumn("_dup", lit(true)), Seq("_k"), "left")
        .withColumn("exact_dup", coalesce(col("_dup"), lit(false)))
      // pinned: the novel frame feeds the span-staleness scoring AND
      // the keep join (without it the screen + membership join re-run)
      val novel = graft.CacheScope.persist(flagged.filter(!col("exact_dup")))
      val spanStats = graft.dedup.Spans.novelSpanStats(
        novel, store, "text", "doc_id", spanLen = 8)
      val kept = novel
        .join(spanStats.select(col("doc_id"), col("stale_frac")), Seq("doc_id"), "left")
        .filter(coalesce(col("stale_frac"), lit(0.0)) <= 0.5)
      val ing = batch.groupBy("lang").agg(count(lit(1)).as("ingested"))
      val kp = kept.groupBy("lang").agg(count(lit(1)).as("kept_docs"),
        sum(size(split(trim(col("text")), " +")).cast("long")).as("kept_tokens"))
      val claim = flagged.agg(
        (count(when(col("exact_dup") && !col("bloom_hit"), 1)) === 0)
          .cast("double").as("nfn_claim"))
      ing.join(kp, Seq("lang"), "left")
        .crossJoin(broadcast(claim))
        .select(col("lang"), col("ingested"),
          coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
          coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
          col("nfn_claim"))
        .orderBy("lang")
    }),
    // k-NN label assignment: every 100th embedding queries the corpus
    // (self excluded), majority vote over the top-10 neighbor labels;
    // the one scan computes ALL query dots via a single MatVec bank
    "q_d66_knn_label" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id"), col("embedding")).orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      Ann.knnClassify(emb, "embedding", "vec_id", "label", queries, k = 10)
        .orderBy("query_id")
    }),
    // Unicode NFC normalization: every 9th doc gets decomposed
    // sequences appended (e+combining-acute, A+ring, o+diaeresis) —
    // normalization composes them, shrinking the codepoint count and
    // changing the content hash; the oracle re-derives via DuckDB's
    // independent nfc_normalize implementation
    "q_c23_nfc" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") % 3 === 0)
        .withColumn("text", when(col("doc_id") % 9 === 0,
          concat(col("text"), lit(" cafe\u0301 A\u030A no\u0308el")))
          .otherwise(col("text")))
      val norm = Corrector.normalizeUnicode(col("text"))
      docs.select(col("doc_id"),
        length(col("text")).as("len_raw"),
        length(norm).as("len_nfc"),
        substring(md5(norm), 1, 16).as("nfc_hash"))
        .orderBy("doc_id")
    }),
    // mergeable HLL distinct sketches: the two halves of documents
    // sketched INDEPENDENTLY, merged, estimated — vs exact distincts
    // over the union (oracle-recomputed); the claim row pins the
    // estimate within ±5% (lgK=12 HLL rel err ≈ 1.6%)
    "q_d64_hll_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val cols = Seq("doc_id", "lang", "source")
      val est = Profiler.mergeDistinctEstimates(Seq(
        Profiler.distinctSketches(docs.filter(col("doc_id") % 2 === 0), cols),
        Profiler.distinctSketches(docs.filter(col("doc_id") % 2 =!= 0), cols)))
      val exact = docs.select(explode(map(
        cols.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*))
        .as(Seq("column", "_v")))
        .groupBy("column").agg(countDistinct(col("_v")).as("exact_distinct"))
      exact.join(est, Seq("column"))
        .select(col("column"), col("exact_distinct"),
          when(abs(col("distinct_est") - col("exact_distinct"))
            <= col("exact_distinct") * 0.05, 1.0).otherwise(0.0).as("within_5pct"))
        .orderBy("column")
    }),
    // e2e-4: the DQ VERDICT table — this round's detection family
    // composed into one (component, metric, value) report: FK
    // coverage, row-rule violation rates, Benford max deviation,
    // IQR outliers, and volume anomalies; each component reuses its
    // own gated query, and the oracle nests the component oracles
    "q_e2e_dq" -> ((s, d) => {
      val q = SparkEntry.queries
      def fk() = q("q_b19_ref_integrity")(s, d)
        .select(lit("fk").as("component"), col("relationship").as("metric"),
          col("coverage_pct").cast("double").as("value"))
      def rules() = q("q_b21_row_rules")(s, d)
        .select(lit("rule").as("component"), col("rule").as("metric"),
          col("violation_pct").cast("double").as("value"))
      def ben() = q("q_b20_benford")(s, d)
        .agg(max(col("dev_micro")).as("m"))
        .select(lit("benford").as("component"),
          lit("max_dev_micro").as("metric"), col("m").cast("double").as("value"))
      def outl() = q("q_a17_outliers")(s, d)
        .filter(col("column") === "l_quantity")
        .select(lit("outliers").as("component"),
          lit("l_quantity_iqr").as("metric"),
          col("iqr_outliers").cast("double").as("value"))
      def vol() = q("q_b22_volume_anomaly")(s, d)
        .agg(count(when(col("anomaly"), 1)).as("v"))
        .select(lit("volume").as("component"),
          lit("anomalous_buckets").as("metric"),
          col("v").cast("double").as("value"))
      // The five component pipelines are INDEPENDENT and each emits a
      // report-sized frame (≈11 rows total) — submit them as
      // CONCURRENT jobs (r16, guide §2.6 "overlap independent jobs":
      // a union of multi-pass pipelines otherwise runs their
      // broadcast-gated stages back to back) and assemble the rows on
      // the driver. Row content is identical to the former
      // unionByName; the orderBy key (component, metric) is unique
      // per row, so the final order is deterministic either way.
      val parts: Seq[() => DataFrame] =
        Seq(() => fk(), () => rules(), () => ben(), () => outl(), () => vol())
      val collected = Par.map(parts)(p => p().collect()).flatten
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("component",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("metric",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType, nullable = true)))
      s.createDataFrame(java.util.Arrays.asList(collected: _*), schema)
        .orderBy("component", "metric")
    }),
    // volume-anomaly monitor: every 7th click 6h-bucket dropped
    // entirely — densification turns the missing buckets into zero
    // counts, the robust-z rule flags them
    "q_b22_volume_anomaly" -> ((s, d) => {
      val ev = t(s, d, "events")
      val bucket = 21600000000L // 6h in µs
      val doctored = ev.withColumn("_us0", Tables.epochMicros(ev, "ts"))
        .filter(!(col("event_type") === "click" &&
          expr(s"(_us0 DIV ${bucket}L) % 7") === 0))
      Detector.volumeAnomalies(doctored, col("_us0"), "event_type", bucket)
    }),
    // duplicate-column detection over doctored copies (exact copy,
    // perturbed every 97th, nulled every 53rd — null-safe equality)
    "q_a24_dup_cols" -> ((s, d) => {
      val o = t(s, d, "orders")
        .withColumn("ck_copy", col("o_custkey"))
        .withColumn("ck_perturbed", when(col("o_orderkey") % 97 === 0,
          col("o_custkey") + 1).otherwise(col("o_custkey")))
        .withColumn("ck_nulled", when(col("o_orderkey") % 53 === 0,
          lit(null).cast("long")).otherwise(col("o_custkey")))
      Profiler.duplicateColumns(o,
        Seq("o_custkey", "ck_copy", "ck_perturbed", "ck_nulled"))
    }),
    // split balance audit: per (split, lang) share vs global share in
    // tie-safe basis points — the verification step after a D16 split
    "q_d82_split_balance" -> ((s, d) =>
      graft.pipeline.Pipeline.splitBalanceReport(
        t(s, d, "documents"), "text", "lang")),
    // windowed heavy hitters, batch-graded (5-type vocab << 0.75·M →
    // exact regime: est = lb = ub = the per-window type counts)
    "q_d81_windowed_freq" -> ((s, d) => {
      val ev = t(s, d, "events")
      graft.streaming.StreamingDQ.windowedFrequentItems(
        ev.withColumn("tsw", Tables.asTimestamp(ev, "ts")),
        "tsw", "event_type", windowDur = "6 hours")
        .withColumn("window_start", unix_micros(col("window_start")))
        .orderBy("window_start", "item")
    }),
    // D95 (r13): windowed streaming distinct counts — the HLL sketch
    // agg inside a watermarked window (state bounded by open-windows
    // × 2^lgK registers, never item cardinality); batch-graded here
    // (same code path, watermark a no-op on batch — the D14/D81
    // scheme) with the D64 certification: per-window estimate vs the
    // batch-exact count, ±5% claim per window.
    "q_d95_windowed_distinct" -> ((s, d) => {
      val ev = t(s, d, "events")
      val withTs = ev.withColumn("tsw", Tables.asTimestamp(ev, "ts"))
      val est = graft.streaming.StreamingDQ.windowedDistinct(
        withTs, "tsw", "user_id", windowDur = "6 hours")
        .withColumn("window_start", unix_micros(col("window_start")))
      val exact = withTs.filter(col("user_id").isNotNull)
        .groupBy(window(col("tsw"), "6 hours").as("w"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
        .select(unix_micros(col("w.start")).as("window_start"),
          col("exact_distinct"))
      exact.join(est, Seq("window_start"))
        .select(col("window_start"), col("exact_distinct"),
          when(abs(col("distinct_est") - col("exact_distinct"))
            <= col("exact_distinct").cast("double") * 0.05, 1.0)
            .otherwise(0.0).as("within_5pct"))
        .orderBy("window_start")
    }),

    // PMI collocations: top-15 over-chance adjacent pairs (minCount
    // 5) + the zz_guard ln-portability claim row
    "q_d80_pmi" -> ((s, d) => {
      val (top, g) = graft.text.TokenStats.pmiCollocationsAndGuard(
        t(s, d, "documents"), "text", "doc_id", minCount = 5, k = 15)
      top.unionByName(g.select(lit("zz_guard").as("w1"), lit("").as("w2"),
          lit(-1L).as("cnt"),
          when(col("min_pmi_dist") > 1e-7, 1L).otherwise(0L).as("pmi_micro")))
        .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
    }),
    // missingness patterns + pairwise co-null drill-down over the
    // doctored events (error rows null out correlated column sets)
    "q_a23_missing" -> ((s, d) => Profiler.missingnessPatterns(
      doctoredEvents(s, d), Seq("ts", "user_id", "value", "props"))),
    "q_a23b_comissing" -> ((s, d) => Profiler.coMissingness(
      doctoredEvents(s, d), Seq("ts", "user_id", "value", "props"))),
    // deterministic pseudonymization: same salt + value -> same token
    // in independently-derived frames (join-stability claim per row)
    "q_c27_pseudonym" -> ((s, d) => {
      val c = t(s, d, "customer")
      val tok1 = c.select(col("c_custkey"),
        Corrector.pseudonymize(col("c_name"), "graft-r11").as("token"))
      val tok2 = c.select(col("c_custkey"),
        Corrector.pseudonymize(col("c_name"), "graft-r11").as("token2"))
      tok1.join(tok2, Seq("c_custkey"))
        .select(col("c_custkey"), col("token"),
          (col("token") === col("token2")).as("stable"))
        .orderBy("c_custkey")
    }),
    // per-segment OLS trend of order totals over time, all-integer
    // (days × cents; decimal(38,0) sums; sign-split tie-safe DIV)
    "q_a22_trend" -> ((s, d) => {
      val o = t(s, d, "orders")
        .withColumn("xday", datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long"))
        .withColumn("ycents",
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
      Profiler.trendProfile(o, "o_orderpriority", "xday", "ycents")
    }),
    // first-touch funnel: view -> click -> purchase per user, each
    // step strictly after the previous step's first touch
    "q_d79_funnel" -> ((s, d) => {
      val ev = t(s, d, "events")
      graft.operators.Funnel.firstTouch(
        ev.withColumn("tsu", Tables.epochMicros(ev, "ts")),
        "user_id", "tsu", "event_type", Seq("view", "click", "purchase"))
    }),
    // two-sample KS drift: discounted vs non-discounted line items'
    // quantity distributions; exact integer cross-products, one
    // tie-safe 4-dp division at display
    "q_d78_ks_drift" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      graft.profile.Drift.ksStatistic(
        li.filter(col("l_discount") > 0.05),
        li.filter(col("l_discount") <= 0.05), "l_quantity")
    }),
    // Z-order write clustering: the Morton code for (custkey,
    // order-day) in pure integer bucket+interleave arithmetic — the
    // value the layout sorts by; write path itself is spec-pinned
    "q_d77_zorder" -> ((s, d) => {
      val o = t(s, d, "orders")
        .withColumn("od", datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long"))
      graft.sources.Zorder.withZValue(o, "o_custkey", "od", bits = 16)
        .select(col("o_orderkey"), col("z_value"))
        .orderBy("o_orderkey")
    }),
    // integer-exact PageRank over a doctored 50-domain graph (two
    // edge families so out-degrees vary); 3 fixed iterations, all
    // arithmetic in micro-unit DIV — bit-identical across engines
    "q_d75_pagerank" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val e1 = docs.select((col("doc_id") % 50).as("src"),
        ((col("doc_id") * 7 + 3) % 50).as("dst"))
      val e2 = docs.select((col("doc_id") % 50).as("src"),
        expr("((doc_id DIV 50) * 13 + 1) % 50").as("dst"))
      val edges = e1.unionByName(e2).filter(col("src") =!= col("dst"))
      graft.graph.PageRank.rankMicro(edges, "src", "dst", iterations = 3)
        .orderBy("node")
    }),
    // Aho-Corasick canary scan: phrase needles (present when tokens
    // happen to be adjacent), a single-word needle, an absent canary —
    // one automaton pass per doc; oracle = per-needle strpos branches
    "q_d74_canary" -> ((s, d) => {
      val needles = Seq("hash join", "slow scan", "merge", "canary_absent_xyz")
      graft.text.TextAnalysis.canaryScan(
        t(s, d, "documents").filter(col("doc_id") % 3 === 0),
        "text", "doc_id", needles)
        .orderBy("doc_id", "needle_id")
    }),
    // stream-stream interval join, batch-graded (the D14/D20 scheme:
    // same code path, watermark a no-op on batch frames): clicks =
    // every 7th event, impressions = every 97th, same-user correlation
    // within 30 minutes
    "q_d73_stream_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val base = ev.select(col("event_id"), col("user_id"),
        Tables.asTimestamp(ev, "ts").as("t"))
        .filter(col("user_id").isNotNull)
      val clicks = base.filter(col("event_id") % 7 === 0)
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          col("t").as("c_ts"))
      val imps = base.filter(col("event_id") % 97 === 0)
        .select(col("event_id").as("i_id"), col("user_id").as("i_user"),
          col("t").as("i_ts"))
      graft.streaming.StreamingDQ.streamIntervalJoin(
        clicks, "c_ts", "c_user", imps, "i_ts", "i_user",
        span = "30 MINUTES", watermark = "10 minutes")
        .select(col("c_id"), col("i_id"),
          unix_micros(col("c_ts")).as("c_us"))
        .orderBy("c_id", "i_id")
    }),
    // bucketed range join: every 97th event opens a 30-min interval,
    // every 7th event is a point; 15-min buckets → equi-join + residual
    // BETWEEN (plan-audited: no BroadcastNestedLoopJoin)
    "q_d72_range_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val base = ev.select(col("event_id"), Tables.epochMicros(ev, "ts").as("pt"))
      val points = base.filter(col("event_id") % 7 === 0)
      val intervals = base.filter(col("event_id") % 97 === 0)
        .select(col("event_id").as("iv_id"), col("pt").as("iv_start"),
          (col("pt") + 1800L * 1000000L).as("iv_end"))
      graft.operators.RangeJoin.pointInInterval(
        points, "pt", intervals, "iv_start", "iv_end", 900L * 1000000L)
        .select(col("event_id"), col("iv_id"), col("pt"))
        .orderBy("event_id", "iv_id")
    }),
    // k-anonymity drill-down: QI = (nation, 50-unit acctbal band) —
    // fine enough that re-identifiable below-4 cells genuinely exist;
    // sensitive = market segment (l_div = distinct segments per cell)
    "q_d71_k_anon" -> ((s, d) => {
      val c = t(s, d, "customer")
        .withColumn("band", floor(col("c_acctbal") / 50).cast("long"))
      graft.quality.Privacy.riskGroups(
        c, Seq("c_nationkey", "band"), "c_mktsegment", k = 4)
    }),
    // the one-row k-anonymity rollup over the same cells
    "q_d71b_k_report" -> ((s, d) => {
      val c = t(s, d, "customer")
        .withColumn("band", floor(col("c_acctbal") / 50).cast("long"))
      graft.quality.Privacy.kAnonymityReport(
        c, Seq("c_nationkey", "band"), k = 4)
    }),
    // D70's PSL external-dim contract (r12 verdict #6): registered
    // domain against a REAL multi-level suffix table — longest match
    // (co.uk over uk, github.io over io), suffix-only host -> null,
    // unknown TLD -> last-two default — with the dim carried into
    // the oracle as a VALUES CTE and the longest-match logic fully
    // re-derived in SQL
    "q_d70b_psl_domain" -> ((s, d) => {
      import s.implicits._
      val urls = t(s, d, "documents").select("doc_id")
        .withColumn("url",
          when(col("doc_id") % 13 === 0, lit("https://co.uk/"))
            .otherwise(concat(lit("https://"),
              when(col("doc_id") % 4 === 0, concat(lit("www.shop"),
                (col("doc_id") % 7).cast("string"), lit(".example.co.uk")))
                .when(col("doc_id") % 4 === 1, concat(lit("blog"),
                  (col("doc_id") % 5).cast("string"), lit(".example.com")))
                .when(col("doc_id") % 4 === 2, concat(lit("user"),
                  (col("doc_id") % 9).cast("string"), lit(".github.io")))
                .otherwise(concat(lit("site"),
                  (col("doc_id") % 11).cast("string"), lit(".internal.zz9"))),
              lit("/p/"), col("doc_id").cast("string"))))
      val dim = Seq("com", "uk", "co.uk", "io", "github.io", "org").toDF("suffix")
      graft.text.Urls.registeredDomainFromTable(urls, "url", dim)
        .select("doc_id", "registered_domain").orderBy("doc_id")
    }),
    // D70c (r14, r13 verdict #7): FULL PSL semantics end-to-end —
    // the published file grammar (comments, blanks, `*.ck` wildcards,
    // `!www.ck` exceptions) through parsePublicSuffixList into the
    // wildcard/exception-aware matcher, over hosts doctored to hit
    // every rule family: exact multi-level, wildcard, the exception
    // carve-out, the default `*` rule, and a host that IS a public
    // suffix. The oracle hand-derives each family's registered
    // domain from the same doc_id arithmetic (the PSL algorithm's
    // published answers, row for row).
    "q_d70c_psl_wildcard" -> ((s, d) => {
      import s.implicits._
      val rules = graft.text.Urls.parsePublicSuffixList(Seq(
        "// PSL excerpt", "", "com", "uk", "co.uk", "CK   comment",
        "*.ck", "!www.ck", "mm", "*.mm").toDF("line"))
      val urls = t(s, d, "documents").select("doc_id")
        .withColumn("url", concat(lit("https://"),
          when(col("doc_id") % 6 === 0, concat(lit("www.shop"),
            (col("doc_id") % 7).cast("string"), lit(".example.co.uk")))
            .when(col("doc_id") % 6 === 1, concat(lit("a.b.test"),
              (col("doc_id") % 5).cast("string"), lit(".ck")))
            .when(col("doc_id") % 6 === 2, lit("www.ck"))
            .when(col("doc_id") % 6 === 3, concat(lit("x.files"),
              (col("doc_id") % 3).cast("string"), lit(".mm")))
            .when(col("doc_id") % 6 === 4, concat(lit("sub"),
              (col("doc_id") % 4).cast("string"), lit(".example.zz9")))
            .otherwise(lit("test.ck")),
          lit("/p/"), col("doc_id").cast("string")))
      graft.text.Urls.registeredDomainPsl(urls, "url", rules)
        .select("doc_id", "registered_domain").orderBy("doc_id")
    }),
    // URL canonicalization + per-domain cap: crawl-shaped URLs
    // doctored from doc_id (mixed-case scheme/host, default + explicit
    // ports, tracking params in first/last position, fragments,
    // trailing slashes); canonical form + registered domain + the
    // cap-5-per-domain keep verdict (score = n_chars, id tiebreak)
    "q_d70_url_canon" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") % 2 === 0)
        .withColumn("url", concat(
          when(col("doc_id") % 4 === 0, lit("HTTPS")).otherwise(lit("http")),
          lit("://WWW.Site"), (col("doc_id") % 50).cast("string"),
          lit(".Example.COM"),
          when(col("doc_id") % 7 === 0,
            when(col("doc_id") % 4 === 0, lit(":443")).otherwise(lit(":80")))
            .when(col("doc_id") % 11 === 0, lit(":8080")).otherwise(lit("")),
          lit("/Articles/item"), col("doc_id").cast("string"),
          when(col("doc_id") % 13 === 0, lit("/")).otherwise(lit("")),
          when(col("doc_id") % 3 === 0, concat(
            lit("?utm_source=x&utm_campaign=y&id="),
            (col("doc_id") % 20).cast("string")))
            .when(col("doc_id") % 3 === 1, concat(
              lit("?id="), (col("doc_id") % 20).cast("string"), lit("&gclid=abc")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("#Section-2")).otherwise(lit(""))))
      val kept = graft.text.Urls.capPerDomain(docs, "url", "n_chars", "doc_id", 5)
        .select(col("doc_id"), lit(true).as("kept"))
      docs.select(col("doc_id"),
          graft.text.Urls.canonicalUrl(col("url")).as("url_canon"),
          graft.text.Urls.registeredDomain(col("url")).as("domain"))
        .join(kept, Seq("doc_id"), "left")
        .withColumn("kept", coalesce(col("kept"), lit(false)))
        .orderBy("doc_id")
    }),
    // mergeable frequent-items sketch: token streams of the two
    // document halves sketched INDEPENDENTLY (M=64), merged — the
    // 31-token vocabulary stays below the 0.75·M purge threshold, so
    // est/lb/ub are EXACT and max_error = 0 (the d64
    // exact-in-sparse-range scheme; purge-path bounds are spec-pinned)
    "q_d69_freq_items" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def toks(half: DataFrame) = half
        .select(explode(split(trim(col("text")), " +")).as("token"))
        .filter(length(col("token")) > 0)
      val m = 64
      Profiler.mergeFrequentItems(Seq(
        Profiler.frequencySketch(toks(docs.filter(col("doc_id") % 2 === 0)), "token", m),
        Profiler.frequencySketch(toks(docs.filter(col("doc_id") % 2 =!= 0)), "token", m)),
        m).orderBy("item")
    }),
    // Bloom ingest guard: batch (doc_id%3==1) screened against the
    // store's (doc_id%3==0) content-hash filter — exact_dup is
    // oracle-recomputed membership; the claim row per doc pins the
    // NO-FALSE-NEGATIVE property (every true dup is bloom-flagged)
    "q_d65_bloom_guard" -> ((s, d) => {
      val all = t(s, d, "documents")
      val store = all.filter(col("doc_id") % 3 === 0)
      // the batch re-crawls a fifth of the store (id-shifted — the
      // q_d5 re-ingestion pattern), so true dups exist and the
      // no-false-negative claim is non-vacuous
      val batch = all.filter(col("doc_id") % 3 === 1)
        .unionByName(store.filter(col("doc_id") % 5 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      val bits = graft.dedup.Bloom.buildFilter(
        store, md5(col("text")), expectedItems = 100000)
      val screened = graft.dedup.Bloom.screenBatch(
        batch.select(col("doc_id"), md5(col("text")).as("_k")), col("_k"), bits)
      val storeKeys = store.select(md5(col("text")).as("_k")).distinct()
      screened.join(storeKeys.withColumn("_in", lit(1)), Seq("_k"), "left")
        .select(col("doc_id"),
          col("_in").isNotNull.as("exact_dup"),
          when(col("_in").isNull || col("bloom_hit"), 1.0).otherwise(0.0)
            .as("nfn_claim"))
        .orderBy("doc_id")
    }),
    // per-doc tf-idf keywords: top-3 salient terms per document
    // (score = tf·idf in integer micro-nat space; idf guard row pins
    // the ln quantization's engine-portability — the Dsir scheme)
    "q_d60_keywords" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") % 5 === 0)
      val (kw, g) = graft.text.Keywords.tfIdfKeywordsAndGuard(
        docs, "text", "doc_id", k = 3)
      val guard = g.select(lit(-1L).as("doc_id"), lit("idf_guard").as("token"),
        lit(-1L).as("tf"),
        when(col("min_idf_dist") > 1e-7, 1.0).otherwise(0.0).as("score"))
      kw.unionByName(guard).orderBy("doc_id", "token")
    }),
    // corpus-level token-distribution JS divergence: the English
    // slice vs the rest (smoothing over the joint vocab; nano-nat
    // integer term sums; term guard row pins ln portability)
    "q_d61_js_div" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val (out, g) = graft.text.TokenStats.jsDivergenceAndGuard(
        docs.filter(col("lang") === "en"), docs.filter(col("lang") =!= "en"),
        "text", "doc_id")
      val guard = g.select(lit("term_guard").as("metric"),
        when(col("min_term_dist") > 1e-7, 1.0).otherwise(0.0).as("value"))
      out.unionByName(guard).orderBy("metric")
    }),
    // semantic decontamination: every 50th embedding doubles as the
    // "benchmark" bank, so those corpus rows are exact semantic dups
    // (cosine 1.0) and everything else sits far below the threshold
    // (the synthetic embeddings' max random pairwise cosine < 0.8);
    // the oracle recomputes every corpus x bench cosine + argmax
    "q_d62_semantic_decontam" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Ann.semanticContamination(emb, "embedding", "vec_id",
        emb.filter(col("vec_id") % 50 === 0), "embedding", "vec_id",
        threshold = 0.9)
        .orderBy("vec_id")
    }),
    // D62b (r14, r13 verdict #6): the UNBOUNDED-bank decontam path —
    // the bank here is HALF the corpus (every odd vec_id, ~25× d62's
    // bank), forced through 4 IVF cells; nothing is collected or
    // broadcast, and odd corpus rows hit themselves at cosine 1.0 so
    // the contaminated branch fires for real. The oracle re-derives
    // cell assignment (argmax cosine, later cid wins — the q_d33
    // rule), the within-cell argmax (later bench_id wins ties, the
    // d62 rule), and the left join that returns bench-free-cell rows
    // uncontaminated; 1-cell == bounded-path equality is spec-gated.
    "q_d62b_blocked_decontam" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = Ann.trainCentroidsBySample(emb, "embedding", "vec_id", 4)
      Ann.semanticContaminationBlocked(emb, "embedding", "vec_id",
        emb.filter(col("vec_id") % 2 === 1), "embedding", "vec_id",
        cents, threshold = 0.9, saltBuckets = 8)
        .orderBy("vec_id")
    }),
    // JL random projection 64 -> 8 dims with the md5-derived ±1 sign
    // matrix; components re-derived bit-for-bit in SQL via
    // list_dot_product and emitted at tie-safe 4 dp
    "q_d63_jl_project" -> ((s, d) => {
      val emb = t(s, d, "embeddings").filter(col("vec_id") % 5 === 0)
      val p = Ann.randomProject(emb, "embedding", "vec_id", inDim = 64, outDim = 8)
      p.select(col("vec_id") +: (0 until 8).map(j =>
        (round(element_at(col("projected"), j + 1) * 1e4).cast("long") / 10000.0)
          .as(s"p$j")): _*)
        .orderBy("vec_id")
    }),
    // incremental span dedup: the batch (doc_id%3==1) scored against
    // the accumulated store (doc_id%3==0) — share of each ingested
    // doc's 8-token spans already present in the store
    "q_d51_novel_spans" -> ((s, d) => {
      val all = t(s, d, "documents")
      graft.dedup.Spans.novelSpanStats(
        all.filter(col("doc_id") % 3 === 1),
        all.filter(col("doc_id") % 3 === 0),
        "text", "doc_id", spanLen = 8)
        .orderBy("doc_id")
    }),
    // winnowing (MOSS) overlap detection: min-hash fingerprint per
    // 4-window of 5-gram spans (~2/(w+1) of span volume), pairs
    // sharing >= 2 fingerprints — the long-shared-run detector
    "q_d50_winnow" -> ((s, d) =>
      graft.dedup.Spans.winnowOverlapPairs(
        t(s, d, "documents").filter(col("doc_id") % 2 === 0),
        "text", "doc_id", k = 5, window = 4, minShared = 2)
        .orderBy("id_a", "id_b")),
    // C4-style keep-first line dedup: every duplicated line keeps
    // exactly one occurrence corpus-wide (globally smallest
    // (doc, pos)); the doctored corpus injects shared lines at
    // varying positions so the keeper rule is exercised cross-doc
    "q_d49_keep_first_lines" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") % 4 === 0)
        .withColumn("text", concat(col("text"),
          when(col("doc_id") % 3 === 0, lit("\nShared attribution line"))
            .otherwise(lit("")),
          when(col("doc_id") % 2 === 0, lit("\nCommon footer quote"))
            .otherwise(lit(""))))
      graft.text.Boilerplate.keepFirstLineOccurrence(docs, "text", "doc_id")
        .orderBy("doc_id")
    }),
    // cluster-balanced subsample: quotas ∝ |cluster|^0.5 over the
    // D29 assignment (small topic clusters upweighted), 100-row
    // budget floor-allocated in exact integer arithmetic, members
    // picked by md5 rank within the cluster
    "q_d48_cluster_sample" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = Ann.trainCentroidsBySample(emb, "embedding", "vec_id", 4)
      val asg = Ann.assignClusters(emb, "embedding", "vec_id", cents)
      graft.pipeline.Pipeline.clusterBalancedSample(
        asg, col("cluster_id"), col("vec_id"), budget = 100, temperature = 0.5)
        .select(col("vec_id"), col("cluster_id"))
        .orderBy("vec_id")
    }),
    // DSIR importance resampling: hashed unigram+bigram buckets,
    // target = the English slice, raw = the whole corpus; Gumbel
    // top-50 on the exact micro-nat importance key (content-hash
    // Gumbel draw — deterministic sampling ∝ importance weight)
    // The compared projection carries NO raw transcendental-derived
    // integers (lr_micro / gumbel_key flip on one libm ulp at a
    // quantization boundary — the r10 driver failure): doc ids +
    // 4-dp coarse values only, plus two guard rows pinning that every
    // pre-round double sat > 1e-7 micro from its boundary, which
    // certifies any engine's re-derivation picks the identical top-k
    "q_d46_dsir" -> ((s, d) => {
      val raw = t(s, d, "documents")
      val (w, lg) = graft.pipeline.Dsir.importanceWeightsAndGuard(
        raw, raw.filter(col("lang") === "en"), "text", "doc_id", buckets = 10000)
      val gg = graft.pipeline.Dsir.gumbelBoundaryGuard(w, "doc_id")
      val sel = graft.pipeline.Dsir.resampleTopK(w, "doc_id", k = 50)
        .select(col("doc_id"), col("feat_count"), col("log_ratio"),
          lit("sel").as("tag"))
      val guards = lg.select(lit(-1L).as("doc_id"), lit(-1L).as("feat_count"),
          when(col("min_lambda_dist") > 1e-7, 1.0).otherwise(0.0).as("log_ratio"),
          lit("lambda_guard").as("tag"))
        .unionByName(gg.select(lit(-2L).as("doc_id"), lit(-1L).as("feat_count"),
          when(col("min_gumbel_dist") > 1e-7, 1.0).otherwise(0.0).as("log_ratio"),
          lit("gumbel_guard").as("tag")))
      sel.unionByName(guards).orderBy("tag", "doc_id")
    }),
    // dataset-card topline numbers in one pass over per-doc features
    "q_d40_datasheet" -> ((s, d) =>
      graft.text.TextAnalysis.corpusDatasheet(
        t(s, d, "documents"), "text", "doc_id", "lang")
        .orderBy("metric")),
    // balanced eval-set sampling: exactly 5 docs per source, picked
    // by md5 rank within the stratum (parallel across strata)
    "q_d38_per_stratum_topk" -> ((s, d) =>
      graft.pipeline.Pipeline.samplePerStratum(
        t(s, d, "documents").select("doc_id", "source"),
        col("source"), col("doc_id"), k = 5)
        .orderBy("source", "doc_id")),
    // per-language keep quotas (domain/language mixing), content-hash
    // deterministic: the kept set is a pure function of doc_id
    "q_d25_stratified" -> ((s, d) =>
      graft.pipeline.Pipeline.stratifiedSampleByHash(
        t(s, d, "documents"), col("doc_id"), col("lang"),
        Map("en" -> 0.3, "de" -> 0.8, "zh" -> 0.05), defaultFraction = 1.0)
        .groupBy("lang").agg(count(lit(1)).as("cnt"), min("doc_id").as("min_id"))
        .orderBy("lang")),
    // point-in-time join: each sampled event picks up the latest
    // preceding state change for its user (union + one key-windowed
    // shuffle); the oracle is DuckDB's NATIVE ASOF JOIN — two
    // entirely different formulations of the same semantics
    "q_d24_asof" -> ((s, d) => {
      // microsecond granularity on BOTH sides: whatever the physical
      // ts type (epoch-nanos long or timestamp[us] — the driver has
      // shipped both across rounds), the as-of comparison runs on the
      // µs epoch long so the two engines resolve adjacent rows
      // identically; the oracle reads the same parquet via epoch_us()
      val ev0 = t(s, d, "events")
      val ev = ev0.withColumn("ts_us", Tables.epochMicros(ev0, "ts"))
      val updates = ev.filter(col("event_id") % 50 === 0)
        .groupBy("user_id", "ts_us").agg(max("event_id").as("state_id"))
      val lhs = ev.filter(col("event_id") % 20 === 0)
        .select("event_id", "ts_us", "user_id")
      graft.operators.AsOf.asofJoin(lhs, updates, "user_id", "ts_us", Seq("state_id"))
        .orderBy("event_id")
    }),
    // Gopher-family repetition signals per doc (top word / 2-gram
    // token share — boilerplate and template spam score high)
    "q_d22_repetition" -> ((s, d) =>
      graft.text.TextAnalysis.repetitionMetrics(
        t(s, d, "documents").filter(col("doc_id") % 10 === 0), "text", "doc_id")
        .orderBy("doc_id")),
    // benchmark decontamination: docs sharing a 5-gram shingle with
    // the held-out slice are flagged (doc side streams through one
    // semi join keyed on the shingle's xxhash64; the benchmark's
    // shingles broadcast grouped by that hash and match exactly)
    "q_d23_decontam" -> ((s, d) => {
      val all = t(s, d, "documents")
      Dedup.contaminatedIds(all.filter(col("doc_id") % 11 =!= 0), "text", "doc_id",
        all.filter(col("doc_id") % 11 === 0), "text", n = 5)
        .orderBy("doc_id")
    }),
    // near-dup PAIRS collapsed to clusters: distributed min-label
    // propagation with pointer jumping (O(log diameter) rounds); the
    // oracle recomputes the transitive closure with a recursive CTE
    "q_d21_components" -> ((s, d) => {
      // candidateBudget pinned (same reasoning as q_b4): the gate's
      // oracle is uncapped, so guard auto-degrade must stay off
      val pairs = Dedup.jaccardJoin(
        t(s, d, "documents").filter(col("doc_id") % 10 === 0),
        "text", "doc_id", 0.8, candidateBudget = Long.MaxValue)
      graft.dedup.Components.connectedComponents(pairs, "id_a", "id_b")
        .select(col("node").as("doc_id"), col("component").as("cluster_id"))
        .orderBy("doc_id")
    }),
    "q_d4b_jaccard_capped" -> ((s, d) => {
      // every doc gets a ubiquitous injected token; the RELATIVE
      // df-cap (resolved in-plan — no driver-side count action) drops
      // it from candidate generation (skew guard) while scores still
      // count it — the oracle computes plain full-set Jaccard, so a
      // mis-scoring cap would be caught
      val docs = t(s, d, "documents").filter(col("doc_id") % 10 === 0)
        .withColumn("text", concat(lit("common7 "), col("text")))
      // candidateBudget pinned (same reasoning as q_b4): this gate
      // tests the FIXED relative cap's semantics against a full-set
      // Jaccard oracle — guard auto-degrade would change which pairs
      // survive candidate generation on a bigger corpus
      Dedup.jaccardJoin(docs, "text", "doc_id", 0.8, relDfCap = 0.999,
        candidateBudget = Long.MaxValue)
        .orderBy("id_a", "id_b")
    }),
    "q_d5_embed_dup" -> ((s, d) => {
      // corpus doctored with re-ingested duplicates (vec_id shifted).
      // LSH buckets find them (identical vectors => identical keys),
      // and an exact pass over the injected id range is unioned in so
      // the query stays oracle-exact by construction, not by luck of
      // the banding: every >= 0.99 pair involves an injected
      // duplicate (the synthetic embeddings are random with max
      // pairwise cosine < 0.8), and those pairs get exact recall here
      val e = t(s, d, "embeddings")
      val corpus = e.select(col("vec_id"), col("embedding"))
        .union(e.filter(col("vec_id") % 20 === 0)
          .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      Ann.cosinePairs(corpus, "embedding", "vec_id", 0.99)
        .union(Ann.cosinePairsExact(corpus, corpus.filter(col("vec_id") >= 10000),
          "embedding", "vec_id", 0.99))
        .distinct()
        .orderBy("id_a", "id_b")
    }),
    "q_d6_ann_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble).toArray
      Ann.cosineTopK(emb, "embedding", "vec_id", q, 20)
    }),
    // LSH ANN, oracle-graded: the exact top-10 rows are recomputed by
    // DuckDB (real cross-engine check), and three deterministic gate
    // rows assert the claims the specs make — (a) multi-probe
    // candidates dominate single-bucket ones under the same plane
    // family, (b) the query's own vector is always found (identical
    // vectors share every sign bit — the recall-1-on-exact-dups
    // property), (c) recall@10 >= 1 hit (follows from (b): the self
    // vector IS the exact top-1). Gate rows carry the verdict in
    // cosine_sim (1.0 = holds); the oracle emits the literal 1.0, so
    // a violated claim hash-mismatches.
    "q_d7_ann_lsh" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble).toArray
      val exact10 = Ann.cosineTopK(emb, "embedding", "vec_id", q, 10)
      val mp10 = Ann.lshTopKMultiProbe(emb, "embedding", "vec_id", q, 10)
      // candidate-set comparison needs an un-truncated k (top-k
      // truncation would break the subset property the spec states)
      val mpAll = Ann.lshTopKMultiProbe(emb, "embedding", "vec_id", q, 1000000)
      val sbAll = Ann.lshTopK(emb, "embedding", "vec_id", q, 1000000)
      def gate(id: Long, flag: Column, tag: String)(agg: DataFrame): DataFrame =
        agg.select(lit(id).as("vec_id"), flag.as("cosine_sim"), lit(tag).as("tag"))
      val dom = gate(-1L, when(col("m") === 0, 1.0).otherwise(0.0), "mp_dominates")(
        sbAll.select("vec_id").join(mpAll.select("vec_id"), Seq("vec_id"), "left_anti")
          .agg(count(lit(1)).as("m")))
      val self = gate(-2L, when(col("m") > 0, 1.0).otherwise(0.0), "self_found")(
        mp10.filter(col("vec_id") === 0).agg(count(lit(1)).as("m")))
      val rec = gate(-3L, when(col("m") >= 1, 1.0).otherwise(0.0), "recall_ge_1")(
        mp10.select("vec_id").join(exact10.select("vec_id"), "vec_id")
          .agg(count(lit(1)).as("m")))
      exact10.select(col("vec_id"), col("cosine_sim"), lit("exact").as("tag"))
        .union(dom).union(self).union(rec)
        .orderBy("tag", "vec_id")
    }),
    // ---- S. streaming operators, exercised in batch (window() and
    // watermark share semantics across modes; watermark is a no-op in
    // batch, so the oracle checks the windowing logic itself)
    // Tables.asTimestamp adapts to the physical ts type (epoch-nanos
    // long vs timestamp[us]) — hour windows are insensitive to the
    // sub-second precision difference between the two reads
    "q_s1_windowed_counts" -> ((s, d) => {
      val ev0 = t(s, d, "events")
      val ev = ev0.withColumn("ts", Tables.asTimestamp(ev0, "ts"))
      graft.streaming.StreamingDQ.windowedTypeCounts(ev, "ts", "event_type", "1 hour", "1 hour")
        .withColumn("window_start", date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss"))
        .orderBy("window_start", "event_type")
    }),
    "q_s2_windowed_dq" -> ((s, d) => {
      val de = doctoredEvents(s, d)
      val ev = de.withColumn("ts2",
        coalesce(Tables.asTimestamp(de, "ts"), timestamp_seconds(lit(0))))
      graft.streaming.StreamingDQ.windowedDqScore(ev, "ts2", "value",
        Seq(Rule.NumBetween(10, 90)), "1 day", "1 day")
        .withColumn("window_start", date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss"))
        .orderBy("window_start")
    }),
    // multi-column windowed DQ (streaming dqSummary): one row per
    // (window, column) from ONE windowed aggregation
    "q_s4_dq_summary" -> ((s, d) => {
      val de = doctoredEvents(s, d)
      val ev = de.withColumn("ts2",
        coalesce(Tables.asTimestamp(de, "ts"), timestamp_seconds(lit(0))))
      graft.streaming.StreamingDQ.windowedDqSummary(ev, "ts2", Seq(
        "value" -> Seq(Rule.NumBetween(10, 90)),
        "event_type" -> Seq(Rule.LenBetween(5, 8))), "1 day", "1 day")
        .withColumn("window_start", date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss"))
        .orderBy("window_start", "column")
    }),
    // q_s4's aggregation run as a REAL file-source stream (r11
    // verdict #7): 3 time-ordered arrival files + a watermark-
    // advancing sentinel, one micro-batch per file under
    // Trigger.AvailableNow, append-mode memory sink. The union of
    // closed windows is graded against the SAME batch oracle — file
    // listing, cross-batch watermark advancement, state-store agg
    // and append emission all execute for real.
    "q_s5_file_stream_dq" -> ((s, d) => {
      val de = doctoredEvents(s, d)
      val ev = de.withColumn("ts2",
        coalesce(Tables.asTimestamp(de, "ts"), timestamp_seconds(lit(0))))
      graft.streaming.StreamingDQ.replayClosedWindows(
        ev, "ts2", "/tmp/graft_gate/s5_arrivals", 3, 3L * 86400000000L) { st =>
        graft.streaming.StreamingDQ.windowedDqSummary(st, "ts2", Seq(
          "value" -> Seq(Rule.NumBetween(10, 90)),
          "event_type" -> Seq(Rule.LenBetween(5, 8))), "1 day", "1 day")
      }
        .withColumn("window_start",
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss"))
        .orderBy("window_start", "column")
    }),
    // q_d81's windowed heavy hitters through the same replay harness
    // — the sketch state merges across micro-batches in the state
    // store; exact regime (5-type vocab), so est = lb = ub = the
    // batch counts and the q_d81 oracle grades it unchanged
    "q_s6_file_stream_freq" -> ((s, d) => {
      val ev = t(s, d, "events")
      val evt = ev.withColumn("tsw", Tables.asTimestamp(ev, "ts"))
        .filter(col("tsw").isNotNull)
      graft.streaming.StreamingDQ.replayClosedWindows(
        evt, "tsw", "/tmp/graft_gate/s6_arrivals", 3, 86400000000L) { st =>
        graft.streaming.StreamingDQ.windowedFrequentItems(
          st, "tsw", "event_type", windowDur = "6 hours")
      }
        .withColumn("window_start", unix_micros(col("window_start")))
        .orderBy("window_start", "item")
    }),
    // D15 end-to-end: dropDuplicatesWithinWatermark through the file
    // replay. Every occurrence of a key carries the SAME payload, so
    // the emitted first-arrivals form a deterministic (key, payload)
    // set whatever the in-batch order; the sentinel duplicates an
    // existing pair and vanishes in the post-collection distinct.
    "q_s7_file_stream_dedup" -> ((s, d) => {
      val ev0 = t(s, d, "events")
      val ev = ev0.select(Tables.asTimestamp(ev0, "ts").as("tsw"),
          (col("event_id") % 500).as("dup_key"))
        .filter(col("tsw").isNotNull)
        .withColumn("payload", concat(lit("p"), (col("dup_key") * 7) % 13))
      graft.streaming.StreamingDQ.replayClosedWindows(
        ev, "tsw", "/tmp/graft_gate/s7_arrivals", 2, 90L * 86400000000L) { st =>
        graft.streaming.StreamingDQ.streamingDedup(
          st, "tsw", Seq("dup_key"), "90 days")
          .select("dup_key", "payload")
      }.distinct().orderBy("dup_key")
    }),
    // D39 end-to-end: the stream-static ingest guard through the file
    // replay — in-stream re-deliveries collapse in the watermark
    // state, store hits drop in the per-batch anti join. Graded as
    // the distinct surviving fingerprint set (sentinel-immune).
    "q_s8_file_stream_ingest" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // PINNED (r16): the stream-static anti join replans — and
      // recomputed — the static store EVERY micro-batch (3 batches =
      // 3 full fingerprint passes); the pin computes it once
      val store = graft.CacheScope.persist(
        Dedup.fingerprints(docs.filter(col("doc_id") % 3 === 0), "text"))
      val batch = docs.filter(col("doc_id") % 3 =!= 0)
        .withColumn("tsw",
          timestamp_micros(lit(1700000000000000L) + col("doc_id") * 1000000L))
      graft.streaming.StreamingDQ.replayClosedWindows(
        batch, "tsw", "/tmp/graft_gate/s8_arrivals", 2, 90L * 86400000000L) { st =>
        graft.streaming.StreamingDQ.streamingDedupAgainstStore(
          st, "text", "tsw", store, "fingerprint", "90 days")
          .select(Dedup.contentKey(col("text")).as("fp"))
      }.distinct().orderBy("fp")
    }),
    // D52 end-to-end: the stateless stream-static span guard through
    // the file replay — stale span OCCURRENCES of the streamed batch
    // vs the materialized store fingerprints. The sentinel re-emits
    // one doc's spans verbatim; the post-collection distinct removes
    // them ((id, span_pos) is unique in the batch result).
    "q_s9_file_stream_spans" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // PINNED (r16): the per-batch stream-static join would re-run
      // the store's 8-gram span fingerprinting every micro-batch
      val storeFps = graft.CacheScope.persist(
        graft.dedup.Spans.storeFingerprints(
          docs.filter(col("doc_id") % 3 === 0), "text", "doc_id", spanLen = 8))
      val batch = docs.filter(col("doc_id") % 3 =!= 0)
        .withColumn("tsw",
          timestamp_micros(lit(1700000000000000L) + col("doc_id") * 1000000L))
      graft.streaming.StreamingDQ.replayClosedWindows(
        batch, "tsw", "/tmp/graft_gate/s9_arrivals", 2, 86400000000L) { st =>
        graft.dedup.Spans.staleSpans(st, storeFps, "text", "doc_id", spanLen = 8)
      }.distinct().orderBy("doc_id", "span_pos")
    }),
    // r12 verdict #1: watermark DROP semantics certified END-TO-END.
    // A late-arrival file re-delivers a doctored slice (rule-
    // violating values, original old timestamps) AFTER the watermark-
    // advancing sentinel — every late row sits below the advanced
    // watermark and must be dropped in the same micro-batch that
    // evicts and emits the final windows. The oracle is q_s4's batch
    // computation over the ON-TIME rows alone: a broken drop would
    // alter per-window violation counts and hash-fail.
    "q_s10_file_stream_late_drop" -> ((s, d) => {
      val de = doctoredEvents(s, d)
      val ev = de.withColumn("ts2",
        coalesce(Tables.asTimestamp(de, "ts"), timestamp_seconds(lit(0))))
      val late = ev.filter(col("event_id") % 11 === 0)
        .withColumn("value", lit(999.0))
        .withColumn("event_type", lit("xx"))
      graft.streaming.StreamingDQ.replayClosedWindowsLate(
        ev, late, "ts2", "/tmp/graft_gate/s10_arrivals", 2, 3L * 86400000000L) { st =>
        graft.streaming.StreamingDQ.windowedDqSummary(st, "ts2", Seq(
          "value" -> Seq(Rule.NumBetween(10, 90)),
          "event_type" -> Seq(Rule.LenBetween(5, 8))), "1 day", "1 day")
      }
        .withColumn("window_start",
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss"))
        .orderBy("window_start", "column")
    }),
    // C31s / q_s11 (r14, r13 verdict #9): the streaming WRITE path —
    // documents replayed as a 3-batch id-ordered file stream into the
    // foreachBatch JSONL shard sink; shard identity continues across
    // batches via the running rank offset, and the INCREMENTALLY-
    // maintained manifest must agree with a census of the bytes
    // actually on disk (the semi join drops any diverging shard row →
    // hash fail) AND with the batch export's manifest (the oracle:
    // q_c31's arithmetic minus the file count, which append semantics
    // make batch-cadence-dependent by design).
    "q_s11_stream_jsonl_shards" -> ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      val inc = graft.streaming.StreamingDQ.streamJsonlShardsReplay(
        docs, "doc_id", "/tmp/graft_gate/s11_shards",
        "/tmp/graft_gate/s11_arrivals", 3, 200L, col("text"))
      val back = s.read.schema("doc_id LONG, text STRING, global_rank LONG")
        .json("/tmp/graft_gate/s11_shards")
      graft.sources.Sources.shardManifest(back, col("doc_id"), col("text"))
        .drop("n_files")
        .join(inc, Seq("shard", "rows", "min_id", "max_id", "content_xor"),
          "semi")
        .orderBy("shard")
    }),
    // C20 gate: the XLSX writer/reader round trip on a REAL workbook
    // file — write nation, read it back through the JDK zip+StAX
    // parser, and grade the all-string frame against the parquet
    // source's string forms (DuckDB can't read xlsx; it doesn't need
    // to — fidelity to the ORIGINAL values is the contract)
    "q_c20_xlsx_roundtrip" -> ((s, d) => {
      new java.io.File("/tmp/graft_gate").mkdirs()
      val path = "/tmp/graft_gate/c20_nation.xlsx"
      graft.sources.Xlsx.writeXlsx(t(s, d, "nation"), path)
      graft.sources.Xlsx.readXlsx(s, path)
        .orderBy(col("n_nationkey").cast("long"))
    }),

    // C29/D92 (r13): WebDataset-style tar shards — the multimodal
    // training-shard convention (one tar per partition, samples as
    // <key>.<ext> member groups, pinned ustar headers). Round-trip
    // graded byte-exact against the ORIGINAL parquet values; the
    // json member is string-concatenated (not to_json) so the
    // oracle mirrors it byte-for-byte.
    "q_c29_tar_shards" -> ((s, d) => {
      val dir = "/tmp/graft_gate/c29_shards"
      val docs = t(s, d, "documents").select(
        format_string("%06d", col("doc_id")).as("key"),
        map(lit("txt"), encode(col("text"), "UTF-8"),
          lit("json"), encode(concat(lit("{\"lang\":\""), col("lang"),
            lit("\",\"source\":\""), col("source"), lit("\"}")), "UTF-8")).as("files"))
      graft.sources.TarShards.writeTarShards(docs.repartition(4), dir, manifest = true)
      graft.sources.TarShards.readTarShards(s, dir)
        .select(col("key"),
          length(element_at(col("files"), "txt")).cast("long").as("n_bytes"),
          decode(element_at(col("files"), "txt"), "UTF-8").as("text"),
          decode(element_at(col("files"), "json"), "UTF-8").as("meta"))
        .orderBy("key")
    }),

    // C28 (r13): WARC crawl-format round trip — the documents table
    // exported as per-record-gzip `.warc.gz` parts by the executors,
    // read back one-task-per-file, graded on byte fidelity (UTF-8
    // octet length + the text itself) against the ORIGINAL parquet
    // values. DuckDB never reads WARC; fidelity to the source frame
    // is the contract (the C20 scheme).
    "q_c28_warc_roundtrip" -> ((s, d) => {
      val dir = "/tmp/graft_gate/c28_warc"
      val docs = t(s, d, "documents").select(
        concat(lit("https://graft.example/"), col("source"),
          lit("/"), col("doc_id")).as("target_uri"),
        lit("2026-01-01T00:00:00Z").as("warc_date"),
        lit("text/plain; charset=utf-8").as("content_type"),
        encode(col("text"), "UTF-8").as("content"))
      graft.sources.Warc.writeWarcPartitioned(docs.repartition(4), dir, gzip = true, manifest = true)
      graft.sources.Warc.readWarc(s, dir)
        .filter(col("warc_type") === "resource")
        .select(col("target_uri"), col("content_type"),
          length(col("content")).cast("long").as("n_bytes"),
          decode(col("content"), "UTF-8").as("text"))
        .orderBy("target_uri")
    }),

    // whole-second truncation on BOTH sides so gap comparisons and
    // formatted session starts are bit-identical across engines
    // (oracle: date_trunc('second', ts)); Tables.asTimestamp absorbs
    // the physical ts type (epoch-nanos long vs timestamp[us])
    "q_s3_sessions" -> ((s, d) => {
      val ev0 = t(s, d, "events")
      val ev = ev0.withColumn("ts", date_trunc("second", Tables.asTimestamp(ev0, "ts")))
      graft.streaming.StreamingDQ.sessionCounts(ev, "ts", "user_id", "2 hours")
        .withColumn("session_start", date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss"))
        .orderBy("user_id", "session_start")
    }),

    // IVF ANN, oracle-graded (same scheme as q_d7): DuckDB recomputes
    // the exact top-10; gate rows assert (a) recall@10 >= 0.8 — the
    // cluster-recovery spec's bound, measured 9-10/10 at every sf with
    // the deterministic seeding — and (b) the query's own vector is
    // always found (its assigned centroid is by construction among the
    // top-nprobe probed ones).
    "q_d8_ann_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble).toArray
      val cents = Ann.trainCentroidsKMeans(emb, "embedding", "vec_id", 8, iters = 2)
      val ivf10 = Ann.ivfTopK(emb, "embedding", "vec_id", cents, q, 10, nprobe = 3)
      val exact10 = Ann.cosineTopK(emb, "embedding", "vec_id", q, 10)
      def gate(id: Long, flag: Column, tag: String)(agg: DataFrame): DataFrame =
        agg.select(lit(id).as("vec_id"), flag.as("cosine_sim"), lit(tag).as("tag"))
      val rec = gate(-1L, when(col("m") >= 8, 1.0).otherwise(0.0), "recall_ge_0.8")(
        ivf10.select("vec_id").join(exact10.select("vec_id"), "vec_id")
          .agg(count(lit(1)).as("m")))
      val self = gate(-2L, when(col("m") > 0, 1.0).otherwise(0.0), "self_found")(
        ivf10.filter(col("vec_id") === 0).agg(count(lit(1)).as("m")))
      exact10.select(col("vec_id"), col("cosine_sim"), lit("exact").as("tag"))
        .union(rec).union(self)
        .orderBy("tag", "vec_id")
    }),
    "q_d13_multimodal" -> ((s, d) => {
      // documents' text bytes stand in for media payloads: metadata
      // derivation -> partition-batched stub featurization, the full
      // multimodal plumbing shape (decode itself is the stub codec)
      val media = graft.multimodal.Multimodal.withMeta(
        t(s, d, "documents").withColumn("payload", col("text").cast("binary")),
        "doc_id", "payload", "txt")
      import org.apache.spark.sql.Encoders
      val ds = media.selectExpr("id", "media",
          "named_struct('format', meta.format, 'width', meta.width, 'height', meta.height, 'nBytes', meta.nBytes) AS meta")
        .as(Encoders.product[graft.multimodal.Multimodal.MediaRow])
      // features joined to a csv string: sortable/hashable for the
      // driver gate (a raw array<float> column crashes its pandas
      // sort), and exactly mirrorable in SQL since the stub codec is
      // md5-nibble-derived
      graft.multimodal.Multimodal.extractFeatures(ds)
        .toDF().select(col("id"), col("format"),
          concat_ws(",", transform(col("features"), f => f.cast("string"))).as("features_csv"))
        .orderBy("id")
    }),
    "q_d13b_img" -> ((s, d) => {
      // REAL ImageCodec, driver-gated: fixture PNGs built from pure
      // arithmetic on the driver (PNG is lossless, so decode recovers
      // the exact constructed pixel grid; features are then fixed-order
      // double math) — expected vectors pinned as literal VALUES in
      // the oracle. Row 3 is a corrupt payload: featurizes EMPTY
      // (nfeat=0, null features), never kills the task.
      import org.apache.spark.sql.Encoders
      val M = graft.multimodal.Multimodal
      val F = graft.multimodal.Fixtures
      val rows = Seq(
        M.MediaRow(1L, F.encodePng(F.gradientImage(40, 24)), M.MediaMeta("png", 40, 24, 0L)),
        M.MediaRow(2L, F.encodePng(F.checkerImage(32, 32, 4)), M.MediaMeta("png", 32, 32, 0L)),
        M.MediaRow(3L, Array[Byte](1, 2, 3, 4), M.MediaMeta("png", 0, 0, 4L)))
      val ds = s.createDataset(rows)(Encoders.product[M.MediaRow])
      M.extractFeatures(ds, new M.ImageCodec()).toDF()
        .select(col("id") +: size(col("features")).as("nfeat") +:
          (0 until 18).map(i =>
            round(get(col("features"), lit(i)).cast("double"), 6).as(f"f$i%02d")): _*)
        .orderBy("id")
    }),
    "q_e2e_media" -> ((s, d) => {
      // multimodal COMPOSED chain (r8 verdict #7): withMeta -> resize
      // (text payloads take the deterministic byte-budget stub path:
      // 16*16/8 = 32 bytes) -> stub featurize (md5-nibble 8-vector)
      // -> multi-table LSH cosine pairs at threshold 1.0 (identical
      // feature vectors only — identical vectors share every bucket,
      // so LSH recall is exactly 1 and the oracle can re-derive pairs
      // as first-8-md5-nibble groups) -> component collapse keeping
      // the min doc id. Corpus doctored with exact re-ingests
      // (doc_id+10000 for doc_id%20==0) so the chain has guaranteed
      // media-level duplicates to find; meta propagation is gated via
      // the resized byte count riding into the output.
      import org.apache.spark.sql.Encoders
      val M = graft.multimodal.Multimodal
      val docs = t(s, d, "documents")
      // re-ingest offset 1e9, NOT 10000: a corpus with >=10k docs
      // (bigdata/x10) would otherwise collide re-ingest ids with real
      // ids, and duplicate ids break the loser anti-join one way in
      // Spark and another in the oracle's per-row window
      val corpus = docs.select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .union(docs.filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 1000000000L).cast("long"), col("text")))
      val media = M.withMeta(corpus.withColumn("payload", col("text").cast("binary")),
        "doc_id", "payload", "txt")
      val ds = media.selectExpr("id", "media",
          "named_struct('format', meta.format, 'width', meta.width, 'height', meta.height, 'nBytes', meta.nBytes) AS meta")
        .as(Encoders.product[M.MediaRow])
      // resized feeds BOTH the featurize branch and the meta output,
      // so the withMeta->resize chain executes once per consumer.
      // Deliberately NOT pinned: here the recompute is a 32-byte
      // truncation over a scan (A/B measured 2.8 s unpinned vs 3.5 s
      // pinned at sf0.1 — cache materialization costs more than the
      // recompute). A real image pipeline, where re-running resize
      // means decoding every image twice, persists the NARROW
      // (id, features, nBytes) projection at this point instead.
      val resized = M.resize(ds, 16, 16)
      // PINNED at the NARROW (id, format, features) projection (r16):
      // feats feeds cosinePairs AND both verify-join sides, so the
      // unpinned plan re-ran withMeta->resize->featurize three times;
      // this is exactly the "persist the narrow projection" choice the
      // note above describes for real pipelines (the r8 A/B only
      // measured pinning the payload-carrying `resized`, which lost)
      val feats = graft.CacheScope.persist(
        M.extractFeatures(resized, M.StubCodec).toDF())
      // exact-equality VERIFY on the LSH candidates: rounded cosine
      // 1.0 also admits proportional-but-unequal vectors (a ~1e-5
      // latent corpus-dependent mismatch vs the oracle's md5-prefix
      // grouping) — the verify stage pins pair semantics to "same
      // feature vector", which is exactly what the oracle derives
      val cand = graft.ann.Ann.cosinePairs(feats, "features", "id", 1.0, dim = 8)
      val fv = feats.select(col("id"), col("features"))
      val pairs = cand
        .join(fv.select(col("id").as("id_a"), col("features").as("f_a")), "id_a")
        .join(fv.select(col("id").as("id_b"), col("features").as("f_b")), "id_b")
        .filter(col("f_a") === col("f_b"))
        .select("id_a", "id_b")
      val kept = graft.dedup.Components.dedupByPairs(corpus, "doc_id", pairs, "id_a", "id_b")
      val sizes = resized.toDF().select(col("id").as("doc_id"),
        col("meta.nBytes").as("n_resized"))
      kept.select("doc_id").join(sizes, "doc_id").orderBy("doc_id")
    }),
    "q_d13c_wav" -> ((s, d) => {
      // REAL AudioCodec, driver-gated: 16-bit PCM sine WAVs (exact
      // constructed samples; WAV is lossless) -> RMS/ZCR/8-band FFT/
      // duration/rate features, pinned as oracle VALUES. Row 2 is
      // stereo at a different tone — exercises mono-mix + band
      // placement; row 3 corrupt -> EMPTY.
      import org.apache.spark.sql.Encoders
      val M = graft.multimodal.Multimodal
      val F = graft.multimodal.Fixtures
      val rows = Seq(
        M.MediaRow(1L, F.sineWav(440.0, 8000f, 0.5, 0.5), M.MediaMeta("wav", 0, 0, 0L)),
        M.MediaRow(2L, F.sineWav(1500.0, 8000f, 0.25, 0.25, channels = 2),
          M.MediaMeta("wav", 0, 0, 0L)),
        M.MediaRow(3L, Array[Byte](9, 9, 9), M.MediaMeta("wav", 0, 0, 3L)))
      val ds = s.createDataset(rows)(Encoders.product[M.MediaRow])
      M.extractFeatures(ds, M.AudioCodec).toDF()
        .select(col("id") +: size(col("features")).as("nfeat") +:
          (0 until 12).map(i =>
            round(get(col("features"), lit(i)).cast("double"), 6).as(f"g$i%02d")): _*)
        .orderBy("id")
    }),
    // D88 (r13): constellation-landmark audio fingerprint dedup,
    // driver-gated on deterministic tone-sequence WAVs (the d13c
    // scheme — DuckDB cannot FFT; the oracle pins the DISCRETE
    // match/count outcomes as VALUES). Docs 1/2 identical, doc 3 a
    // 5-hop-delayed copy, doc 4 unrelated, doc 5 corrupt: the gate
    // grades the full pipeline — decode → STFT peaks → landmark
    // hashes → df-capped inverted-index join → offset-aligned votes.
    "q_d88_audio_fingerprint" -> ((s, d) => {
      import s.implicits._
      val F = graft.multimodal.Fixtures
      val AF = graft.multimodal.AudioFingerprint
      val melodyA = Seq(500.0 -> 0.2, 900.0 -> 0.2, 1400.0 -> 0.2,
        2100.0 -> 0.2, 600.0 -> 0.2, 1100.0 -> 0.2)
      val melodyB = Seq(800.0 -> 0.3, 1800.0 -> 0.3, 400.0 -> 0.3, 2600.0 -> 0.3)
      val corpus = Seq(
        (1L, F.toneSeqWav(melodyA, 8000f, 0.5)),
        (2L, F.toneSeqWav(melodyA, 8000f, 0.5)),
        (3L, F.toneSeqWav(melodyA, 8000f, 0.5, leadSilenceSamples = 5 * AF.Hop)),
        (4L, F.toneSeqWav(melodyB, 8000f, 0.5)),
        (5L, Array[Byte](1, 2, 3))).toDF("id", "content")
      val fp = AF.fingerprints(corpus, "id", "content")
      val pairs = AF.matchPairs(fp, minAligned = 5)
        .select(lit("pair").as("tag"), col("id_a"), col("id_b"),
          col("aligned").cast("long").as("v"),
          col("frame_offset").cast("long").as("w"))
      val counts = corpus.select(col("id").as("id_a"))
        .join(fp.groupBy("id").agg(count(lit(1)).as("v")),
          col("id_a") === col("id"), "left")
        .select(lit("doc").as("tag"), col("id_a"), lit(-1L).as("id_b"),
          coalesce(col("v"), lit(0L)).as("v"), lit(0L).as("w"))
      pairs.unionByName(counts).orderBy("tag", "id_a", "id_b")
    }),
    // D91 (r13): perceptual image dedup — REAL decode → 9x8 bilinear
    // luminance grid → 64-bit dHash → pigeonhole band join + exact
    // Hamming verify. Fixture corpus: byte-identical copy (hamming
    // 0), 2x-upscaled re-encode (small drift), unrelated checker
    // (far), corrupt (no hash). Discrete outcomes pinned as VALUES
    // (the d13b scheme — DuckDB cannot decode PNG).
    "q_d91_image_dhash" -> ((s, d) => {
      import s.implicits._
      val F = graft.multimodal.Fixtures
      val M = graft.multimodal.Multimodal
      val IH = graft.multimodal.ImageHash
      // base = checkerboard (rich horizontal sign structure — a
      // monotone gradient dHashes to the degenerate all-zero hash)
      val base = F.encodePng(F.checkerImage(64, 64, 16))
      val up = F.encodePng(M.ImageCodec.resampleRgb(
        M.ImageCodec.decode(base), 128, 128))
      val corpus = Seq(
        (1L, base), (2L, base), (3L, up),
        (4L, F.encodePng(F.gradientImage(64, 64))),
        (5L, Array[Byte](9, 9))).toDF("id", "content")
      val hashes = IH.dHashes(corpus, "id", "content")
      val pairs = IH.nearDupPairs(hashes, maxHamming = 6)
        .select(lit("pair").as("tag"), col("id_a"), col("id_b"),
          col("hamming").cast("long").as("v"))
      val docs = corpus.select(col("id").as("id_a"))
        .join(hashes, col("id_a") === col("id"), "left")
        .select(lit("doc").as("tag"), col("id_a"), lit(-1L).as("id_b"),
          coalesce(col("dhash"), lit(-999L)).as("v"))
      pairs.unionByName(docs).orderBy("tag", "id_a", "id_b")
    }),

    // D89 (r13): competence-based curriculum — sqrt schedule, exact
    // integer first-eligible-step per doc (difficulty = n_chars
    // here; any scoring column plugs in). The whole chain is exact
    // rational arithmetic, so DuckDB re-derives it bit-identically.
    "q_d89_curriculum" -> ((s, d) =>
      graft.pipeline.Curriculum.firstEligibleStep(
        t(s, d, "documents"), "doc_id", col("n_chars"), 100)
        .orderBy("id")),
    "q_d9_langid" -> ((s, d) => t(s, d, "documents")
      .groupBy(TextAnalysis.languageId(col("text")).as("lang_pred"))
      .agg(count(lit(1)).as("cnt")).orderBy("lang_pred")),
    "q_d10_quality" -> ((s, d) =>
      TextAnalysis.profile(t(s, d, "documents"), "text", "doc_id")
        .drop("lang_pred", "fingerprint").orderBy("doc_id")),
    "q_d11_tokens" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        TextAnalysis.wordCount(col("text")).as("ws_tokens"),
        TextAnalysis.tokenCount(col("text")).as("bpe_tokens"))
      .orderBy("doc_id")),
    // D90 (r13): exact batch top-k retrieval — five query vectors
    // against the embeddings corpus in ONE pass via the map-side-
    // combining TopKPairsAgg (shuffle carries <= partitions x 5 x 10
    // pairs, not the full scored frame; plan-audited no-Window in
    // spec). Micro-long scores under (score desc, id asc) — exact
    // rank arithmetic on both engines.
    "q_d90_batch_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id").isin(0L, 7L, 23L, 48L, 91L))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Ann.batchTopK(emb, "vec_id", "embedding", queries, "qid", "qv", 10)
        .orderBy("query_id", "rank")
    }),

    // D92 (r13): BM25 lexical top-k retrieval — the SPARSE sibling of
    // d90's dense retrieval. Three queries DERIVED from the corpus
    // (first 4 tokens of pinned doc_ids — corpus-agnostic, so the
    // x10/x50 suffixed-vocabulary corpora grade real hit sets too)
    // plus one fixed query with an absent term (the partial-match
    // path); every (query, term, doc) micro contribution is
    // rounding-boundary guarded and the guard rides as a claim row
    // (the d80 scheme).
    "q_d92_bm25" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val derived = docs.filter(col("doc_id").isin(3L, 41L, 77L))
        .select(col("doc_id").as("qid"),
          array_join(slice(split(trim(col("text")), " +"), 1, 4), " ").as("qtext"))
      val q = derived.unionByName(
        Seq((9001L, "zzzmissing the")).toDF("qid", "qtext"))
      val (top, g) = graft.text.Bm25.bm25TopKAndGuard(
        docs, "doc_id", "text", q, "qid", "qtext", 10)
      top.unionByName(g.select(lit(-1L).as("query_id"), lit(0L).as("rank"),
          lit(-1L).as("doc_id"),
          when(col("min_score_dist") > 1e-7, 1L).otherwise(0L).as("score_micro")))
        .orderBy("query_id", "rank")
    }),

    // D93 (r13): LSH banding planner — the r13 banding-dial lesson
    // (GATE_r13.md) as an operator: closed-form miss/midpoint per
    // (b,r) factorization of the 128-signature space at J>=0.9 under
    // a 1e-12 miss budget, plus a candidate-volume forecast over a
    // VALUES-pinned background-similarity histogram shaped like the
    // d34b corpus (mass at ~0.6). The planner's chosen row IS the
    // 32x4 dial the d34b gate was retuned to — certified here
    // against the full SQL re-derivation, decisions made on the
    // quantized integers, float boundaries guarded (claim row).
    "q_d93_banding_plan" -> ((s, d) => {
      import s.implicits._
      val hist = Seq((60, 40000L), (75, 7000L), (90, 12L))
        .toDF("sim_centi", "pairs")
      val (plans, g) = graft.similarity.BandingPlanner.planWithBackground(
        s, 128, 0.9, 1e-12, hist)
      plans.unionByName(g.select(lit(-1L).as("b"), lit(0L).as("r"),
          lit(0L).as("ln_miss_micro"), lit(0L).as("midpoint_micro"),
          when(col("min_plan_dist") > 1e-7, 1L).otherwise(0L).as("exp_cand_micro"),
          lit(false).as("feasible"), lit(false).as("chosen")))
        .orderBy("b")
    }),

    // e2e-10 (r13): two-stage QUANTIZED serving — the production ANN
    // pattern D98 exists for: stage 1 scans int8 CODES only (a
    // quarter of the bytes; integer dots) for top-20 candidates per
    // query, stage 2 re-ranks ONLY those candidates with exact float
    // cosine and keeps top-5. The oracle re-derives quantization,
    // the int8 coarse pass (int8 dots are integer-valued and ≤ ~1e6,
    // so DuckDB's double list_dot_product is exact on them), and the
    // float re-rank as one chain.
    "q_e2e_serving" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = graft.ann.Quantize.quantizeInt8(emb, "vec_id", "embedding")
      val queries = q.filter(col("vec_id").isin(5L, 67L, 131L))
        .select(col("vec_id").as("qid"), col("codes").as("qc"))
      val coarse = q.select(col("vec_id").as("id"), col("codes"))
        .crossJoin(broadcast(queries))
        .select(col("qid"), col("id"),
          graft.ann.Quantize.int8CosineMicro(col("codes"), col("qc")).as("s"))
        .filter(col("s").isNotNull)
        .groupBy(col("qid"))
        .agg(graft.functions.TopKPairsAgg(col("s"), col("id"), 20).as("t"))
        .select(col("qid"), explode(col("t")).as("e"))
        .select(col("qid"), col("e.id").as("id"))
      val qv = emb.filter(col("vec_id").isin(5L, 67L, 131L))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      coarse
        .join(emb.select(col("vec_id").as("id"), col("embedding")), Seq("id"))
        .join(broadcast(qv), Seq("qid"))
        .select(col("qid"), col("id"),
          round(Ann.cosine(col("embedding"), col("qv")) * 1e6).cast("long")
            .as("sm"))
        .filter(col("sm").isNotNull)
        .groupBy(col("qid"))
        .agg(graft.functions.TopKPairsAgg(col("sm"), col("id"), 5).as("t"))
        .select(col("qid").as("query_id"), posexplode(col("t")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("id"), col("col.score_micro").as("score_micro"))
        .orderBy("query_id", "rank")
    }),

    // D98 (r13): int8 embedding quantization — per-vector symmetric
    // codes over the embeddings table, pinned through four integer
    // projections per vector (sum, L1, first, last — jointly with
    // scale_micro they pin the code arrays without emitting arrays,
    // which the hash compare can't sort on); element-level rounding
    // boundaries fold into the claim row.
    "q_d98_int8_quant" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = graft.ann.Quantize.quantizeInt8(emb, "vec_id", "embedding")
      val proj = q.select(col("vec_id"), col("scale_micro"),
        expr("aggregate(codes, 0L, (a, x) -> a + x)").as("q_sum"),
        expr("aggregate(codes, 0L, (a, x) -> a + abs(x))").as("q_l1"),
        element_at(col("codes"), 1).cast("long").as("q_first"),
        element_at(col("codes"), size(col("codes"))).cast("long").as("q_last"))
      val g = emb.select(graft.ann.Quantize.quantBoundaryDist(col("embedding"))
          .as("_d"))
        .agg(coalesce(min(col("_d")), lit(0.5)).as("mind"))
      proj.unionByName(g.select(lit(-1L).as("vec_id"),
          lit(0L).as("scale_micro"),
          when(col("mind") > 1e-7, 1L).otherwise(0L).as("q_sum"),
          lit(0L).as("q_l1"), lit(0L).as("q_first"), lit(0L).as("q_last")))
        .orderBy("vec_id")
    }),

    // D97 (r13): margin-based bitext mining — embeddings split
    // even/odd as the two "languages"; two exact retrieval passes,
    // k-bounded neighborhood sums, and the FULLY INTEGER margin
    // (2·k·cos·1e6) div (S+T); keep each source's best-margin target
    // above ratio 1.0 (closer than the average neighbor).
    "q_d97_margin_mining" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Ann.marginMining(
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
        k = 4, thresholdMicro = 1000000L)
        .orderBy("src_id")
    }),

    // D97b (r14, closes the r13 `weak`): the corpus×corpus PRODUCTION
    // path for margin mining — both sides IVF-assigned to 4 cells
    // from ONE shared first-4-by-id centroid bank (map-only scans,
    // nothing broadcast or collected), mined within cells via a
    // cell-keyed join; candidate volume Σ|src_c|·|tgt_c| ≪
    // |src|·|tgt|. The oracle re-derives cell assignment (argmax
    // cosine, later cid wins — the q_d33 rule), the within-cell
    // ranks, k-bounded sums and the fully-integer margin; the 1-cell
    // == exact-mining equality and the recall/candidate-volume
    // claims are spec-gated (MarginMiningSpec).
    "q_d97b_blocked_mining" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = Ann.trainCentroidsBySample(emb, "embedding", "vec_id", 4)
      // saltBuckets=8: the production parallelism dial (the 4-cell
      // join otherwise caps at 4 tasks — measured ~4/32 cores busy at
      // x50); results are salt-invariant (spec-gated), so the oracle
      // never sees it
      Ann.marginMiningBlocked(
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
        cents, k = 4, thresholdMicro = 1000000L, saltBuckets = 8)
        .orderBy("src_id")
    }),

    // D99 (r14): IVF-PQ serving — the composed billion-scale ANN
    // read path: coarse min-L2 cells (first-4-by-id bank; at rest
    // the index is stored PARTITIONED BY CELL so a probe is a
    // partition-pruned scan — spec-audited), ADC over the q_d36
    // codebooks within the 2 probed cells, rerank-bounded (50)
    // candidate shortlist, exact-L2 re-rank of the shortlist only.
    // Codes quantize RAW vectors (FAISS by_residual=false), so the
    // oracle re-derives every stage from list_dot_product arithmetic.
    "q_d99_ivfpq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val coarse = Ann.trainCentroidsBySample(emb, "embedding", "vec_id", 4)
      val cb = Pq.codebooksBySample(emb, "embedding", "vec_id", m = 4, k = 4, dim = 64)
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble).toArray
      Pq.ivfPqTopK(emb, "embedding", "vec_id", coarse, cb, q,
        k = 10, nprobe = 2, rerank = 50)
    }),

    // D99b (r15): IVF-PQ index UPSERT — the C33 maintenance story for
    // vectors: banks trained at STORE time (%3 in {0,1} slice), the
    // %3=2 increment encoded with the SAME banks and merged as a pure
    // guarded union (zero shuffle; at rest a partitioned file append).
    // Serving through the MERGED index is graded against the oracle's
    // full IVF-PQ re-derivation over the unioned corpus (merge must
    // be indistinguishable from rebuild), and a Spark-computed cert
    // row pins the merged≡rebuild serving symmetric difference at 0.
    "q_d99b_ivfpq_upsert" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val store = emb.filter(col("vec_id") % 3 =!= 2)
      val inc = emb.filter(col("vec_id") % 3 === 2)
      val coarse = Ann.trainCentroidsBySample(store, "embedding", "vec_id", 4)
      val cb = Pq.codebooksBySample(store, "embedding", "vec_id", m = 4, k = 4, dim = 64)
      val merged = Pq.mergeIvfPqIndexes(
        Pq.ivfPqIndexStamped(store, "embedding", "vec_id", coarse, cb),
        Pq.ivfPqIndexStamped(inc, "embedding", "vec_id", coarse, cb))
      val rebuild = Pq.ivfPqIndexStamped(emb, "embedding", "vec_id", coarse, cb)
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble).toArray
      // PINNED (r16): serveM feeds the ≡-cert's two exceptAll branches
      // AND the final output, serveR both branches — unpinned, each
      // read re-ran the full IVF-PQ serving pipeline; the pinned
      // frames are k rows
      val serveM = graft.CacheScope.persist(
        Pq.ivfPqTopKIndexed(merged, emb, "embedding", "vec_id",
          coarse, cb, q, k = 10, nprobe = 2, rerank = 50))
      val serveR = graft.CacheScope.persist(
        Pq.ivfPqTopKIndexed(rebuild, emb, "embedding", "vec_id",
          coarse, cb, q, k = 10, nprobe = 2, rerank = 50))
      val mismatches = serveM.exceptAll(serveR)
        .unionAll(serveR.exceptAll(serveM)).count()
      import s.implicits._
      serveM.unionByName(
        Seq((-1L, mismatches.toDouble, 0.0)).toDF("vec_id", "adc", "l2"))
    }),

    // D99c (r15): coarse-bank DRIFT report — per-cell occupancy and
    // exact micro-residual mass at bank-training time (the store
    // slice) vs now (store + increment): the re-train signal an
    // append-only index needs. The oracle re-derives both censuses
    // from the assignment + residual arithmetic.
    "q_d99c_cell_drift" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val store = emb.filter(col("vec_id") % 3 =!= 2)
      val coarse = Ann.trainCentroidsBySample(store, "embedding", "vec_id", 4)
      Pq.cellDriftReport(
        Pq.cellStats(store, "embedding", coarse),
        Pq.cellStats(emb, "embedding", coarse))
        .orderBy("cell")
    }),

    // D99d (r16): the RE-TRAIN path D99c's drift report calls for —
    // nothing executed it before. Old store-slice banks index the
    // drifted (full) corpus as log v0; the drift census (n_after >
    // n_before) pulls the trigger; fresh banks train on the CURRENT
    // corpus, the re-encoded stamped index SWAPS ATOMICALLY as log
    // v1; serving through the swapped table (behind the in-plan
    // bank_fp guard) is graded against the oracle's full IVF-PQ
    // re-derivation under the new banks, with pinned cert rows:
    // merged-vs-fresh mismatches 0, drift trigger fired, the
    // STALE-SERVER guard trips (old banks + new table raise), and
    // exactly 2 committed versions.
    "q_d99d_retrain" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val dir = "/tmp/graft_gate/d99d_index"
      val root = new org.apache.hadoop.fs.Path(dir)
      val hfs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      hfs.delete(root, true)
      val store = emb.filter(col("vec_id") % 3 =!= 2)
      val coarseOld = Ann.trainCentroidsBySample(store, "embedding", "vec_id", 4)
      val cbOld = Pq.codebooksBySample(store, "embedding", "vec_id", m = 4, k = 4, dim = 64)
      graft.sources.SnapshotLog.write(
        Pq.ivfPqIndexStamped(emb, "embedding", "vec_id", coarseOld, cbOld), dir,
        meta = Map("bank_fp" -> Pq.bankFingerprint(coarseOld, cbOld).toString))
      // the D99c signal: increment mass the old bank never saw
      val drift = Pq.cellDriftReport(
        Pq.cellStats(store, "embedding", coarseOld),
        Pq.cellStats(emb, "embedding", coarseOld))
        .agg(sum(col("n_after") - col("n_before"))).head().getLong(0)
      val (coarseNew, cbNew, v) =
        if (drift > 0)
          Pq.retrainIvfPqIndex(emb, "embedding", "vec_id", dir,
            nlist = 4, m = 4, kCodes = 4, dim = 64)
        else (coarseOld, cbOld, 0L)
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble).toArray
      val atRest = graft.sources.SnapshotLog.read(s, dir)
      // PINNED (r16): serveNew feeds the ≡-cert's two exceptAll
      // branches AND the final output, fresh both branches —
      // unpinned, each read re-ran the full IVF-PQ serving pipeline;
      // the pinned frames are k rows
      val serveNew = graft.CacheScope.persist(Pq.ivfPqTopKIndexed(
        Pq.requireBankFp(atRest, coarseNew, cbNew), emb, "embedding", "vec_id",
        coarseNew, cbNew, q, k = 10, nprobe = 2, rerank = 50))
      val fresh = graft.CacheScope.persist(Pq.ivfPqTopKIndexed(
        Pq.ivfPqIndexStamped(emb, "embedding", "vec_id", coarseNew, cbNew),
        emb, "embedding", "vec_id", coarseNew, cbNew, q,
        k = 10, nprobe = 2, rerank = 50))
      val mismatches = serveNew.exceptAll(fresh)
        .unionAll(fresh.exceptAll(serveNew)).count()
      val staleGuardTrips = scala.util.Try(
        Pq.requireBankFp(atRest, coarseOld, cbOld).count()).isFailure
      import s.implicits._
      serveNew.unionByName(Seq(
        (-1L, mismatches.toDouble, if (drift > 0) 1.0 else 0.0),
        (-2L, if (staleGuardTrips) 1.0 else 0.0,
          graft.sources.SnapshotLog.versions(s, dir).size.toDouble))
        .toDF("vec_id", "adc", "l2"))
    }),

    // D101 (r14): BATCH IVF-PQ serving — the whole eval set through
    // the cell-pruned ADC + exact-re-rank path in ONE job: per-query
    // probe cells and ADC lookup tables computed RELATIONALLY on the
    // bounded query frame (map-only — nothing collected), queries
    // exploded to their probe cells and BROADCAST against the code
    // index (the corpus side never shuffles), k-bounded TopKPairsAgg
    // shortlists (no Window anywhere — spec-audited), exact micro-long
    // L2 re-rank of the queries×rerank shortlist. The oracle
    // re-derives every stage per query in one SQL chain.
    "q_d101_batch_ivfpq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val coarse = Ann.trainCentroidsBySample(emb, "embedding", "vec_id", 4)
      val cb = Pq.codebooksBySample(emb, "embedding", "vec_id", m = 4, k = 4, dim = 64)
      val queries = emb.filter(col("vec_id").isin(3L, 31L, 59L, 87L, 115L))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val index = Pq.ivfPqIndex(emb, "embedding", "vec_id", coarse, cb)
      Pq.ivfPqBatchTopK(index, emb, "embedding", "vec_id", coarse, cb,
        queries, "qid", "qv", k = 10, nprobe = 2, rerank = 50)
        .orderBy("query_id", "rank")
    }),

    // D100 (r14): 1-bit sign quantization + Hamming pre-rank — the
    // 32× compression end of the quantization ladder (D98 is 4×):
    // sign bits packed 32 dims/word (portable integer range), the
    // corpus pre-ranked by XOR+popcount Hamming distance to the
    // query's codes, the 50-candidate shortlist re-ranked by exact
    // float cosine. Every stage — packing, Hamming, the final
    // cosine — re-derives in plain SQL integer/float arithmetic.
    "q_d100_binary_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble).toArray
      graft.ann.Quantize.binaryTopK(emb, "embedding", "vec_id", q,
        k = 10, rerank = 50)
    }),

    // C33 (r14): near-store index UPSERT — the store's banded minhash
    // index (C-side of D34b) is maintained INCREMENTALLY: the %3=1
    // increment's index merges into the %3=0 store index without
    // re-tokenizing or re-hashing the store (a pure content-key
    // regroup; merge ≡ full rebuild is spec-gated), then the %3=2
    // batch matches against the merged index. The oracle knows
    // nothing of the maintenance plumbing — it grades the exact
    // bipartite jaccard matches against the UNIONED store, so the
    // gate certifies the upsert preserved match semantics end to end.
    "q_c33_index_upsert" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def idx(df: DataFrame) = Dedup.minhashIndex(df, "text", "doc_id")
      val storeIdx = Dedup.mergeNearIndexes(
        idx(docs.filter(col("doc_id") % 3 === 0)),
        idx(docs.filter(col("doc_id") % 3 === 1)))
      Dedup.minhashMatchesIndexed(idx(docs.filter(col("doc_id") % 3 === 2)),
          storeIdx, 0.9)
        .orderBy("batch_id", "store_id")
    }),

    // D103 (r14): Hilbert-curve clustering — the locality upgrade
    // over D77's Morton code (consecutive indexes are ALWAYS grid
    // neighbors, so clustered files cover tighter rectangles and
    // min/max pruning discards more). Same bucket rule as d77;
    // Skilling's transpose algorithm runs as one codegen'd integer
    // expression, and the oracle UNROLLS the identical shift/XOR
    // steps per bit in SQL — a full hash gate, not a claim.
    "q_d103_hilbert" -> ((s, d) => {
      val o = t(s, d, "orders")
        .withColumn("od", datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long"))
      graft.sources.Hilbert.withHilbertValue(o, "o_custkey", "od", bits = 8)
        .select(col("o_orderkey"), col("h_value"))
        .orderBy("o_orderkey")
    }),

    // D103b (r15): 3-D Hilbert clustering — real clustering keys are
    // often 3-4 columns; Skilling's transpose is dimension-generic
    // and the oracle unrolls the SAME integer steps over three axes
    // (customer x order-day x floored price, bits=4)
    "q_d103b_hilbert3" -> ((s, d) => {
      val o = t(s, d, "orders")
        .withColumn("od", datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long"))
        .withColumn("tp", floor(col("o_totalprice")).cast("long"))
      graft.sources.Hilbert.withHilbertValueN(o, Seq("o_custkey", "od", "tp"), bits = 4)
        .select(col("o_orderkey"), col("h_value"))
        .orderBy("o_orderkey")
    }),

    // D104 (r15): within-page main-content extraction — each document
    // wrapped in the full chrome battery (header/nav/link-farm div/
    // footer); the operator must keep exactly the article div (when
    // long enough) and the oracle re-derives every block decision:
    // chrome element removal, block split, per-block link-density
    // integer arithmetic, and the newline join
    "q_d104_main_content" -> ((s, d) => {
      val pages = t(s, d, "documents").select(col("doc_id"), concat(
        lit("<html><header><h1>Site Title Here</h1></header>"),
        lit("<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a> <a href=\"/c\">Contact</a></nav>"),
        lit("<div id=\"main\">"), col("text"), lit("</div>"),
        lit("<div class=\"rel\"><a href=\"/p1\">Related article one</a> <a href=\"/p2\">Related article two</a> <a href=\"/p3\">Related article three</a></div>"),
        lit("<footer>(c) 2026 Example Corp - All rights reserved</footer></html>"))
        .as("html"))
      graft.text.MainContent.extractMainContent(pages, "html", "doc_id")
        .orderBy("doc_id")
    }),

    // e2e-12 (r15): the LAKEHOUSE LIFECYCLE — what a managed ingest
    // table actually runs, composed end-to-end over the C35 snapshot
    // log: v0 = initial load; a CDC batch (new keys + updates +
    // deletes) merged via C23 mergeLatest and committed as v1; C30c
    // in-place compaction to ceil(n/200) range-ordered files as v2.
    // A reader pinned to v1 BEFORE the compaction commit re-reads
    // its full file set AFTER it; the oracle re-derives the post-CDC
    // table (updates applied, deletes gone, new keys present) and
    // the content census through BOTH readers in one SQL chain.
    // e2e-13 (r16): the INCREMENTAL CONSUMER — a downstream per-lang
    // materialized view maintained purely from C35j change-data-feed
    // deltas (base aggregate at v0, then +1/-1 per insert/delete —
    // updates that MOVE a row between langs arrive as their
    // delete+insert pair and re-bucket it), never re-reading the
    // table. Graded two ways: the oracle re-derives the final view
    // directly from the original parquet, and a Spark-computed cert
    // pins incremental ≡ direct aggregation of the final version.
    "q_e2e_incremental" -> ((s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_gate/e2e_incremental"
      val root = new org.apache.hadoop.fs.Path(dir)
      val hfs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      hfs.delete(root, true)
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"), col("lang"))
      graft.sources.SnapshotLog.write(
        docs.filter(col("doc_id") % 2 === 0).repartition(4), dir,
        statsCols = Seq("doc_id"))
      graft.sources.SnapshotLog.append(
        docs.filter(col("doc_id") % 2 === 1).repartition(2), dir,
        statsCols = Seq("doc_id"))
      graft.sources.SnapshotLog.deleteRange(s, dir, "doc_id", 10L, 40L)
      graft.sources.SnapshotLog.updateRange(s, dir, "doc_id", 50L, 80L,
        Map("lang" -> lit("xx"))) // moves rows BETWEEN lang buckets
      val base = graft.sources.SnapshotLog.read(s, dir, 0L)
        .groupBy("lang").agg(count(lit(1)).as("delta"))
      val deltas = graft.sources.SnapshotLog.readChanges(s, dir, 0L, 3L)
        .groupBy("lang")
        .agg(sum(when(col("_change_type") === "insert", 1L)
          .otherwise(-1L)).as("delta"))
      // PINNED (r16): both lang-count aggregates are read twice — by
      // the ≡-cert's two exceptAll branches and by the final output —
      // so unpinned, the v0-read + CDF-delta chain and the final-
      // version read each ran twice; the pinned frames are lang-count
      // sized (report rows)
      val view = graft.CacheScope.persist(base.unionByName(deltas)
        .groupBy("lang").agg(sum(col("delta")).cast("long").as("n_docs"))
        .filter(col("n_docs") > 0))
      val direct = graft.CacheScope.persist(
        graft.sources.SnapshotLog.read(s, dir)
          .groupBy("lang").agg(count(lit(1)).cast("long").as("n_docs")))
      val mismatches = view.exceptAll(direct)
        .unionAll(direct.exceptAll(view)).count()
      view.unionByName(Seq(("_cert_inc_eq_direct",
          if (mismatches == 0) 1L else 0L)).toDF("lang", "n_docs"))
        .orderBy("lang")
    }),

    "q_e2e_lakehouse" -> ((s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_gate/e2e_lakehouse"
      val root = new org.apache.hadoop.fs.Path(dir)
      val hfs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      hfs.delete(root, true)
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"), col("lang"))
      graft.sources.SnapshotLog.write(
        docs.filter(col("doc_id") % 3 === 0).repartition(8), dir) // v0
      val batch = docs.filter(col("doc_id") % 3 === 1)
          .withColumn("op", lit("U"))
        .unionByName(docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0)
          .select(col("doc_id"), concat(col("text"), lit(" [rev1]")).as("text"),
            col("lang"))
          .withColumn("op", lit("U")))
        .unionByName(docs.filter(col("doc_id") % 3 === 0 &&
            col("doc_id") % 2 =!= 0 && col("doc_id") % 5 === 0)
          .withColumn("op", lit("D")))
        .withColumn("version", lit(1L))
      val current = graft.sources.SnapshotLog.read(s, dir)
        .withColumn("version", lit(0L))
      val merged = graft.operators.Merge.mergeLatest(current, batch,
        Seq("doc_id"), Seq("version"), Some("op")).drop("op", "version")
      graft.sources.SnapshotLog.write(merged, dir) // v1
      val v1Snap = graft.sources.SnapshotLog.snapshot(s, dir) // pinned pre-compaction
      graft.sources.SnapshotLog.compactInPlace(s, dir, 200L, Seq("doc_id")) // v2
      val v2Snap = graft.sources.SnapshotLog.snapshot(s, dir)
      def census(df: DataFrame, tag: String): DataFrame =
        df.withColumn("_h", Dedup.portableTokenHash60(concat_ws("|",
            col("doc_id"), coalesce(col("text"), lit("")))))
          .agg(count(lit(1)).cast("long").as("rows"), expr("bit_xor(_h)").as("xr"))
          .select(expr(s"stack(2, 'rows_$tag', rows, 'xor_$tag', xr) AS (metric, value)"))
      val disjoint = v1Snap.files.toSet.intersect(v2Snap.files.toSet).isEmpty
      val alive = v1Snap.files.forall(f =>
        hfs.exists(new org.apache.hadoop.fs.Path(f)))
      val certs = Seq(
        ("cert_disjoint_filesets", if (disjoint) 1L else 0L),
        ("cert_v1_alive", if (alive) 1L else 0L),
        ("files_latest", v2Snap.files.size.toLong),
        ("versions", graft.sources.SnapshotLog.versions(s, dir).size.toLong))
        .toDF("metric", "value")
      census(graft.sources.SnapshotLog.read(s, dir), "latest")
        .unionByName(census(s.read.parquet(v1Snap.files: _*), "v1_reader"))
        .unionByName(certs)
        .orderBy("metric")
    }),

    // D102 (r14): mergeable count-min sketches — per-slice sketches
    // built in one map-side-combined pass, merged by exact counter
    // addition (merge ≡ whole-corpus build BYTE-IDENTICALLY — claim
    // row), point estimates deterministic at the pinned seed. The
    // gate's strong claim: at depth 5 × width 1024 over the event-type
    // cardinality, every estimate EQUALS the exact count (checked
    // per key against the oracle's exact GROUP BY), and the merge
    // equals the whole build.
    "q_d102_countmin" -> ((s, d) => {
      import graft.functions.{CountMinAgg, CountMinMergeAgg, CountMinEstimate}
      val ev = t(s, d, "events")
      val merged = ev
        .groupBy(pmod(col("event_id"), lit(4)).as("_slice"))
        .agg(CountMinAgg(col("event_type"), 5, 1024, 42).as("sk"))
        .agg(CountMinMergeAgg(col("sk"), 5, 1024, 42).as("sk"))
      val whole = ev.agg(CountMinAgg(col("event_type"), 5, 1024, 42).as("sk2"))
      val keys = ev.select(col("event_type")).filter(col("event_type").isNotNull)
        .distinct()
      val est = keys.crossJoin(broadcast(merged))
        .select(col("event_type"), CountMinEstimate(col("sk"), col("event_type"))
          .as("est"))
      val exact = ev.filter(col("event_type").isNotNull)
        .groupBy("event_type").agg(count(lit(1)).as("exact_cnt"))
      val perKey = est.join(exact, "event_type")
        .select(col("event_type"), col("exact_cnt"),
          when(col("est") === col("exact_cnt"), 1L).otherwise(0L).as("ok"))
      val mergeEq = merged.crossJoin(whole)
        .select(lit("zz_merge_eq_whole").as("event_type"),
          lit(-1L).as("exact_cnt"),
          when(col("sk") === col("sk2"), 1L).otherwise(0L).as("ok"))
      perKey.unionByName(mergeEq).orderBy("event_type")
    }),

    // C34 (r14): mojibake repair — the ftfy fix_encoding core as a
    // native codegen'd expression (cp1252/latin-1 → strict-UTF-8
    // round trip, bounded double-encoding recursion). The gate pins
    // the four canonical damage/no-damage shapes through the REAL
    // expression plus a corpus-invariance claim: the ASCII documents
    // table must be a fixed point (the algorithm provably never
    // rewrites ASCII — a nonzero count hash-fails).
    "q_c34_mojibake" -> ((s, d) => {
      import s.implicits._
      // r15: the cp1251 / latin-2 damage classes ride the same gate —
      // damaged fixtures derived by the exact hop being repaired
      // (UTF-8 bytes read with the wrong legacy codec)
      def damage(orig: String, codec: String): String =
        new String(orig.getBytes(java.nio.charset.StandardCharsets.UTF_8), codec)
      val fixtures = Seq(
        ("fix_cp1252_apos", "donâ€™t"),
        ("fix_latin1_eacute", "cafÃ©"),
        ("fix_double_encoded", "ÃƒÂ©"),
        ("fix_cp1251_cyrillic", damage("привет мир", "windows-1251")),
        ("fix_latin2_hacek", damage("žluťoučký kůň", "ISO-8859-2")),
        ("keep_clean_utf8", "café"),
        ("keep_clean_cyrillic", "привет мир"),
        ("keep_clean_latin2", "žluťoučký kůň"),
        ("keep_ascii", "hello")).toDF("tag", "s")
      val fixed = fixtures.select(col("tag"),
        graft.functions.FixMojibake(col("s")).as("value"))
      val corpus = t(s, d, "documents")
        .agg(sum(when(graft.functions.FixMojibake(col("text")) =!= col("text"),
          1L).otherwise(0L)).as("n"))
        .select(lit("zz_corpus_changed").as("tag"),
          coalesce(col("n"), lit(0L)).cast("string").as("value"))
      fixed.unionByName(corpus).orderBy("tag")
    }),

    // e2e-11 (r14): the STORE MAINTENANCE cycle — what a daily crawl
    // ingest actually runs: the store's banded index upserted with
    // the day's increment (C33, no store re-scan), the next batch
    // matched through the merged index (D34b), survivors kept
    // (anti-join on the matched id set), and the keep set assigned
    // stable global ranks for deterministic export (D96). Certifies
    // the four stages COMPOSE bit-exactly: the oracle re-derives the
    // exact bipartite jaccard keep set over the unioned store plus
    // the engine-exact row_number total order in one SQL chain.
    "q_e2e_maintain" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def idx(df: DataFrame) = Dedup.minhashIndex(df, "text", "doc_id")
      val storeIdx = Dedup.mergeNearIndexes(
        idx(docs.filter(col("doc_id") % 3 === 0)),
        idx(docs.filter(col("doc_id") % 3 === 1)))
      val batch = docs.filter(col("doc_id") % 3 === 2)
      val hits = Dedup.minhashMatchesIndexed(idx(batch), storeIdx, 0.9)
        .select(col("batch_id").as("doc_id")).distinct()
      val keep = batch.join(hits, Seq("doc_id"), "left_anti")
      graft.operators.Rank.globalRank(keep.select("doc_id", "n_chars"),
        Seq(col("n_chars").desc), col("doc_id"), partitions = 8)
        .orderBy("global_rank")
    }),

    // e2e-9 (r13): the MIXTURE BUILD — the full "raw corpus to
    // training schedule" chain: D41 sqrt-temperature token-budget
    // fractions per language → D25 deterministic hash sampling at
    // those fractions (the language→fraction dim crosses the driver
    // as a bounded map, the centroid-collect contract) → D94
    // proportional interleave of the sampled mix. The oracle
    // re-derives all three stages in one SQL chain, so the composite
    // certifies the stages COMPOSE bit-exactly, not just that each
    // passes alone.
    "q_e2e_mixture" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", graft.text.TextAnalysis.wordCount(col("text")))
      val fr = graft.pipeline.Pipeline.tokenBudgetFractions(
        docs, col("n_tokens"), col("lang"), budgetTokens = 10000L,
        temperature = 0.5)
      val fmap = fr.collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      val sampled = graft.pipeline.Pipeline.stratifiedSampleByHash(
        docs, col("doc_id"), col("lang"), fmap)
      graft.pipeline.Pipeline.interleaveBySource(
        sampled, col("lang"), col("doc_id"))
        .orderBy("pos_key", "source", "id")
    }),

    // D96 (r13): distributed global rank — the range-partitioned
    // two-pass rank (the scalable half of C1b's index semantics: no
    // single-task window over the corpus; offsets ride a P-row
    // bounded frame). Output is partitioning-independent by
    // construction — the spec proves it; this gate proves the values
    // against the engine-exact row_number total order.
    "q_d96_global_rank" -> ((s, d) =>
      graft.operators.Rank.globalRank(
        t(s, d, "documents").select("doc_id", "n_chars"),
        Seq(col("n_chars").desc), col("doc_id"), partitions = 8)
        .orderBy("global_rank")),

    // D94 (r13): deterministic proportional source interleaving —
    // the mixture-execution schedule over documents by language:
    // within-source D30 shuffle rank, per-source counts, and the
    // exact-integer fractional position key (2r+1)/(2q) in micro-12
    // units; the full chain (md5 rank order, counts, pmod-exact
    // floor) re-derives in SQL.
    "q_d94_interleave" -> ((s, d) =>
      graft.pipeline.Pipeline.interleaveBySource(
        t(s, d, "documents"), col("lang"), col("doc_id"))
        .orderBy("pos_key", "source", "id")),

    // e2e-6 (r13): RAG retrieval composite — D90 batch retrieval →
    // doc-store lookup (the synthetic id→doc bridge is pmod(id,
    // n_docs), documented) → D12 content fingerprints → per-query
    // retrieval dedup (same fingerprint keeps its BEST rank) →
    // dense re-rank. The serving-side sibling of the e2e curation
    // pipeline: what reaches the context window is deduplicated,
    // provenance-tagged text, not raw ANN hits.
    "q_e2e_rag" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val docs = t(s, d, "documents")
      val queries = emb.filter(col("vec_id").isin(3L, 31L, 59L, 87L, 115L))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val hits = Ann.batchTopK(emb, "vec_id", "embedding", queries, "qid", "qv", 10)
      val nDocs = docs.agg(count(lit(1)).as("_n"))
      val ctx = hits.crossJoin(broadcast(nDocs))
        .withColumn("doc_id", pmod(col("id"), col("_n")))
        .join(docs.select(col("doc_id"),
          TextAnalysis.fingerprintMd5(col("text")).as("fingerprint")), Seq("doc_id"))
      val best = ctx.groupBy("query_id", "fingerprint")
        .agg(min(struct(col("rank"), col("doc_id"))).as("_b"))
        .select(col("query_id"), col("fingerprint"),
          col("_b.rank").as("rank"), col("_b.doc_id").as("doc_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy("rank")
      best.withColumn("final_rank", row_number().over(w).cast("long"))
        .select("query_id", "final_rank", "doc_id", "fingerprint")
        .orderBy("query_id", "final_rank")
    }),

    // e2e-8 (r13): HYBRID retrieval — D90 dense top-10 (bridged to
    // docs via the pmod id→doc bridge, best rank per doc) fused with
    // D92 BM25 top-10 (query text = first 5 tokens of the bridged
    // query doc) through integer-exact RRF (Fusion.rrfFuse — LONG
    // div contributions, no float boundary at all). The production
    // retrieval stack: dense recalls paraphrase, sparse recalls
    // exact terms, RRF needs no cross-system score calibration.
    "q_e2e_hybrid" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val docs = t(s, d, "documents")
      val nDocs = docs.agg(count(lit(1)).as("_n"))
      val qe = emb.filter(col("vec_id").isin(11L, 42L, 103L))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val dense = Ann.batchTopK(emb, "vec_id", "embedding", qe, "qid", "qv", 10)
        .crossJoin(broadcast(nDocs))
        .select(col("query_id"), col("rank"),
          pmod(col("id"), col("_n")).as("doc_id"))
      val qt = qe.crossJoin(broadcast(nDocs))
        .select(col("qid"), pmod(col("qid"), col("_n")).as("doc_id"))
        .join(docs, Seq("doc_id"))
        .select(col("qid"),
          array_join(slice(split(trim(col("text")), " +"), 1, 5), " ").as("qtext"))
      val sparse = graft.text.Bm25.bm25TopK(
          docs, "doc_id", "text", qt, "qid", "qtext", 10)
        .select(col("query_id"), col("rank"), col("doc_id"))
      graft.ann.Fusion.rrfFuse(Seq(dense, sparse), 10)
        .orderBy("query_id", "rank")
    }),

    // e2e-7 (r13): crawl-ingest composite — the Common Crawl shape
    // end-to-end THROUGH REAL WARC BYTES: documents (every 6th
    // html-wrapped with the q_d68 noise, every 10th re-crawled
    // byte-identical under a mirror host) → C28 .warc.gz export →
    // C28 ingest → D68 markup strip → D9 langid → D35 quality
    // reasons → D1 exact-dup collapse (mirror crawls collapse to
    // one keeper). The oracle never touches WARC: it re-derives the
    // whole chain from the parquet documents, so the gate ALSO
    // certifies the WARC round trip inside a real pipeline.
    "q_e2e_crawl" -> ((s, d) => {
      val dir = "/tmp/graft_gate/e2e_crawl"
      val wrap = (txt: Column) => concat(
        lit("<html><head><style>p{color:red}</style>" +
          "<script type=\"text/javascript\">var x = 1 < 2;</script></head>" +
          "<body><!-- nav --><div class=\"main\">"),
        txt, lit(" &amp; more &lt;tags&gt; &quot;quoted&quot;</div></body></html>"))
      val base = t(s, d, "documents").withColumn("rawtext",
        when(col("doc_id") % 6 === 0, wrap(col("text"))).otherwise(col("text")))
      val crawl = base.withColumn("host", lit("www.example"))
        .unionByName(base.filter(col("doc_id") % 10 === 0)
          .withColumn("host", lit("mirror.example")))
        .select(concat(lit("https://"), col("host"), lit("/"), col("source"),
          lit("/"), col("doc_id")).as("target_uri"),
          lit("2026-02-02T00:00:00Z").as("warc_date"),
          lit("text/html; charset=utf-8").as("content_type"),
          encode(col("rawtext"), "UTF-8").as("content"))
      graft.sources.Warc.writeWarcPartitioned(crawl.repartition(4), dir, gzip = true, manifest = true)
      val ingested = graft.sources.Warc.readWarc(s, dir)
        .filter(col("warc_type") === "resource")
        .select(col("target_uri"),
          graft.text.Boilerplate.stripMarkup(decode(col("content"), "UTF-8")).as("text"))
      val classified = ingested
        .withColumn("lang_pred", TextAnalysis.languageId(col("text")))
        .withColumn("fingerprint", TextAnalysis.fingerprintMd5(col("text")))
      val reasons = TextAnalysis.qualityFilterReport(classified, "text", "target_uri")
        .select(col("target_uri"), col("reason"))
      val groups = classified.groupBy("fingerprint")
        .agg(count(lit(1)).as("dup_count"), min("target_uri").as("_keeper"))
      classified.join(reasons, Seq("target_uri"))
        .join(groups, Seq("fingerprint"))
        .select(col("target_uri"), col("lang_pred"), col("reason"),
          col("dup_count"), (col("target_uri") === col("_keeper")).as("is_keeper"))
        .orderBy("target_uri")
    }),

    "q_d12_fingerprint" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("fingerprint"))
      .orderBy("doc_id")),

    // ---- dataset-assembly extensions (SURVEY D16-D18)
    "q_d16_split" -> ((s, d) =>
      graft.pipeline.Pipeline.withSplit(t(s, d, "documents"), "text")
        .groupBy("split").agg(count(lit(1)).as("cnt")).orderBy("split")),
    "q_d17_sample" -> ((s, d) =>
      graft.pipeline.Pipeline.sampleByHash(t(s, d, "orders"), col("o_orderkey"), 0.05, "s1")
        .agg(count(lit(1)).as("cnt"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))),
    "q_d19_incr_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val store = Dedup.fingerprints(docs.filter(col("doc_id") % 3 === 0), "text")
      Dedup.dedupAgainstStore(docs, "text", store, "fingerprint")
        .select("doc_id").orderBy("doc_id")
    }),
    "q_d18_pii" -> ((s, d) => t(s, d, "customer")
      .select(col("c_custkey"),
        graft.pipeline.Pipeline.redactPii(concat(
          lit("contact "), emailCol, lit(" id "),
          (lit(10000000000L) + col("c_custkey") * 7919).cast("string"), lit(" end")))
          .as("redacted"))
      .orderBy("c_custkey")),

    // ---- end-to-end composed pipeline: the operators chained the way
    // a real training-data build would chain them, with ONE DuckDB
    // oracle re-deriving every stage. What this gates beyond the
    // per-operator queries is COMPOSITION: column contracts across
    // stages, dedup-before-decontam ordering, driver-side mixture
    // collect (bounded per-source dimension), and hash-bucket
    // consistency (sample, split, and packing all derive from the
    // same md5-head bucket). Chain: quality filter → repair →
    // exactDedup → minhashPairs+dedupByPairsBest → decontaminate →
    // tokenBudgetFractions → stratifiedSampleByHash → withSplit →
    // packSequences.
    // composed r10-wave curation chain: duplicated-span gate (d47) →
    // DSIR importance weights toward the English slice (d46) →
    // deterministic Gumbel top-100 → reproducible split (d16) — the
    // whole chain re-derived in ONE SQL WITH-chain by the oracle
    "q_e2e_curation" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") % 2 === 0)
      // 1. span gate: drop docs whose 8-token spans are > 50%
      //    duplicated corpus-wide; span-less short docs pass
      val stats = graft.dedup.Spans.duplicatedSpanStats(
        docs, "text", "doc_id", spanLen = 8)
      // pinned: the survivor corpus feeds DSIR's raw featurization
      // AND the target-slice featurization
      val kept = graft.CacheScope.persist(
        docs.join(stats.filter(col("dup_frac") > 0.5).select("doc_id"),
          Seq("doc_id"), "left_anti"))
      // 2-3. DSIR toward the English survivors, Gumbel top-100.
      // Compared projection: no raw transcendental-derived integers
      // (see q_d46) — coarse values + the two boundary-guard rows
      val (w, lg) = graft.pipeline.Dsir.importanceWeightsAndGuard(
        kept, kept.filter(col("lang") === "en"), "text", "doc_id",
        buckets = 10000)
      val gg = graft.pipeline.Dsir.gumbelBoundaryGuard(w, "doc_id")
      val sel = graft.pipeline.Dsir.resampleTopK(w, "doc_id", k = 100)
      // 4. reproducible 80/10/10 split of the selection
      val split = graft.pipeline.Pipeline.withSplit(
        sel.select(col("doc_id"), col("feat_count"), col("log_ratio")), "doc_id")
        .select(col("doc_id"), col("feat_count"), col("log_ratio"),
          col("split"), lit("sel").as("tag"))
      val guards = lg.select(lit(-1L).as("doc_id"), lit(-1L).as("feat_count"),
          when(col("min_lambda_dist") > 1e-7, 1.0).otherwise(0.0).as("log_ratio"),
          lit("guard").as("split"), lit("lambda_guard").as("tag"))
        .unionByName(gg.select(lit(-2L).as("doc_id"), lit(-1L).as("feat_count"),
          when(col("min_gumbel_dist") > 1e-7, 1.0).otherwise(0.0).as("log_ratio"),
          lit("guard").as("split"), lit("gumbel_guard").as("tag")))
      split.unionByName(guards).orderBy("tag", "doc_id")
    }),
    "q_e2e_pipeline" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // 1. quality gate: keep docs the composite filter passes
      val keepIds = TextAnalysis.qualityFilterReport(docs, "text", "doc_id")
        .filter(col("reason") === "keep").select("doc_id")
      val kept = docs.join(keepIds, "doc_id")
      // 2. repair: collapse space runs + strip (the reference's two
      //    whitespace fixes), into text_norm
      val repaired = Corrector.strip(
        Corrector.collapseSpaces(
          kept.withColumn("text_norm", col("text")), "text_norm"), "text_norm")
      // 3. exact dedup on normalized content (min doc_id wins).
      //    PINNED: the frame feeds pair generation, the collapse, and
      //    the downstream corpus — without the pin every consumer
      //    re-runs the filter+repair+dedup chain (measured 9.0 s →
      //    ~3 s at sf0.1 from the three CacheScope pins here)
      val exact = graft.CacheScope.persist(
        Dedup.exactDedup(repaired, "text_norm", "doc_id"))
      // 4. near-dup collapse at jaccard >= 0.9, keeping the
      //    most-token member per component
      val pairs = Dedup.minhashPairs(exact, "text_norm", "doc_id", 0.9)
      val collapsed = graft.dedup.Components.dedupByPairsBest(exact, "doc_id",
        pairs, "id_a", "id_b", size(split(trim(col("text_norm")), " +")))
      // 5. decontaminate vs the held-out benchmark slice (5-gram overlap)
      val bench = Corrector.strip(Corrector.collapseSpaces(
        docs.filter(col("doc_id") % 11 === 0).withColumn("text_norm", col("text")),
        "text_norm"), "text_norm")
      val corpus = graft.CacheScope.persist(
        collapsed.filter(col("doc_id") % 11 =!= 0))
      val dirty = Dedup.contaminatedIds(corpus, "text_norm", "doc_id",
        bench, "text_norm", n = 5)
      // pinned: read by the mixture aggregation (an action) and again
      // by the sampler
      val clean = graft.CacheScope.persist(
        corpus.join(dirty, Seq("doc_id"), "left_anti")
          .withColumn("n_tokens", TextAnalysis.wordCount(col("text_norm"))))
      // 6. mixture design for a 5000-token budget at temperature 0.5;
      //    the per-source table is a bounded dimension, so collecting
      //    it to drive the sampler is the documented pattern
      val fracs = graft.pipeline.Pipeline.tokenBudgetFractions(
          clean, col("n_tokens"), col("source"), budgetTokens = 5000,
          temperature = 0.5)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      // 7. materialize mixture, assign reproducible splits, pack
      val sampled = graft.pipeline.Pipeline.stratifiedSampleByHash(
        clean, col("doc_id"), col("source"), fracs)
      val split_ = graft.pipeline.Pipeline.withSplit(sampled, "doc_id")
      graft.pipeline.Pipeline.packSequences(split_, col("doc_id"),
          col("n_tokens"), contextLen = 256, buckets = 8)
        .select(col("doc_id"), col("source"), col("split"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("pack_id"), col("pack_offset").cast("long").as("pack_offset"))
        .orderBy("doc_id")
    })
  )

  // ---------------------------------------------------------------- oracles

  /** Composed e2e entries reference component oracles as subqueries,
    * so the public [[oracleSql]] wraps this base map.
    */
  def oracleSql: Map[String, String] = {
    val base = oracleSqlBase
    base + ("q_e2e_dq" ->
      s"""SELECT * FROM (
         |  SELECT 'fk' AS component, relationship AS metric,
         |    CAST(coverage_pct AS DOUBLE) AS value
         |  FROM (${base("q_b19_ref_integrity")})
         |  UNION ALL SELECT 'rule', rule, CAST(violation_pct AS DOUBLE)
         |  FROM (${base("q_b21_row_rules")})
         |  UNION ALL SELECT 'benford', 'max_dev_micro',
         |    CAST(max(dev_micro) AS DOUBLE)
         |  FROM (${base("q_b20_benford")})
         |  UNION ALL SELECT 'outliers', 'l_quantity_iqr',
         |    CAST(iqr_outliers AS DOUBLE)
         |  FROM (${base("q_a17_outliers")}) WHERE "column" = 'l_quantity'
         |  UNION ALL SELECT 'volume', 'anomalous_buckets',
         |    CAST(count(CASE WHEN anomaly THEN 1 END) AS DOUBLE)
         |  FROM (${base("q_b22_volume_anomaly")})
         |) ORDER BY component, metric""".stripMargin) +
      // the file-stream replays must land on EXACTLY the batch
      // result, so they share the batch queries' oracles verbatim
      ("q_s5_file_stream_dq" -> base("q_s4_dq_summary")) +
      // late-drop replay (r13): the oracle EXCLUDES the late rows —
      // it is the unchanged on-time batch computation, so the gate
      // certifies both DROP semantics and on-time invariance at once
      ("q_s10_file_stream_late_drop" -> base("q_s4_dq_summary")) +
      ("q_s6_file_stream_freq" -> base("q_d81_windowed_freq")) +
      // streaming shard export (r14): the batch C31 manifest minus
      // n_files — the streamed layout must be row-for-row the batch
      // export's, and the incremental manifest must census it exactly
      ("q_s11_stream_jsonl_shards" ->
        """WITH r AS (SELECT doc_id, text,
          |  CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS rk
          |  FROM documents),
          |sh AS (SELECT doc_id, text, rk // 200 AS shard FROM r),
          |h AS (SELECT shard, doc_id, list_reduce(list_transform(range(1, 16),
          |    i -> strpos('0123456789abcdef', substr(md5(
          |      CAST(doc_id AS VARCHAR) || '|' || coalesce(text, '')),
          |      CAST(i AS INT), 1)) - 1),
          |    (a, x) -> a * 16 + x) AS hh FROM sh)
          |SELECT CAST(shard AS BIGINT) AS shard, count(*) AS rows,
          |  min(doc_id) AS min_id, max(doc_id) AS max_id,
          |  CAST(bit_xor(hh) AS BIGINT) AS content_xor
          |FROM h GROUP BY 1 ORDER BY 1""".stripMargin) +
      // D15/D39/D52 end-to-end replays: deterministic set semantics
      ("q_s7_file_stream_dedup" ->
        """SELECT DISTINCT event_id % 500 AS dup_key,
          |  'p' || CAST(((event_id % 500) * 7) % 13 AS VARCHAR) AS payload
          |FROM events WHERE ts IS NOT NULL ORDER BY dup_key""".stripMargin) +
      ("q_s8_file_stream_ingest" ->
        """WITH sfp AS (SELECT DISTINCT md5(text) AS fp FROM documents
          |  WHERE doc_id % 3 = 0)
          |SELECT DISTINCT md5(text) AS fp FROM documents
          |WHERE doc_id % 3 <> 0 AND md5(text) NOT IN (SELECT fp FROM sfp)
          |ORDER BY fp""".stripMargin) +
      ("q_s9_file_stream_spans" ->
        """WITH sp AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-7)) AS p
          |  FROM (SELECT doc_id, regexp_split_to_array(trim(text),' +') AS t
          |        FROM documents WHERE length(trim(text)) > 0)
          |  WHERE len(t) >= 8),
          |hx AS (SELECT doc_id, p - 1 AS span_pos,
          |  substr(md5(list_aggregate(t[p:p+7], 'string_agg', ' ')), 1, 15) AS fp
          |  FROM sp),
          |h AS (SELECT doc_id, span_pos,
          |  list_reduce(list_transform(range(1, 16),
          |    i -> strpos('0123456789abcdef', substr(fp, CAST(i AS INT), 1)) - 1),
          |    (a, x) -> a * 16 + x) AS span_hash
          |  FROM hx),
          |store AS (SELECT DISTINCT span_hash FROM h WHERE doc_id % 3 = 0)
          |SELECT DISTINCT doc_id, span_pos, span_hash FROM h
          |WHERE doc_id % 3 <> 0 AND span_hash IN (SELECT span_hash FROM store)
          |ORDER BY doc_id, span_pos""".stripMargin) +
      // C20: the workbook round trip must reproduce the ORIGINAL
      // values' string forms (all-string frame by the xlsx contract)
      ("q_c20_xlsx_roundtrip" ->
        """SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey, n_name,
          |  CAST(n_regionkey AS VARCHAR) AS n_regionkey
          |FROM nation ORDER BY CAST(n_nationkey AS BIGINT)""".stripMargin) +
      // C29: the tar-shard round trip must reproduce the ORIGINAL
      // documents byte-exactly (sample key, UTF-8 octet length,
      // text, concatenated json member)
      ("q_c29_tar_shards" ->
        """SELECT printf('%06d', doc_id) AS key,
          |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, text,
          |  '{"lang":"' || lang || '","source":"' || source || '"}' AS meta
          |FROM documents ORDER BY key""".stripMargin) +
      // C28: the WARC round trip must reproduce the ORIGINAL
      // documents byte-exactly (UTF-8 octet length + text)
      ("q_c28_warc_roundtrip" ->
        """SELECT 'https://graft.example/' || source || '/' || doc_id AS target_uri,
          |  'text/plain; charset=utf-8' AS content_type,
          |  octet_length(encode(text)) AS n_bytes, text
          |FROM documents ORDER BY target_uri""".stripMargin)
  }

  private def oracleSqlBase: Map[String, String] = Map(
    "q_a1_summary" ->
      """SELECT count(*) AS row_count, 5 AS column_count,
        | 2 AS nominal_column_count, 3 AS numeric_column_count FROM customer""".stripMargin,

    "q_a2_null_profile" -> {
      val cols = Seq("c_acctbal", "c_custkey", "c_mktsegment", "c_name", "c_nationkey")
      cols.map(c =>
        s"""SELECT '$c' AS "column", count($c) AS non_null,
           | count(*)-count($c) AS null_count,
           | round(count($c)*100.0/count(*),2) AS fill_pct FROM customer""".stripMargin)
        .mkString("", " UNION ALL ", """ ORDER BY "column"""")
    },

    // the same nano-nat term table + exact integer sums; the guard
    // row pins min boundary distance as a literal-1 claim
    "q_a21_entropy" -> {
      def one(c: String) =
        s"""SELECT '$c' AS "column", max(n) AS n,
           |  count(*) AS distinct_vals,
           |  CAST((2*sum(cnt*t) + greatest(max(n),1)) // (2*greatest(max(n),1))
           |    AS BIGINT) AS entropy_nano
           |FROM (SELECT cnt, n,
           |  CAST(round(ln(CAST(n AS DOUBLE)/CAST(cnt AS DOUBLE))*1e9) AS BIGINT) AS t
           |  FROM (SELECT CAST($c AS VARCHAR) AS v, count(*) AS cnt FROM customer
           |        WHERE $c IS NOT NULL GROUP BY 1) f
           |  CROSS JOIN (SELECT count(*) AS n FROM customer WHERE $c IS NOT NULL) nn)"""
          .stripMargin
      Seq("c_mktsegment", "c_nationkey").map(one)
        .mkString("", " UNION ALL ",
          " UNION ALL SELECT 'zz_guard', -1, -1, 1" +
            """ ORDER BY "column"""")
    },

    // key census via json_keys unnest; presence tie-safe against the
    // non-null JSON row count
    "q_a20_json_census" -> {
      s"""WITH j AS ($doctoredJsonSql),
         |t AS (SELECT count(p) AS t FROM j),
         |k AS (SELECT unnest(json_keys(p)) AS key FROM j WHERE p IS NOT NULL)
         |SELECT key, count(*) AS cnt,
         |  ((2*count(*)*10000 + greatest(t,1)) // (2*greatest(t,1))) / 100.0
         |    AS presence_pct
         |FROM k CROSS JOIN t GROUP BY key, t ORDER BY key""".stripMargin
    },

    // named-key scalar extraction (json_extract_string ≡
    // get_json_object on scalars) + the A19 detector grid
    "q_a20b_json_values" -> {
      val intRe = "^[+-]?[0-9]{1,18}$"
      val dblRe = "^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$"
      def one(c: String) =
        s"""SELECT '$c' AS "column", count($c) AS non_null,
           |  ((2*count(CASE WHEN lower($c) IN ('true','false') THEN 1 END)*10000
           |     + greatest(count($c),1)) // (2*greatest(count($c),1))) / 100.0 AS bool_pct,
           |  ((2*count(CASE WHEN regexp_matches($c, '$intRe') THEN 1 END)*10000
           |     + greatest(count($c),1)) // (2*greatest(count($c),1))) / 100.0 AS int_pct,
           |  ((2*count(CASE WHEN regexp_matches($c, '$dblRe') THEN 1 END)*10000
           |     + greatest(count($c),1)) // (2*greatest(count($c),1))) / 100.0 AS double_pct,
           |  ((2*count(CASE WHEN try_strptime($c, '%Y-%m-%d') IS NOT NULL THEN 1 END)*10000
           |     + greatest(count($c),1)) // (2*greatest(count($c),1))) / 100.0 AS date_pct,
           |  CASE WHEN count($c) = 0 THEN 'string'
           |   WHEN count(CASE WHEN lower($c) IN ('true','false') THEN 1 END)*100 >= count($c)*95 THEN 'boolean'
           |   WHEN count(CASE WHEN regexp_matches($c, '$intRe') THEN 1 END)*100 >= count($c)*95 THEN 'bigint'
           |   WHEN count(CASE WHEN regexp_matches($c, '$dblRe') THEN 1 END)*100 >= count($c)*95 THEN 'double'
           |   WHEN count(CASE WHEN try_strptime($c, '%Y-%m-%d') IS NOT NULL THEN 1 END)*100 >= count($c)*95 THEN 'date'
           |   ELSE 'string' END AS inferred_type
           |FROM d""".stripMargin
      s"""WITH j AS ($doctoredJsonSql),
         |d AS (SELECT json_extract_string(p, '$$.k') AS k,
         |  json_extract_string(p, '$$.device') AS device,
         |  json_extract_string(p, '$$.score') AS score FROM j)
         |""".stripMargin +
        Seq("k", "device", "score").map(one)
          .mkString("", " UNION ALL ", """ ORDER BY "column"""")
    },

    // the same regex/parse detectors + first-match policy; doctoring
    // goes through DECIMAL(18,2) for the double column so both
    // engines render identical strings
    "q_a19_infer_types" -> {
      val intRe = "^[+-]?[0-9]{1,18}$"
      val dblRe = "^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$"
      def one(c: String) =
        s"""SELECT '$c' AS "column", count($c) AS non_null,
           |  ((2*count(CASE WHEN lower($c) IN ('true','false') THEN 1 END)*10000
           |     + greatest(count($c),1)) // (2*greatest(count($c),1))) / 100.0 AS bool_pct,
           |  ((2*count(CASE WHEN regexp_matches($c, '$intRe') THEN 1 END)*10000
           |     + greatest(count($c),1)) // (2*greatest(count($c),1))) / 100.0 AS int_pct,
           |  ((2*count(CASE WHEN regexp_matches($c, '$dblRe') THEN 1 END)*10000
           |     + greatest(count($c),1)) // (2*greatest(count($c),1))) / 100.0 AS double_pct,
           |  ((2*count(CASE WHEN try_strptime($c, '%Y-%m-%d') IS NOT NULL THEN 1 END)*10000
           |     + greatest(count($c),1)) // (2*greatest(count($c),1))) / 100.0 AS date_pct,
           |  CASE WHEN count($c) = 0 THEN 'string'
           |   WHEN count(CASE WHEN lower($c) IN ('true','false') THEN 1 END)*100 >= count($c)*95 THEN 'boolean'
           |   WHEN count(CASE WHEN regexp_matches($c, '$intRe') THEN 1 END)*100 >= count($c)*95 THEN 'bigint'
           |   WHEN count(CASE WHEN regexp_matches($c, '$dblRe') THEN 1 END)*100 >= count($c)*95 THEN 'double'
           |   WHEN count(CASE WHEN try_strptime($c, '%Y-%m-%d') IS NOT NULL THEN 1 END)*100 >= count($c)*95 THEN 'date'
           |   ELSE 'string' END AS inferred_type
           |FROM d""".stripMargin
      """WITH d AS (SELECT
        |  CAST(o_orderkey AS VARCHAR) AS s_int,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS s_double,
        |  CASE WHEN o_orderkey % 29 = 0 THEN 'garbage'
        |       ELSE strftime(o_orderdate, '%Y-%m-%d') END AS s_date,
        |  CASE WHEN o_orderkey % 23 = 0 THEN 'maybe'
        |       WHEN o_orderstatus = 'O' THEN 'true' ELSE 'false' END AS s_bool,
        |  CASE WHEN o_orderkey % 3 = 0 THEN CAST(o_orderkey AS VARCHAR)
        |       WHEN o_orderkey % 3 = 1 THEN 'word' ELSE '12.5' END AS s_mixed
        |  FROM orders)
        |""".stripMargin +
        Seq("s_int", "s_double", "s_date", "s_bool", "s_mixed").map(one)
          .mkString("", " UNION ALL ", """ ORDER BY "column"""")
    },

    // outlier profile re-derived: same rounded-quartile-first
    // discipline — fences and MAD from the 4-dp statistics, verdicts
    // via IEEE-exact arithmetic on them
    "q_a17_outliers" -> {
      Seq("l_quantity" -> "a", "l_extendedprice" -> "b").map { case (c, sfx) =>
        s"""SELECT '$c' AS "column", count($c) AS cnt,
           |  min(q1$sfx) AS q1, min(med$sfx) AS median, min(q3$sfx) AS q3,
           |  min(round(q1$sfx - 1.5*(q3$sfx-q1$sfx), 5)) AS lo_fence,
           |  min(round(q3$sfx + 1.5*(q3$sfx-q1$sfx), 5)) AS hi_fence,
           |  min(mad$sfx) AS mad,
           |  count(*) FILTER (WHERE $c < q1$sfx - 1.5*(q3$sfx-q1$sfx)
           |    OR $c > q3$sfx + 1.5*(q3$sfx-q1$sfx)) AS iqr_outliers,
           |  count(*) FILTER (WHERE abs($c - med$sfx)*0.6745 > 3.5*mad$sfx)
           |    AS robust_outliers
           |FROM lineitem, s, m""".stripMargin
      }.mkString(
        """WITH s AS (SELECT
          |  round(quantile_cont(l_quantity, 0.25), 4) AS q1a,
          |  round(quantile_cont(l_quantity, 0.5), 4) AS meda,
          |  round(quantile_cont(l_quantity, 0.75), 4) AS q3a,
          |  round(quantile_cont(l_extendedprice, 0.25), 4) AS q1b,
          |  round(quantile_cont(l_extendedprice, 0.5), 4) AS medb,
          |  round(quantile_cont(l_extendedprice, 0.75), 4) AS q3b
          |  FROM lineitem),
          |m AS (SELECT
          |  round(quantile_cont(abs(l_quantity - meda), 0.5), 4) AS mada,
          |  round(quantile_cont(abs(l_extendedprice - medb), 0.5), 4) AS madb
          |  FROM lineitem, s)
          |""".stripMargin, " UNION ALL ", """ ORDER BY "column"""")
    },

    // FD profile re-derived: per-determinant distinct-dependent counts
    // (null dependent counts as one value), violation rollup
    "q_a18_fd" -> {
      Seq(("l_orderkey", "l_returnflag"), ("l_orderkey", "l_linestatus"),
        ("l_partkey", "l_suppkey")).map { case (det, dep) =>
        s"""SELECT '$det' AS determinant, '$dep' AS dependent,
           |  count(*) AS det_values,
           |  count(*) FILTER (WHERE vals > 1) AS violating_values,
           |  CAST(COALESCE(sum(rws) FILTER (WHERE vals > 1), 0) AS BIGINT)
           |    AS violating_rows,
           |  count(*) FILTER (WHERE vals > 1) = 0 AS fd_holds
           |FROM (SELECT $det, count(*) AS rws,
           |  count(DISTINCT $dep)
           |    + max(CASE WHEN $dep IS NULL THEN 1 ELSE 0 END) AS vals
           |  FROM lineitem WHERE $det IS NOT NULL GROUP BY 1)""".stripMargin
      }.mkString("", " UNION ALL ", " ORDER BY determinant, dependent")
    },

    "q_a3_numeric_stats" -> {
      val cols = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
      cols.map(c =>
        s"""SELECT '$c' AS "column", count($c) AS cnt,
           | round(avg($c),4) AS mean, round(stddev_samp($c),4) AS std,
           | round(min($c),4) AS min, round(quantile_cont($c,0.25),4) AS q1,
           | round(quantile_cont($c,0.5),4) AS median,
           | round(quantile_cont($c,0.75),4) AS q3, round(max($c),4) AS max
           |FROM lineitem""".stripMargin)
        .mkString("", " UNION ALL ", """ ORDER BY "column"""")
    },

    "q_a4_strlen_stats" ->
      """SELECT 'p_name' AS "column",
        | CAST((SELECT min(length(p_name)) FROM part) AS INT) AS min_len,
        | (SELECT p_name FROM part WHERE length(p_name)=(SELECT min(length(p_name)) FROM part) ORDER BY p_name LIMIT 1) AS value_at_min_len,
        | CAST((SELECT max(length(p_name)) FROM part) AS INT) AS max_len,
        | (SELECT p_name FROM part WHERE length(p_name)=(SELECT max(length(p_name)) FROM part) ORDER BY p_name LIMIT 1) AS value_at_max_len,
        | (SELECT min(p_name) FROM part) AS min_alpha,
        | (SELECT max(p_name) FROM part) AS max_alpha""".stripMargin,

    "q_a5_freq_table" ->
      """SELECT c_mktsegment AS value, count(*) AS cnt,
        | round(count(*)*100.0/sum(count(*)) OVER (),1) AS pct
        |FROM customer WHERE c_mktsegment IS NOT NULL
        |GROUP BY 1 ORDER BY cnt DESC, value""".stripMargin,

    "q_a6_topk_values" ->
      """SELECT p_brand AS value, count(*) AS cnt FROM part
        |WHERE p_brand IS NOT NULL
        |GROUP BY 1 ORDER BY cnt DESC, value LIMIT 5""".stripMargin,

    "q_a6b_bottomk_values" ->
      """SELECT props AS value, count(*) AS cnt FROM events
        |WHERE props IS NOT NULL
        |GROUP BY 1 ORDER BY cnt, value LIMIT 5""".stripMargin,

    "q_a7_pattern_profile" ->
      """WITH m AS (SELECT regexp_replace(regexp_replace(c_name,'[A-Za-zÖÇĞİŞÜöçğışü]','A','g'),'[0-9]','9','g') AS pattern
        | FROM customer WHERE c_name IS NOT NULL)
        |SELECT pattern, count(*) AS cnt,
        | round(count(*)*100.0/sum(count(*)) OVER (),1) AS pct
        |FROM m GROUP BY 1 ORDER BY cnt DESC, pattern""".stripMargin,

    "q_a8_unexpected" ->
      """SELECT props AS value, count(*) AS cnt FROM events WHERE props IS NOT NULL
        |GROUP BY 1 QUALIFY count(*)*100.0/sum(count(*)) OVER () < 1.0
        |ORDER BY value""".stripMargin,

    "q_a9_sign_counts" ->
      """SELECT 'c_acctbal' AS "column",
        | count(CASE WHEN c_acctbal>0 THEN 1 END) AS positive,
        | count(CASE WHEN c_acctbal=0 THEN 1 END) AS zero,
        | count(CASE WHEN c_acctbal<0 THEN 1 END) AS negative,
        | round(count(CASE WHEN c_acctbal>0 THEN 1 END)*100.0/count(*),1) AS positive_pct,
        | round(count(CASE WHEN c_acctbal=0 THEN 1 END)*100.0/count(*),1) AS zero_pct,
        | round(count(CASE WHEN c_acctbal<0 THEN 1 END)*100.0/count(*),1) AS negative_pct
        |FROM customer""".stripMargin,

    "q_a10_distinct" -> {
      val cols = Seq("o_custkey", "o_orderpriority", "o_orderstatus")
      cols.map(c =>
        s"""SELECT '$c' AS "column", count(DISTINCT $c) AS distinct_cnt FROM orders""")
        .mkString("", " UNION ALL ", """ ORDER BY "column"""")
    },

    "q_a11_corr" ->
      """SELECT 'l_extendedprice' AS col_a, 'l_discount' AS col_b, round(corr(l_extendedprice,l_discount),4) AS pearson FROM lineitem
        |UNION ALL SELECT 'l_quantity', 'l_discount', round(corr(l_quantity,l_discount),4) FROM lineitem
        |UNION ALL SELECT 'l_quantity', 'l_extendedprice', round(corr(l_quantity,l_extendedprice),4) FROM lineitem
        |ORDER BY col_a, col_b""".stripMargin,

    "q_a12_histogram" ->
      """SELECT floor(l_quantity/5.0)*5.0 AS bucket_start, count(*) AS cnt
        |FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_a13_moments" -> {
      def one(c: String, tbl: String) =
        s"""SELECT '$c' AS "column", count($c) AS cnt,
           | round((avg($c*$c*$c) - avg($c)*avg($c*$c)*3 + avg($c)*avg($c)*avg($c)*2)
           |   / pow(avg($c*$c) - avg($c)*avg($c), 1.5), 4) AS skewness,
           | round((avg($c*$c*$c*$c) - avg($c)*avg($c*$c*$c)*4 + avg($c)*avg($c)*avg($c*$c)*6
           |     - avg($c)*avg($c)*avg($c)*avg($c)*3)
           |   / ((avg($c*$c) - avg($c)*avg($c)) * (avg($c*$c) - avg($c)*avg($c))) - 3, 4) AS kurtosis
           |FROM $tbl""".stripMargin
      Seq(one("l_quantity", "lineitem"), one("p_size", "part"))
        .mkString("", " UNION ALL ", """ ORDER BY "column"""")
    },

    // one tall row per (column, metric): every scalar per-column
    // profile recomputed independently and UNION ALL'd — mirrors the
    // exploded single-agg frame the Spark side builds in one scan
    "q_a15_report" -> {
      val allCols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      val numCols = Seq("c_custkey", "c_nationkey", "c_acctbal")
      val strCols = Seq("c_name", "c_mktsegment")
      def num(c: String, metric: String, e: String) =
        s"""SELECT '$c' AS "column", '$metric' AS metric, round(CAST(($e) AS DOUBLE),4) + 0.0 AS "value", CAST(NULL AS VARCHAR) AS value_str FROM customer"""
      def strAgg(c: String, metric: String, e: String) =
        s"""SELECT '$c' AS "column", '$metric' AS metric, CAST(NULL AS DOUBLE) AS "value", CAST(($e) AS VARCHAR) AS value_str FROM customer"""
      def strScalar(c: String, metric: String, e: String) =
        s"""SELECT '$c' AS "column", '$metric' AS metric, CAST(NULL AS DOUBLE) AS "value", CAST(($e) AS VARCHAR) AS value_str"""
      // literal metrics must NOT carry FROM customer — a non-aggregate
      // select over the table yields one row per customer row
      def numScalar(c: String, metric: String, e: String) =
        s"""SELECT '$c' AS "column", '$metric' AS metric, round(CAST(($e) AS DOUBLE),4) + 0.0 AS "value", CAST(NULL AS VARCHAR) AS value_str"""
      val shape = Seq(
        num("*", "row_count", "count(*)"),
        numScalar("*", "column_count", "5"),
        numScalar("*", "nominal_column_count", "2"),
        numScalar("*", "numeric_column_count", "3"))
      val nulls = allCols.flatMap(c => Seq(
        num(c, "non_null", s"count($c)"),
        num(c, "null_count", s"count(*)-count($c)"),
        num(c, "fill_pct", s"count($c)*100.0/count(*)")))
      val card = allCols.map(c => num(c, "distinct_cnt", s"count(DISTINCT $c)"))
      val numeric = numCols.flatMap { c =>
        val v = s"CAST($c AS DOUBLE)"
        Seq(
          num(c, "cnt", s"count($c)"),
          num(c, "mean", s"avg($v)"),
          num(c, "std", s"stddev_samp($v)"),
          num(c, "min", s"min($v)"),
          num(c, "q1", s"quantile_cont($v,0.25)"),
          num(c, "median", s"quantile_cont($v,0.5)"),
          num(c, "q3", s"quantile_cont($v,0.75)"),
          num(c, "max", s"max($v)"),
          num(c, "skewness",
            s"""(avg($v*$v*$v) - avg($v)*avg($v*$v)*3 + avg($v)*avg($v)*avg($v)*2)
               | / pow(avg($v*$v) - avg($v)*avg($v), 1.5)""".stripMargin),
          num(c, "kurtosis",
            s"""(avg($v*$v*$v*$v) - avg($v)*avg($v*$v*$v)*4 + avg($v)*avg($v)*avg($v*$v)*6
               |   - avg($v)*avg($v)*avg($v)*avg($v)*3)
               | / ((avg($v*$v) - avg($v)*avg($v)) * (avg($v*$v) - avg($v)*avg($v))) - 3""".stripMargin),
          num(c, "positive", s"count(CASE WHEN $v>0 THEN 1 END)"),
          num(c, "zero", s"count(CASE WHEN $v=0 THEN 1 END)"),
          num(c, "negative", s"count(CASE WHEN $v<0 THEN 1 END)"))
      }
      val corrs = for {
        (a, i) <- numCols.zipWithIndex; (b, j) <- numCols.zipWithIndex if i < j
      } yield num(a, s"pearson:$b", s"corr(CAST($a AS DOUBLE), CAST($b AS DOUBLE))")
      val strs = strCols.flatMap { c =>
        Seq(
          num(c, "min_len", s"min(length($c))"),
          num(c, "max_len", s"max(length($c))"),
          strScalar(c, "value_at_min_len",
            s"SELECT $c FROM customer WHERE length($c)=(SELECT min(length($c)) FROM customer) ORDER BY $c LIMIT 1"),
          strScalar(c, "value_at_max_len",
            s"SELECT $c FROM customer WHERE length($c)=(SELECT max(length($c)) FROM customer) ORDER BY $c LIMIT 1"),
          strAgg(c, "min_alpha", s"min($c)"),
          strAgg(c, "max_alpha", s"max($c)"))
      }
      (shape ++ nulls ++ card ++ numeric ++ corrs ++ strs)
        .mkString("", " UNION ALL ", """ ORDER BY "column", metric""")
    },

    // per-group report: every scalar metric recomputed per market
    // segment (the group column itself is excluded from profiling);
    // value-at-length extrema via a rank-1 window per group
    "q_a16_report_by" -> {
      val numCols = Seq("c_custkey", "c_nationkey", "c_acctbal")
      val allCols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal")
      val strCols = Seq("c_name")
      val g = """CAST(c_mktsegment AS VARCHAR) AS "group""""
      def num(c: String, metric: String, e: String) =
        s"""SELECT $g, '$c' AS "column", '$metric' AS metric, round(CAST(($e) AS DOUBLE),4) + 0.0 AS "value", CAST(NULL AS VARCHAR) AS value_str FROM customer GROUP BY c_mktsegment"""
      def strAgg(c: String, metric: String, e: String) =
        s"""SELECT $g, '$c' AS "column", '$metric' AS metric, CAST(NULL AS DOUBLE) AS "value", CAST(($e) AS VARCHAR) AS value_str FROM customer GROUP BY c_mktsegment"""
      def strAt(c: String, metric: String, dir: String) =
        s"""SELECT grp AS "group", '$c' AS "column", '$metric' AS metric, CAST(NULL AS DOUBLE) AS "value", CAST(v AS VARCHAR) AS value_str FROM (
           |  SELECT CAST(c_mktsegment AS VARCHAR) AS grp, $c AS v,
           |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY length($c) $dir, $c ASC) AS rn
           |  FROM customer WHERE $c IS NOT NULL) WHERE rn = 1""".stripMargin
      val shape = Seq(
        num("*", "row_count", "count(*)"),
        num("*", "column_count", "4"),
        num("*", "nominal_column_count", "1"),
        num("*", "numeric_column_count", "3"))
      val nulls = allCols.flatMap(c => Seq(
        num(c, "non_null", s"count($c)"),
        num(c, "null_count", s"count(*)-count($c)"),
        num(c, "fill_pct", s"count($c)*100.0/count(*)")))
      val card = allCols.map(c => num(c, "distinct_cnt", s"count(DISTINCT $c)"))
      val numeric = numCols.flatMap { c =>
        val v = s"CAST($c AS DOUBLE)"
        Seq(
          num(c, "cnt", s"count($c)"),
          num(c, "mean", s"avg($v)"),
          num(c, "std", s"stddev_samp($v)"),
          num(c, "min", s"min($v)"),
          num(c, "q1", s"quantile_cont($v,0.25)"),
          num(c, "median", s"quantile_cont($v,0.5)"),
          num(c, "q3", s"quantile_cont($v,0.75)"),
          num(c, "max", s"max($v)"),
          num(c, "skewness",
            s"""(avg($v*$v*$v) - avg($v)*avg($v*$v)*3 + avg($v)*avg($v)*avg($v)*2)
               | / pow(avg($v*$v) - avg($v)*avg($v), 1.5)""".stripMargin),
          num(c, "kurtosis",
            s"""(avg($v*$v*$v*$v) - avg($v)*avg($v*$v*$v)*4 + avg($v)*avg($v)*avg($v*$v)*6
               |   - avg($v)*avg($v)*avg($v)*avg($v)*3)
               | / ((avg($v*$v) - avg($v)*avg($v)) * (avg($v*$v) - avg($v)*avg($v))) - 3""".stripMargin),
          num(c, "positive", s"count(CASE WHEN $v>0 THEN 1 END)"),
          num(c, "zero", s"count(CASE WHEN $v=0 THEN 1 END)"),
          num(c, "negative", s"count(CASE WHEN $v<0 THEN 1 END)"))
      }
      val corrs = for {
        (a, i) <- numCols.zipWithIndex; (b, j) <- numCols.zipWithIndex if i < j
      } yield num(a, s"pearson:$b", s"corr(CAST($a AS DOUBLE), CAST($b AS DOUBLE))")
      val strs = strCols.flatMap { c =>
        Seq(
          num(c, "min_len", s"min(length($c))"),
          num(c, "max_len", s"max(length($c))"),
          strAt(c, "value_at_min_len", "ASC"),
          strAt(c, "value_at_max_len", "DESC"),
          strAgg(c, "min_alpha", s"min($c)"),
          strAgg(c, "max_alpha", s"max($c)"))
      }
      (shape ++ nulls ++ card ++ numeric ++ corrs ++ strs)
        .mkString("", " UNION ALL ", """ ORDER BY "group", "column", metric""")
    },

    // oracle computes plain full-set Jaccard with NO df-cap; the
    // query's dfCap = n-1 (candidate-generation skew guard) stays
    // exact because the corpus vocabulary is tiny (~31 words), so
    // every qualifying pair shares several sub-ubiquitous tokens and
    // survives candidate generation without the capped token — a
    // corpus ASSUMPTION: a generator change toward sparse vocabularies
    // would make the cap lossy and this oracle would catch it
    "q_d4b_jaccard_capped" ->
      """WITH docs AS (SELECT doc_id, list_distinct(regexp_split_to_array('common7 ' || text,' +')) AS ws
        | FROM documents WHERE doc_id%10=0)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | round(len(list_intersect(a.ws,b.ws))*1.0/(len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))),4) AS jaccard
        |FROM docs a JOIN docs b ON a.doc_id < b.doc_id
        |WHERE round(len(list_intersect(a.ws,b.ws))*1.0/(len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))),4) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    "q_b1_useless_rows" ->
      s"""WITH d AS ($doctoredEventsSql)
         |SELECT event_id, epoch_ns(ts) AS ts, user_id, event_type, value, props,
         | (CASE WHEN ts IS NULL THEN 1 ELSE 0 END
         | + CASE WHEN user_id IS NULL THEN 1 ELSE 0 END
         | + CASE WHEN event_id IS NULL THEN 1 ELSE 0 END
         | + CASE WHEN event_type IS NULL THEN 1 ELSE 0 END
         | + CASE WHEN value IS NULL THEN 1 ELSE 0 END
         | + CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS null_col_count
         |FROM d
         |WHERE (CASE WHEN ts IS NULL THEN 1 ELSE 0 END
         | + CASE WHEN user_id IS NULL THEN 1 ELSE 0 END
         | + CASE WHEN event_id IS NULL THEN 1 ELSE 0 END
         | + CASE WHEN event_type IS NULL THEN 1 ELSE 0 END
         | + CASE WHEN value IS NULL THEN 1 ELSE 0 END
         | + CASE WHEN props IS NULL THEN 1 ELSE 0 END) > 3
         |ORDER BY event_id""".stripMargin,

    "q_b2_dup_rows" ->
      """SELECT event_id, user_id, event_type, value, props, count(*) AS dup_count
        |FROM (SELECT event_id,user_id,event_type,value,props FROM events
        |      UNION ALL
        |      SELECT event_id,user_id,event_type,value,props FROM events WHERE event_type='click')
        |GROUP BY 1,2,3,4,5 HAVING count(*) > 1 ORDER BY event_id""".stripMargin,

    "q_b3_dup_by_key" ->
      """SELECT o_custkey, count(*) AS dup_count FROM orders
        |GROUP BY 1 HAVING count(*) > 1 ORDER BY dup_count DESC, o_custkey""".stripMargin,

    "q_b5_rule_numeric" ->
      """SELECT DISTINCT l_quantity AS value FROM lineitem
        |WHERE l_quantity IS NOT NULL AND NOT (l_quantity >= 5 AND l_quantity <= 45)
        |ORDER BY value""".stripMargin,

    "q_b6_rule_date" ->
      """SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS yr, count(*) AS cnt FROM orders
        |WHERE o_orderdate IS NOT NULL AND NOT (CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
        | AND CAST(o_orderdate AS DATE) <= DATE '1997-12-31')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_b7_rule_length" ->
      """SELECT count(CASE WHEN NOT (length(p_name) >= 10 AND length(p_name) <= 30) THEN 1 END) AS viol_cnt,
        | CAST(min(length(p_name)) AS INT) AS min_len, CAST(max(length(p_name)) AS INT) AS max_len FROM part""".stripMargin,

    "q_b8_rule_specchars" ->
      """SELECT
        | count(CASE WHEN regexp_matches(c_name, '[@_.,~`!#$%^&*()+={}\[\]|/:;"''<>?-]') THEN 1 END) AS viol_all,
        | count(CASE WHEN regexp_matches(c_name, '[@_.,~`!$%^&*()+={}\[\]|/:;"''<>?-]') THEN 1 END) AS viol_excl
        |FROM customer""".stripMargin,

    "q_b10_rule_combo" ->
      """SELECT
        | count(CASE WHEN regexp_matches(o_orderpriority,'[0-9]') THEN 1 END) AS digit_viol,
        | count(CASE WHEN strpos(o_orderpriority,' ') > 0 THEN 1 END) AS space_viol,
        | count(CASE WHEN o_orderpriority IN ('3-MEDIUM') THEN 1 END) AS deny_viol,
        | count(CASE WHEN regexp_matches(o_orderpriority,'[0-9]') OR strpos(o_orderpriority,' ') > 0
        |   OR o_orderpriority IN ('3-MEDIUM') THEN 1 END) AS any_viol
        |FROM orders""".stripMargin,

    "q_b11_email" ->
      s"""WITH e AS ($emailSql)
         |SELECT NOT $emailViolationSql AS email_valid, count(*) AS cnt
         |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_b12_tckn" ->
      """WITH t AS (SELECT CAST(10000000000 + c_custkey*7919 AS VARCHAR) AS s FROM customer),
        |d AS (SELECT s,
        | CAST(substr(s,1,1) AS INT) AS d1, CAST(substr(s,2,1) AS INT) AS d2,
        | CAST(substr(s,3,1) AS INT) AS d3, CAST(substr(s,4,1) AS INT) AS d4,
        | CAST(substr(s,5,1) AS INT) AS d5, CAST(substr(s,6,1) AS INT) AS d6,
        | CAST(substr(s,7,1) AS INT) AS d7, CAST(substr(s,8,1) AS INT) AS d8,
        | CAST(substr(s,9,1) AS INT) AS d9, CAST(substr(s,10,1) AS INT) AS d10,
        | CAST(substr(s,11,1) AS INT) AS d11 FROM t)
        |SELECT (((7*(d1+d3+d5+d7+d9)-(d2+d4+d6+d8)) % 10 + 10) % 10 = d10
        |  AND (d1+d2+d3+d4+d5+d6+d7+d8+d9+d10) % 10 = d11) AS tckn_valid,
        | count(*) AS cnt
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    // Luhn re-derived per digit over the reversed string; IBAN via
    // letter→two-digit expansion then a left-to-right mod-97 fold
    // (list_reduce's first element seeds the accumulator — a single
    // digit < 97, so the seed IS the correct first remainder)
    "q_b18_intl_checksums" ->
      """WITH c AS (SELECT c_custkey,
        |  CASE WHEN c_custkey % 13 = 0 THEN 'ABCD' || lpad(CAST(c_custkey AS VARCHAR), 12, '0')
        |       WHEN c_custkey % 11 = 0 THEN lpad(CAST(c_custkey AS VARCHAR), 8, '0')
        |       ELSE lpad(CAST((c_custkey * 7919383 + 1234567890123) % 10000000000000000 AS VARCHAR), 16, '0') END AS card,
        |  (CASE WHEN c_custkey % 17 = 0 THEN 'tr' ELSE 'TR' END)
        |    || lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0')
        |    || lpad(CAST((c_custkey * 37 + 11) % 100000000000000 AS VARCHAR), 14, '0') AS iban
        |  FROM customer)
        |SELECT c_custkey, card,
        |  (regexp_matches(card, '^[0-9]{12,19}$') AND
        |   list_sum(list_transform(range(1, length(card) + 1), i ->
        |     CASE WHEN i % 2 = 0 THEN
        |       CASE WHEN 2*TRY_CAST(substr(reverse(card), CAST(i AS INT), 1) AS INT) > 9
        |         THEN 2*TRY_CAST(substr(reverse(card), CAST(i AS INT), 1) AS INT) - 9
        |         ELSE 2*TRY_CAST(substr(reverse(card), CAST(i AS INT), 1) AS INT) END
        |     ELSE TRY_CAST(substr(reverse(card), CAST(i AS INT), 1) AS INT) END)) % 10 = 0) AS card_valid,
        |  iban,
        |  (regexp_matches(iban, '^[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}$') AND
        |   list_reduce(list_transform(string_split(
        |     list_aggregate(list_transform(string_split(substr(iban, 5) || substr(iban, 1, 4), ''),
        |       ch -> CASE WHEN ch BETWEEN '0' AND '9' THEN ch ELSE CAST(ascii(ch) - 55 AS VARCHAR) END),
        |       'string_agg', ''), ''), ch -> TRY_CAST(ch AS BIGINT)),
        |     (a, x) -> (a * 10 + x) % 97) = 1) AS iban_valid
        |FROM c ORDER BY c_custkey""".stripMargin,

    // row rules re-derived with IS TRUE / IS FALSE three-valued logic
    // and IS NOT DISTINCT FROM for the null-safe match
    "q_b21_row_rules" -> {
      def pct(viol: String) =
        s"((2*$viol*10000 + greatest(count(*),1)) // (2*greatest(count(*),1))) / 100.0"
      val r1 = "count(CASE WHEN lo > hi THEN 1 END)"
      val r2 = "count(CASE WHEN (o_orderstatus = 'O') IS TRUE AND (o_totalprice > 1000) IS FALSE THEN 1 END)"
      val r3 = "count(CASE WHEN ca IS NULL AND cb IS NULL THEN 1 END)"
      val r4 = "count(CASE WHEN NOT (o_custkey IS NOT DISTINCT FROM ck2) THEN 1 END)"
      s"""WITH d AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         |  date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS lo
         |  FROM orders),
         |d2 AS (SELECT *, lo + (o_orderkey % 5) - 1 AS hi,
         |  CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE 'a' END AS ca,
         |  CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE 'b' END AS cb,
         |  CASE WHEN o_orderkey % 31 = 0 THEN o_custkey + 1 ELSE o_custkey END AS ck2
         |  FROM d)
         |SELECT 'r1_ordered' AS rule, $r1 AS violations, count(*) AS total,
         |  ${pct(r1)} AS violation_pct FROM d2
         |UNION ALL SELECT 'r2_open_price', $r2, count(*), ${pct(r2)} FROM d2
         |UNION ALL SELECT 'r3_contact', $r3, count(*), ${pct(r3)} FROM d2
         |UNION ALL SELECT 'r4_key_match', $r4, count(*), ${pct(r4)} FROM d2
         |ORDER BY rule""".stripMargin
    },

    // FK audit re-derived: same doctoring, NOT-IN membership, tie-safe
    // integer coverage rounding
    "q_b19_ref_integrity" ->
      """WITH o AS (SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 53 = 0 THEN NULL
        |       WHEN o_orderkey % 37 = 0 THEN o_custkey + 10000000
        |       ELSE o_custkey END AS fk FROM orders),
        |r1 AS (SELECT 'orders->customer' AS relationship,
        |  count(*) AS child_rows,
        |  count(*) FILTER (WHERE fk IS NULL) AS null_fk_rows,
        |  count(*) FILTER (WHERE fk IS NOT NULL
        |    AND fk NOT IN (SELECT c_custkey FROM customer)) AS orphan_rows,
        |  count(DISTINCT fk) FILTER (WHERE fk IS NOT NULL
        |    AND fk NOT IN (SELECT c_custkey FROM customer)) AS orphan_keys
        |  FROM o),
        |r2 AS (SELECT 'lineitem->orders' AS relationship,
        |  count(*) AS child_rows,
        |  count(*) FILTER (WHERE l_orderkey IS NULL) AS null_fk_rows,
        |  count(*) FILTER (WHERE l_orderkey IS NOT NULL
        |    AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS orphan_rows,
        |  count(DISTINCT l_orderkey) FILTER (WHERE l_orderkey IS NOT NULL
        |    AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS orphan_keys
        |  FROM lineitem)
        |SELECT relationship, child_rows, null_fk_rows, orphan_rows, orphan_keys,
        |  ((2*(child_rows-null_fk_rows-orphan_rows)*10000 + greatest(child_rows,1))
        |    // (2*greatest(child_rows,1))) / 100.0 AS coverage_pct
        |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
        |ORDER BY relationship""".stripMargin,

    // Benford re-derived: decimal-string first significant digit (the
    // same engine-stable DECIMAL(18,2) cast), integer-space observed
    // shares, literal micro expectation table
    "q_b20_benford" ->
      """WITH v AS (SELECT substr(regexp_replace(
        |    CAST(CAST(abs(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
        |    '[^1-9]', '', 'g'), 1, 1) AS ds
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL AND abs(o_totalprice) >= 0.005),
        |g AS (SELECT CAST(ds AS INT) AS digit, count(*) AS obs_cnt FROM v
        |  WHERE ds <> '' GROUP BY 1),
        |n AS (SELECT sum(obs_cnt) AS n FROM g),
        |e AS (SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
        |  (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
        |  (9, 45757)) AS t(digit, exp_micro))
        |SELECT g.digit, obs_cnt,
        |  CAST((2*obs_cnt*1000000 + n) // (2*n) AS BIGINT) AS obs_micro,
        |  CAST(exp_micro AS BIGINT) AS exp_micro,
        |  CAST(abs((2*obs_cnt*1000000 + n) // (2*n) - exp_micro) AS BIGINT)
        |    AS dev_micro
        |FROM g JOIN e ON g.digit = e.digit CROSS JOIN n
        |ORDER BY g.digit""".stripMargin,

    "q_b13_taxnum" -> {
      val terms = (0 to 8).map { x =>
        val p = 1 << (9 - x)
        s"""(CASE WHEN (d${x + 1}+${9 - x})%10 <> 0 AND ((d${x + 1}+${9 - x})%10)*$p%9 = 0 THEN 9
           | ELSE ((d${x + 1}+${9 - x})%10)*$p%9 END)""".stripMargin
      }.mkString(" + ")
      s"""WITH t AS (SELECT CAST(1000000000 + s_suppkey*104729 AS VARCHAR) AS s FROM supplier),
         |d AS (SELECT s,
         | CAST(substr(s,1,1) AS INT) AS d1, CAST(substr(s,2,1) AS INT) AS d2,
         | CAST(substr(s,3,1) AS INT) AS d3, CAST(substr(s,4,1) AS INT) AS d4,
         | CAST(substr(s,5,1) AS INT) AS d5, CAST(substr(s,6,1) AS INT) AS d6,
         | CAST(substr(s,7,1) AS INT) AS d7, CAST(substr(s,8,1) AS INT) AS d8,
         | CAST(substr(s,9,1) AS INT) AS d9, CAST(substr(s,10,1) AS INT) AS d10 FROM t)
         |SELECT ((10 - ($terms) % 10) % 10 = d10) AS tax_valid, count(*) AS cnt
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q_b14_domain" ->
      """SELECT n_name, n_name IN ('BRAZIL','CANADA','CHINA','FRANCE','GERMANY','INDIA','JAPAN','RUSSIA','UNITED KINGDOM','UNITED STATES') AS in_domain
        |FROM nation ORDER BY n_name""".stripMargin,

    "q_b15_phone" ->
      s"""WITH p AS ($trPhoneSql)
         |SELECT COALESCE($trPhoneClassCaseSql, 'ok') AS phone_class,
         | (phone IS NOT NULL AND regexp_matches(phone, '^[1-9][0-9]{9}$$')
         |  AND NOT regexp_matches(phone, '${Validators.phoneDummyPattern}')) AS phone_valid,
         | count(*) AS cnt
         |FROM p GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q_b16_dq_score" ->
      s"""WITH d AS ($doctoredEventsSql)
         |SELECT 'value' AS "column",
         | count(CASE WHEN value IS NULL THEN 1 END) AS null_records,
         | count(CASE WHEN value IS NOT NULL AND NOT (value >= 10 AND value <= 90) THEN 1 END) AS out_of_format_records,
         | count(*) - count(CASE WHEN value IS NULL THEN 1 END)
         |   - count(CASE WHEN value IS NOT NULL AND NOT (value >= 10 AND value <= 90) THEN 1 END) AS proper_format_records,
         | round((count(*) - count(CASE WHEN value IS NULL THEN 1 END)
         |   - count(CASE WHEN value IS NOT NULL AND NOT (value >= 10 AND value <= 90) THEN 1 END))*100.0/count(*),2) AS dq_score,
         | CASE WHEN (count(*) - count(CASE WHEN value IS NULL THEN 1 END)
         |   - count(CASE WHEN value IS NOT NULL AND NOT (value >= 10 AND value <= 90) THEN 1 END))*100.0/count(*) <= 25 THEN 'VERY LOW'
         |  WHEN (count(*) - count(CASE WHEN value IS NULL THEN 1 END)
         |   - count(CASE WHEN value IS NOT NULL AND NOT (value >= 10 AND value <= 90) THEN 1 END))*100.0/count(*) <= 50 THEN 'LOW'
         |  WHEN (count(*) - count(CASE WHEN value IS NULL THEN 1 END)
         |   - count(CASE WHEN value IS NOT NULL AND NOT (value >= 10 AND value <= 90) THEN 1 END))*100.0/count(*) <= 75 THEN 'MEDIUM'
         |  ELSE 'HIGH' END AS dq_band
         |FROM d""".stripMargin,

    "q_b17_dq_summary" ->
      s"""WITH d AS ($doctoredEventsSql),
         |aft AS (SELECT event_id, ts, user_id, event_type,
         |  least(greatest(coalesce(value, 50.0), 10.0), 90.0) AS value,
         |  replace(coalesce(props,'{}'),' ','') AS props FROM d),
         |bs AS (
         |  SELECT 'props' AS "column", round((count(*) - count(CASE WHEN props IS NULL THEN 1 END)
         |    - count(CASE WHEN props IS NOT NULL AND strpos(props,' ') > 0 THEN 1 END))*100.0/count(*),2) AS before_score FROM d
         |  UNION ALL
         |  SELECT 'value', round((count(*) - count(CASE WHEN value IS NULL THEN 1 END)
         |    - count(CASE WHEN value IS NOT NULL AND NOT (value >= 10 AND value <= 90) THEN 1 END))*100.0/count(*),2) FROM d),
         |as_ AS (
         |  SELECT 'props' AS "column", round((count(*) - count(CASE WHEN props IS NULL THEN 1 END)
         |    - count(CASE WHEN props IS NOT NULL AND strpos(props,' ') > 0 THEN 1 END))*100.0/count(*),2) AS after_score FROM aft
         |  UNION ALL
         |  SELECT 'value', round((count(*) - count(CASE WHEN value IS NULL THEN 1 END)
         |    - count(CASE WHEN value IS NOT NULL AND NOT (value >= 10 AND value <= 90) THEN 1 END))*100.0/count(*),2) FROM aft)
         |SELECT bs."column" AS "column", bs.before_score, as_.after_score,
         | round(as_.after_score - bs.before_score, 2) AS delta
         |FROM bs JOIN as_ ON bs."column" = as_."column" ORDER BY "column"""".stripMargin,

    "q_c1_search" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE value >= 50.0 AND value <= 60.0 AND event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    "q_c1b_index_search" ->
      """SELECT n_nationkey, n_name, CAST(row_number() OVER (ORDER BY n_name) - 1 AS INT) AS row_index
        |FROM nation QUALIFY row_index BETWEEN 5 AND 7 ORDER BY row_index""".stripMargin,

    "q_c18_json_extract" ->
      """SELECT CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT) AS k, count(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // latest-wins re-derived as the window formulation: rank by the
    // SAME total order Spark's max(struct) compares (version cols then
    // remaining payload in frame order), keep rn=1, drop winner deletes
    // same construction + validation regex + rewrite chain; percent
    // scales via exact decimal multiplication, micro via integer ops
    "q_c26_localized_num" ->
      """WITH o AS (SELECT o_orderkey,
        |  CAST(o_orderkey % 900 + 100 AS VARCHAR) AS k1,
        |  lpad(CAST(o_orderkey % 1000 AS VARCHAR), 3, '0') AS k2,
        |  lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0') AS k3
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |d AS (SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 8 = 0 THEN k1 || '.' || k2 || ',' || k3
        |       WHEN o_orderkey % 8 = 2 THEN k3 || ',5%'
        |       WHEN o_orderkey % 8 = 4 THEN '1.23,' || k3
        |       ELSE k2 || ',' || k3 END AS raw FROM o),
        |p AS (SELECT o_orderkey, raw,
        |  regexp_matches(trim(raw),
        |    '^[+-]?([0-9]{1,3}(\.[0-9]{3})*|[0-9]+)(,[0-9]+)?%?$') AS valid,
        |  CAST(replace(replace(regexp_replace(trim(raw), '%$', ''),
        |    '.', ''), ',', '.') AS DECIMAL(28,8)) AS v,
        |  regexp_matches(trim(raw), '%$') AS ispct
        |  FROM d)
        |SELECT o_orderkey, raw, valid,
        |  CASE WHEN NOT valid THEN NULL
        |       WHEN ispct THEN CAST(v * CAST(0.01 AS DECIMAL(3,2))
        |         * 1000000 AS BIGINT)
        |       ELSE CAST(v * 1000000 AS BIGINT) END AS value_micro
        |FROM p ORDER BY o_orderkey""".stripMargin,

    // the same render→first-match-parse chain via strftime /
    // try_strptime; the five patterns are mutually exclusive by
    // separator, so first-match is order-independent here
    "q_c25_date_parse" ->
      """WITH r AS (SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 17 = 0 THEN 'not-a-date'
        |       WHEN o_orderkey % 5 = 0 THEN strftime(o_orderdate, '%Y-%m-%d')
        |       WHEN o_orderkey % 5 = 1 THEN strftime(o_orderdate, '%d/%m/%Y')
        |       WHEN o_orderkey % 5 = 2 THEN strftime(o_orderdate, '%m-%d-%Y')
        |       WHEN o_orderkey % 5 = 3 THEN strftime(o_orderdate, '%Y%m%d')
        |       ELSE strftime(o_orderdate, '%d.%m.%Y') END AS raw
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |p AS (SELECT o_orderkey, raw,
        |  COALESCE(try_strptime(raw, '%Y-%m-%d'), try_strptime(raw, '%d/%m/%Y'),
        |    try_strptime(raw, '%m-%d-%Y'), try_strptime(raw, '%Y%m%d'),
        |    try_strptime(raw, '%d.%m.%Y')) AS ts,
        |  CASE WHEN try_strptime(raw, '%Y-%m-%d') IS NOT NULL THEN 'yyyy-MM-dd'
        |       WHEN try_strptime(raw, '%d/%m/%Y') IS NOT NULL THEN 'dd/MM/yyyy'
        |       WHEN try_strptime(raw, '%m-%d-%Y') IS NOT NULL THEN 'MM-dd-yyyy'
        |       WHEN try_strptime(raw, '%Y%m%d') IS NOT NULL THEN 'yyyyMMdd'
        |       WHEN try_strptime(raw, '%d.%m.%Y') IS NOT NULL THEN 'dd.MM.yyyy'
        |       END AS fmt FROM r)
        |SELECT o_orderkey, raw,
        |  CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS INT)
        |    AS epoch_day, fmt
        |FROM p ORDER BY o_orderkey""".stripMargin,

    "q_c22_merge" ->
      """WITH c AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us,
        |  event_id, value,
        |  CASE WHEN value > 100.0 THEN 'D' ELSE 'U' END AS op FROM events),
        |w AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |  ORDER BY ts_us DESC, event_id DESC, value DESC, op DESC) AS rn FROM c)
        |SELECT user_id, event_type, ts_us, event_id, value, op
        |FROM w WHERE rn = 1 AND op <> 'D'
        |ORDER BY user_id, event_type""".stripMargin,

    "q_c19_salted_count" ->
      """SELECT event_type, count(*) AS cnt FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_c2_drop" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE NOT (event_type = 'error') ORDER BY event_id""".stripMargin,

    "q_c3_edit_value" ->
      """SELECT CASE WHEN o_orderstatus='P' THEN 'PENDING' ELSE o_orderstatus END AS o_orderstatus,
        | CASE WHEN o_orderpriority='5-LOW' THEN NULL ELSE o_orderpriority END AS o_orderpriority,
        | count(*) AS cnt
        |FROM orders GROUP BY 1,2
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q_c5_case" ->
      """SELECT DISTINCT c_mktsegment AS orig,
        | upper(substr(lower(c_mktsegment),1,1)) || substr(lower(c_mktsegment),2) AS title_seg,
        | lower(c_mktsegment) AS lower_seg, upper(c_mktsegment) AS upper_seg
        |FROM customer ORDER BY orig""".stripMargin,

    "q_c6_whitespace" ->
      """SELECT seg, replace(trim(regexp_replace(messy,' +',' ','g')),'ING','_') AS cleaned
        |FROM (SELECT DISTINCT c_mktsegment AS seg,
        |  '  ' || c_mktsegment || '   ' || c_mktsegment || ' ' AS messy FROM customer)
        |ORDER BY seg""".stripMargin,

    "q_c8_phone_norm" ->
      s"""SELECT c_custkey,
         | CASE WHEN length(regexp_replace($phoneBaseSql,'[^0-9]','','g')) >= 10
         |  THEN right(regexp_replace($phoneBaseSql,'[^0-9]','','g'),10)
         |  ELSE regexp_replace($phoneBaseSql,'[^0-9]','','g') END AS phone_norm
         |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_c9_cast" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_date_str,
        | CAST(l_quantity AS INT) AS qty_int,
        | CAST(l_orderkey AS VARCHAR) AS okey_str
        |FROM lineitem WHERE l_orderkey < 1000 ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_c10_date_parts" ->
      """SELECT o_orderkey,
        | CAST(dayofmonth(CAST(o_orderdate AS DATE)) AS INT) AS od_day,
        | dayname(CAST(o_orderdate AS DATE)) AS od_weekday,
        | CAST(month(CAST(o_orderdate AS DATE)) AS INT) AS od_month,
        | CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS od_year,
        | CAST(quarter(CAST(o_orderdate AS DATE)) AS INT) AS od_quarter,
        | CAST(weekofyear(CAST(o_orderdate AS DATE)) AS INT) AS od_weekofyear
        |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin,

    "q_c11_age" ->
      """SELECT CAST(floor(date_diff('day', CAST(o_orderdate AS DATE), DATE '2026-01-01')/365.25) AS INT) AS age,
        | count(*) AS cnt
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_c12_gender" ->
      """WITH named AS (SELECT list_value('Ahmet','Ayşe','Mehmet','Fatma','Mustafa','Zeynep','Ali','Elif')[CAST(c_custkey%8+1 AS INT)] AS name FROM customer),
        |dim AS (SELECT * FROM (VALUES ('Ahmet','E'),('Mehmet','E'),('Mustafa','E'),('Ali','E'),
        | ('Ayşe','K'),('Fatma','K'),('Zeynep','K'),('Elif','K')) AS t(name, gender))
        |SELECT dim.gender AS gender, count(*) AS cnt
        |FROM named LEFT JOIN dim ON named.name = dim.name
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // geo broadcast-lookup dim mirrored as VALUES (same seed as
    // Enrich.defaultGeoSeed)
    "q_c13_geo" ->
      """WITH named AS (SELECT list_value('İstanbul','Ankara','İzmir','Nowhere')[CAST(c_custkey%4+1 AS INT)] AS city FROM customer),
        |dim AS (SELECT * FROM (VALUES ('İstanbul',41.0082,28.9784),('Ankara',39.9334,32.8597),
        |  ('İzmir',38.4192,27.1287),('Bursa',40.1885,29.0610),('Antalya',36.8969,30.7133),
        |  ('Adana',37.0000,35.3213),('Konya',37.8667,32.4833),('Gaziantep',37.0662,37.3833),
        |  ('Kayseri',38.7312,35.4787),('Mersin',36.8000,34.6333)) AS t(city, latitude, longitude))
        |SELECT named.city AS city, count(dim.latitude) AS with_geo, count(*) AS cnt
        |FROM named LEFT JOIN dim ON named.city = dim.city
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // full tf-idf char-3-gram cosine recomputed in SQL (same gram
    // extraction: lowercase, collapse whitespace, substr windows with
    // a 1-gram floor for short strings; idf = ln(N/df); similarity
    // rounded to 4 dp on both sides)
    "q_b4_string_sim" ->
      """WITH corpus AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS id, n_name AS s FROM nation
        |  UNION ALL
        |  SELECT CAST(n_nationkey + 100 AS BIGINT) AS id, n_name || ' X' AS s FROM nation),
        |norm_s AS (SELECT id, regexp_replace(lower(s), '\s+', ' ', 'g') AS s FROM corpus),
        |grams_raw AS (SELECT id, s, unnest(range(1, greatest(length(s) - 2, 1) + 1)) AS i FROM norm_s),
        |grams AS (SELECT id, substr(s, CAST(i AS INT), 3) AS gram, count(*) AS tf FROM grams_raw GROUP BY 1, 2),
        |df_t AS (SELECT gram, count(*) AS df_ FROM grams GROUP BY 1),
        |w AS (SELECT g.id, g.gram, g.tf * ln((SELECT count(*) FROM norm_s) * 1.0 / d.df_) AS w
        |      FROM grams g JOIN df_t d USING (gram)),
        |norms AS (SELECT id, sqrt(sum(w*w)) AS norm FROM w GROUP BY 1),
        |dots AS (SELECT a.id AS id_a, b.id AS id_b, sum(a.w * b.w) AS dot
        |         FROM w a JOIN w b ON a.gram = b.gram AND a.id < b.id
        |         GROUP BY 1, 2)
        |SELECT id_a, id_b, round(dot / (na.norm * nb.norm), 4) AS similarity
        |FROM dots JOIN norms na ON dots.id_a = na.id JOIN norms nb ON dots.id_b = nb.id
        |WHERE round(dot / (na.norm * nb.norm), 4) >= 0.52
        |ORDER BY id_a, id_b""".stripMargin,

    "q_c14_sort" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q_c15_reorder" ->
      """SELECT c_mktsegment, c_name, c_custkey FROM customer
        |WHERE c_custkey <= 50 ORDER BY c_custkey""".stripMargin,

    "q_c16_fillna" ->
      s"""WITH d AS ($doctoredEventsSql)
         |SELECT round(avg(coalesce(value, 0.0)), 2) AS avg_fill_zero,
         | round(avg(coalesce(value, (SELECT round(avg(value),4) FROM d))), 2) AS avg_fill_mean,
         | count(CASE WHEN value IS NULL THEN 1 END) AS filled_cnt
         |FROM d""".stripMargin,

    // both sink gates grade the PHYSICAL layout the query just
    // wrote: DuckDB re-lists the same files, reconstructs the
    // partition value from the directory name (hive_partitioning) /
    // the bucket id from the writer's _NNNNN.c suffix, and must land
    // on identical per-partition row and file counts
    "q_c17_partitioned_sink" ->
      """SELECT o_orderpriority, count(*) AS rows,
        |  count(DISTINCT filename) AS n_files
        |FROM read_parquet('/tmp/graft_gate/c17_partitioned/*/*.parquet',
        |                  hive_partitioning=1, filename=1)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_c21_bucketed_layout" ->
      """SELECT CAST(regexp_extract(filename, '_([0-9]{5})\.c', 1) AS INT) AS bucket,
        |  count(*) AS rows, count(DISTINCT filename) AS n_files
        |FROM read_parquet('/tmp/graft_gate/c21_bucketed/*.parquet', filename=1)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the Avro hop never touches the oracle: everything re-derives
    // from the original parquet, so MATCH certifies byte fidelity
    // through the container format
    "q_c32_avro_roundtrip" ->
      """SELECT doc_id, text, lang, n_chars,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  text AS raw_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    // nested Avro: the flattened projection re-derived from the
    // ORIGINAL parquet, incl. the doctored null-struct branch
    "q_c32b_avro_nested" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL ELSE n_chars END AS n_chars,
        |  CAST(length(text) AS BIGINT) AS len,
        |  CAST(doc_id % 9 AS BIGINT) AS id9,
        |  source AS src
        |FROM documents ORDER BY doc_id""".stripMargin,

    // partitioned compaction: per-lang rows, the ceil(rows_p/200)
    // per-partition file arithmetic, and the per-lang content XOR
    // from the portable md5-nibble fold
    "q_c30b_compact_partitioned" ->
      """WITH h AS (SELECT lang, list_reduce(list_transform(range(1, 16),
        |    i -> strpos('0123456789abcdef', substr(md5(
        |      CAST(doc_id AS VARCHAR) || '|' || coalesce(text, '')),
        |      CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) AS hh FROM documents)
        |SELECT lang, count(*) AS rows,
        |  CAST((count(*) + 199) // 200 AS BIGINT) AS n_files,
        |  CAST(bit_xor(hh) AS BIGINT) AS content_xor
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,

    // live compaction: data claims (row count, content XOR, the
    // ceil(n/200) output file count) re-derived from the ORIGINAL
    // parquet; the two reader censuses MUST be identical — the
    // isolation certs are pinned 1-literals the Spark side computes
    // from the resolved snapshots (file-set disjointness, v0 files
    // alive, exactly 2 committed versions, 10 v0 files)
    "q_c30c_live_compaction" ->
      """WITH n AS (SELECT count(*) AS n FROM documents),
        |h AS (SELECT list_reduce(list_transform(range(1, 16),
        |    i -> strpos('0123456789abcdef', substr(md5(
        |      CAST(doc_id AS VARCHAR) || '|' || coalesce(text, '')),
        |      CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) AS hh FROM documents)
        |SELECT * FROM (
        |  SELECT 'cert_disjoint_filesets' AS metric, CAST(1 AS BIGINT) AS value
        |  UNION ALL SELECT 'cert_old_files_alive', 1
        |  UNION ALL SELECT 'files_new', CAST((n + 199) // 200 AS BIGINT) FROM n
        |  UNION ALL SELECT 'files_old', 10
        |  UNION ALL SELECT 'rows_new_reader', CAST(n AS BIGINT) FROM n
        |  UNION ALL SELECT 'rows_old_reader', CAST(n AS BIGINT) FROM n
        |  UNION ALL SELECT 'versions', 2
        |  UNION ALL SELECT 'xor_new_reader', CAST(bit_xor(hh) AS BIGINT) FROM h
        |  UNION ALL SELECT 'xor_old_reader', CAST(bit_xor(hh) AS BIGINT) FROM h)
        |ORDER BY metric""".stripMargin,

    // data skipping: the filtered census from the ORIGINAL parquet —
    // identical through the pruned read path or skipping lost rows;
    // cert_skipped is the Spark-computed fewer-files-opened claim
    "q_c30d_data_skipping" ->
      """WITH fin AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id BETWEEN 100 AND 300),
        |h AS (SELECT list_reduce(list_transform(range(1, 16),
        |    i -> strpos('0123456789abcdef', substr(md5(
        |      CAST(doc_id AS VARCHAR) || '|' || coalesce(text, '')),
        |      CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) AS hh FROM fin),
        |finS AS (SELECT doc_id, lang FROM documents
        |  WHERE lang BETWEEN 'de' AND 'en'),
        |hS AS (SELECT list_reduce(list_transform(range(1, 16),
        |    i -> strpos('0123456789abcdef', substr(md5(
        |      CAST(doc_id AS VARCHAR) || '|' || coalesce(lang, '')),
        |      CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) AS hh FROM finS),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT * FROM (
        |  SELECT 'cert_skipped' AS metric, CAST(1 AS BIGINT) AS value
        |  UNION ALL SELECT 'cert_skipped_str', 1
        |  UNION ALL SELECT 'files_total', CAST((n + 199) // 200 AS BIGINT) FROM n
        |  UNION ALL SELECT 'files_total_str', CAST((n + 199) // 200 AS BIGINT) FROM n
        |  UNION ALL SELECT 'rows_pruned', (SELECT CAST(count(*) AS BIGINT) FROM fin)
        |  UNION ALL SELECT 'rows_pruned_str',
        |    (SELECT CAST(count(*) AS BIGINT) FROM finS)
        |  UNION ALL SELECT 'xor_pruned',
        |    coalesce((SELECT CAST(bit_xor(hh) AS BIGINT) FROM h), 0)
        |  UNION ALL SELECT 'xor_pruned_str',
        |    coalesce((SELECT CAST(bit_xor(hh) AS BIGINT) FROM hS), 0))
        |ORDER BY metric""".stripMargin,

    // C30e: the surviving census from the ORIGINAL parquet — a delete
    // that lost or resurrected rows hash-fails; the rewrite-economics
    // certs are Spark-computed path-identity claims
    "q_c30e_cow_delete" ->
      """WITH fin AS (SELECT doc_id, text FROM documents
        |  WHERE NOT (doc_id BETWEEN 10 AND 40)),
        |h AS (SELECT list_reduce(list_transform(range(1, 16),
        |    i -> strpos('0123456789abcdef', substr(md5(
        |      CAST(doc_id AS VARCHAR) || '|' || coalesce(text, '')),
        |      CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) AS hh FROM fin)
        |SELECT * FROM (
        |  SELECT 'cert_rewrite_bounded' AS metric, CAST(1 AS BIGINT) AS value
        |  UNION ALL SELECT 'cert_touched_dropped', 1
        |  UNION ALL SELECT 'cert_untouched_carried', 1
        |  UNION ALL SELECT 'rows_after', (SELECT CAST(count(*) AS BIGINT) FROM fin)
        |  UNION ALL SELECT 'versions', 3
        |  UNION ALL SELECT 'xor_after',
        |    coalesce((SELECT CAST(bit_xor(hh) AS BIGINT) FROM h), 0))
        |ORDER BY metric""".stripMargin,

    // C30f: post-update census re-derived — a lost row, a rewritten
    // non-matching row, or an unapplied update all hash-fail
    "q_c30f_cow_update" ->
      """WITH fin AS (SELECT doc_id,
        |  CASE WHEN doc_id BETWEEN 10 AND 40 THEN text || ' [upd]'
        |       ELSE text END AS text
        |  FROM documents),
        |h AS (SELECT list_reduce(list_transform(range(1, 16),
        |    i -> strpos('0123456789abcdef', substr(md5(
        |      CAST(doc_id AS VARCHAR) || '|' || coalesce(text, '')),
        |      CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) AS hh FROM fin)
        |SELECT * FROM (
        |  SELECT 'cert_untouched_carried' AS metric, CAST(1 AS BIGINT) AS value
        |  UNION ALL SELECT 'rows_after', (SELECT CAST(count(*) AS BIGINT) FROM fin)
        |  UNION ALL SELECT 'versions', 3
        |  UNION ALL SELECT 'xor_after', (SELECT CAST(bit_xor(hh) AS BIGINT) FROM h))
        |ORDER BY metric""".stripMargin,

    // C30g: the full-table census must be byte-identical through a
    // one-partition compaction (no row may move or change), the de
    // file count is the C30b ceil arithmetic over the de class, and
    // the path-identity certs are Spark-computed claims
    "q_c30g_partitioned_compaction" ->
      """WITH h AS (SELECT list_reduce(list_transform(range(1, 16),
        |    i -> strpos('0123456789abcdef', substr(md5(
        |      CAST(doc_id AS VARCHAR) || '|' || coalesce(text, '') || '|'
        |        || coalesce(lang, '')),
        |      CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) AS hh FROM documents),
        |nde AS (SELECT count(*) AS n FROM documents WHERE lang = 'de')
        |SELECT * FROM (
        |  SELECT 'cert_de_dropped' AS metric, CAST(1 AS BIGINT) AS value
        |  UNION ALL SELECT 'cert_other_carried', 1
        |  UNION ALL SELECT 'files_de_after',
        |    CAST((n + 99) // 100 AS BIGINT) FROM nde
        |  UNION ALL SELECT 'rows_after',
        |    (SELECT CAST(count(*) AS BIGINT) FROM documents)
        |  UNION ALL SELECT 'versions', 2
        |  UNION ALL SELECT 'xor_after',
        |    coalesce((SELECT CAST(bit_xor(hh) AS BIGINT) FROM h), 0))
        |ORDER BY metric""".stripMargin,

    // C30h: the post-merge table derived one-shot — updates on
    // [10,40] at version 2, deletes on [41,45], originals elsewhere,
    // plus the %7 class re-keyed +1e9 as inserts; version rides in
    // the hash so a wrong winning version hash-fails. The
    // rewrite-economics certs are Spark-computed path-identity claims
    "q_c30h_merge_into" ->
      """WITH fin AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id BETWEEN 10 AND 40 THEN text || ' [m]'
        |         ELSE text END AS text,
        |    CASE WHEN doc_id BETWEEN 10 AND 40 THEN 2 ELSE 1 END AS version
        |  FROM documents WHERE NOT (doc_id BETWEEN 41 AND 45)
        |  UNION ALL
        |  SELECT doc_id + 1000000000, text || ' [new]', 2
        |  FROM documents WHERE doc_id % 7 = 0),
        |h AS (SELECT list_reduce(list_transform(range(1, 16),
        |    i -> strpos('0123456789abcdef', substr(md5(
        |      CAST(doc_id AS VARCHAR) || '|' || coalesce(text, '') || '|'
        |        || CAST(version AS VARCHAR)),
        |      CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) AS hh FROM fin)
        |SELECT * FROM (
        |  SELECT 'cert_pruned' AS metric, CAST(1 AS BIGINT) AS value
        |  UNION ALL SELECT 'cert_touched_dropped', 1
        |  UNION ALL SELECT 'cert_untouched_carried', 1
        |  UNION ALL SELECT 'rows_after',
        |    (SELECT CAST(count(*) AS BIGINT) FROM fin)
        |  UNION ALL SELECT 'versions', 3
        |  UNION ALL SELECT 'xor_after',
        |    coalesce((SELECT CAST(bit_xor(hh) AS BIGINT) FROM h), 0))
        |ORDER BY metric""".stripMargin,

    // C35j: every change class derived one-shot — odd docs insert at
    // v1, the [10,40] range deletes at v2, the [50,80] range emits
    // its delete+insert pair at v3; a CDF that leaked carrier rows,
    // missed a class, or mis-stamped a version breaks count or hash
    "q_c35_cdf" ->
      """WITH ch AS (
        |  SELECT 1 AS v, 'insert' AS ct, doc_id, text FROM documents
        |    WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT 2, 'delete', doc_id, text FROM documents
        |    WHERE doc_id BETWEEN 10 AND 40
        |  UNION ALL
        |  SELECT 3, 'delete', doc_id, text FROM documents
        |    WHERE doc_id BETWEEN 50 AND 80
        |  UNION ALL
        |  SELECT 3, 'insert', doc_id, text || ' [u]' FROM documents
        |    WHERE doc_id BETWEEN 50 AND 80),
        |h AS (SELECT v, ct, list_reduce(list_transform(range(1, 16),
        |    i -> strpos('0123456789abcdef', substr(md5(
        |      CAST(doc_id AS VARCHAR) || '|' || coalesce(text, '')),
        |      CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) AS hh FROM ch)
        |SELECT CAST(v AS BIGINT) AS commit_version, ct AS change_type,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  coalesce(CAST(bit_xor(hh) AS BIGINT), 0) AS xr
        |FROM h GROUP BY v, ct ORDER BY 1, 2""".stripMargin,

    // C30i: the survivors after the zh purge, re-derived — a delete
    // that lost or resurrected a row in ANY language hash-fails; the
    // rewrite-economics certs are Spark-computed path-identity claims
    "q_c30i_cow_delete_str" ->
      """WITH fin AS (SELECT doc_id, text, lang FROM documents
        |  WHERE lang IS NULL OR NOT (lang BETWEEN 'zh' AND 'zh')),
        |h AS (SELECT list_reduce(list_transform(range(1, 16),
        |    i -> strpos('0123456789abcdef', substr(md5(
        |      CAST(doc_id AS VARCHAR) || '|' || coalesce(text, '') || '|'
        |        || coalesce(lang, '')),
        |      CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) AS hh FROM fin)
        |SELECT * FROM (
        |  SELECT 'cert_pruned' AS metric, CAST(1 AS BIGINT) AS value
        |  UNION ALL SELECT 'cert_touched_dropped', 1
        |  UNION ALL SELECT 'cert_untouched_carried', 1
        |  UNION ALL SELECT 'rows_after',
        |    (SELECT CAST(count(*) AS BIGINT) FROM fin)
        |  UNION ALL SELECT 'versions', 3
        |  UNION ALL SELECT 'xor_after',
        |    coalesce((SELECT CAST(bit_xor(hh) AS BIGINT) FROM h), 0))
        |ORDER BY metric""".stripMargin,

    // s12: the final CDC state derived one-shot — rev3 on %10 keys
    // (version 3 beats everything), rev2 on the even %3=0 keys,
    // deletes on the odd %3=0 multiples of five, everyone else at
    // their insert version — censused with the version column riding
    // in the hash so a wrong winning version hash-fails
    "q_s12_stream_snapshot_cdc" ->
      """WITH fin AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN text || ' [rev3]'
        |         WHEN doc_id % 3 = 0 AND doc_id % 2 = 0 THEN text || ' [rev2]'
        |         ELSE text END AS text,
        |    CASE WHEN doc_id % 10 = 0 THEN 3
        |         WHEN doc_id % 3 = 0 AND doc_id % 2 = 0 THEN 2
        |         ELSE 1 END AS version
        |  FROM documents
        |  WHERE NOT (doc_id % 3 = 0 AND doc_id % 2 <> 0 AND doc_id % 5 = 0)),
        |h AS (SELECT list_reduce(list_transform(range(1, 16),
        |    i -> strpos('0123456789abcdef', substr(md5(
        |      CAST(doc_id AS VARCHAR) || '|' || coalesce(text, '') || '|'
        |        || CAST(version AS VARCHAR)),
        |      CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) AS hh FROM fin)
        |SELECT * FROM (
        |  SELECT 'rows_final' AS metric,
        |    (SELECT CAST(count(*) AS BIGINT) FROM fin) AS value
        |  UNION ALL SELECT 'versions', 3
        |  UNION ALL SELECT 'xor_final', (SELECT CAST(bit_xor(hh) AS BIGINT) FROM h))
        |ORDER BY metric""".stripMargin,

    // shard identity, ranges, and the round-trip checksum re-derived
    // from the ORIGINAL parquet (rank = row_number over doc_id; the
    // one-file-per-shard layout is a pinned claim)
    "q_c31_jsonl_shards" ->
      """WITH r AS (SELECT doc_id, text,
        |  CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS rk
        |  FROM documents),
        |sh AS (SELECT doc_id, text, rk // 200 AS shard FROM r),
        |h AS (SELECT shard, doc_id, list_reduce(list_transform(range(1, 16),
        |    i -> strpos('0123456789abcdef', substr(md5(
        |      CAST(doc_id AS VARCHAR) || '|' || coalesce(text, '')),
        |      CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) AS hh FROM sh)
        |SELECT CAST(shard AS BIGINT) AS shard, count(*) AS rows,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id,
        |  CAST(1 AS BIGINT) AS n_files,
        |  CAST(bit_xor(hh) AS BIGINT) AS content_xor
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,

    // compaction census re-derived from the ORIGINAL parquet: file
    // counts from the pinned 16-way small write and the ceil(n/200)
    // row-target arithmetic; the content XOR from the portable
    // md5-nibble fold (the d3/d16 idiom) — so the physical round
    // trip must be content-invisible
    "q_c30_compact" ->
      """WITH n AS (SELECT count(*) AS n FROM documents),
        |h AS (SELECT list_reduce(list_transform(range(1, 16),
        |    i -> strpos('0123456789abcdef', substr(md5(
        |      CAST(doc_id AS VARCHAR) || '|' || coalesce(text, '')),
        |      CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) AS hh FROM documents)
        |SELECT * FROM (
        |  SELECT 'content_xor' AS metric, CAST(bit_xor(hh) AS BIGINT) AS value FROM h
        |  UNION ALL SELECT 'files_compact', CAST((n + 199) // 200 AS BIGINT) FROM n
        |  UNION ALL SELECT 'files_small', 16
        |  UNION ALL SELECT 'rows_compact', CAST(n AS BIGINT) FROM n
        |  UNION ALL SELECT 'rows_small', CAST(n AS BIGINT) FROM n)
        |ORDER BY metric""".stripMargin,

    "q_d1_exact_dedup" ->
      """SELECT count(*) AS total_docs, count(DISTINCT md5(text)) AS distinct_docs,
        | count(*) - count(DISTINCT md5(text)) AS removed
        |FROM (SELECT text FROM documents
        |      UNION ALL SELECT text FROM documents WHERE doc_id%10=0)""".stripMargin,

    // inverted-index formulation (r9): a >=0.9-jaccard pair shares a
    // token by definition, so candidates from the token join are
    // recall-complete — identical result set to the old all-pairs
    // cross join, but Σdf² candidates instead of n²/2 (the all-pairs
    // SQL was intractable against the 50k-doc x10 corpus)
    "q_d2_minhash" ->
      """WITH docs AS (SELECT doc_id, list_distinct(regexp_split_to_array(text,' +')) AS ws FROM documents),
        |toks AS (SELECT doc_id, unnest(ws) AS tok, len(ws) AS sz FROM docs),
        |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
        |                any_value(a.sz) AS sz_a, any_value(b.sz) AS sz_b
        |         FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |         GROUP BY 1, 2)
        |SELECT id_a, id_b, round(inter*1.0/(sz_a+sz_b-inter),4) AS jaccard
        |FROM cand
        |WHERE round(inter*1.0/(sz_a+sz_b-inter),4) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,

    "q_d4_jaccard" ->
      """WITH docs AS (SELECT doc_id, list_distinct(regexp_split_to_array(text,' +')) AS ws
        | FROM documents WHERE doc_id%10=0)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | round(len(list_intersect(a.ws,b.ws))*1.0/(len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))),4) AS jaccard
        |FROM docs a JOIN docs b ON a.doc_id < b.doc_id
        |WHERE round(len(list_intersect(a.ws,b.ws))*1.0/(len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))),4) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    "q_d26_packing" ->
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN length(trim(text))=0 THEN 0 ELSE len(regexp_split_to_array(trim(text),' +')) END AS n_tokens,
        |  list_reduce(list_transform(range(1, 9),
        |    i -> strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) % 8 AS bkt FROM documents),
        |w AS (SELECT doc_id, n_tokens, bkt,
        |  sum(n_tokens) OVER (PARTITION BY bkt ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS cb
        |  FROM d)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(bkt AS VARCHAR) || '_' || CAST(cb // 512 AS VARCHAR) AS pack_id,
        |  CAST(cb % 512 AS BIGINT) AS pack_offset
        |FROM w ORDER BY doc_id""".stripMargin,

    "q_d27_boilerplate" ->
      """WITH d AS (SELECT doc_id, text || chr(10) || 'Subscribe to our newsletter' ||
        |  CASE WHEN doc_id%2=0 THEN chr(10) || '(c) 2024 Example Corp' ELSE '' END AS text
        |  FROM documents WHERE doc_id%5=0),
        |l AS (SELECT doc_id,
        |  unnest(string_split(text, chr(10))) AS line,
        |  unnest(range(1, len(string_split(text, chr(10)))+1)) AS pos FROM d),
        |hot AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS c FROM l GROUP BY 1) WHERE c > 30),
        |k AS (SELECT * FROM l WHERE line NOT IN (SELECT line FROM hot)),
        |r AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text FROM k GROUP BY 1)
        |SELECT d.doc_id AS doc_id, coalesce(r.text, '') AS text
        |FROM d LEFT JOIN r USING (doc_id) ORDER BY doc_id""".stripMargin,

    // -ln p per token quantized to micro-nats (exact integer sum on
    // both engines — reduction-order-independent); same corpus as LM,
    // so the smoothing branch never fires here (spec'd separately)
    "q_d28_xentropy" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text),' +')) AS token
        |  FROM documents WHERE length(trim(text)) > 0),
        |tok2 AS (SELECT doc_id, token FROM tok WHERE length(token) > 0),
        |lm AS (SELECT token, count(*) AS cnt FROM tok2 GROUP BY 1),
        |tot AS (SELECT sum(cnt) AS total FROM lm),
        |s AS (SELECT t.doc_id,
        |  CAST(round(-ln(lm.cnt * 1.0 / ((SELECT total FROM tot) + 1)) * 1e6) AS BIGINT) AS nll_micro
        |  FROM tok2 t JOIN lm USING (token))
        |SELECT doc_id, count(*) AS token_count,
        |  round((sum(nll_micro) / count(*)) / 1e6, 4) AS cross_entropy
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // d28's CE derivation + per-language tertile ranks: integer
    // bucket arithmetic ⌊(r−1)·3/n⌋ (// is DuckDB integer division),
    // ties broken doc_id asc on both engines
    "q_d53_ppl_buckets" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text),' +')) AS token
        |  FROM documents WHERE length(trim(text)) > 0),
        |tok2 AS (SELECT doc_id, token FROM tok WHERE length(token) > 0),
        |lm AS (SELECT token, count(*) AS cnt FROM tok2 GROUP BY 1),
        |tot AS (SELECT sum(cnt) AS total FROM lm),
        |s AS (SELECT t.doc_id,
        |  CAST(round(-ln(lm.cnt * 1.0 / ((SELECT total FROM tot) + 1)) * 1e6) AS BIGINT) AS nll_micro
        |  FROM tok2 t JOIN lm USING (token)),
        |ce AS (SELECT doc_id, round((sum(nll_micro) / count(*)) / 1e6, 4) AS cross_entropy
        |  FROM s GROUP BY doc_id),
        |j AS (SELECT ce.doc_id, d.lang, ce.cross_entropy
        |  FROM ce JOIN documents d USING (doc_id)),
        |r AS (SELECT doc_id, lang, cross_entropy,
        |  row_number() OVER (PARTITION BY lang ORDER BY cross_entropy, doc_id) AS ppl_rank,
        |  count(*) OVER (PARTITION BY lang) AS n FROM j)
        |SELECT doc_id, lang, cross_entropy, ppl_rank,
        |  CASE ((ppl_rank - 1) * 3) // n WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
        |    ELSE 'tail' END AS ppl_bucket
        |FROM r ORDER BY doc_id""".stripMargin,

    // d46's hashed unigram+bigram bucket features at 4096, weight =
    // md5-horner('qw:bucket') in [-1e6, 1e6] micro-units, exact
    // integer dot product, sigmoid of the 4-dp-rounded logit
    "q_d54_linear_score" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text),' +') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |uni AS (SELECT doc_id, unnest(t) AS f FROM toks),
        |bi AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS f
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
        |        FROM toks WHERE len(t) >= 2)),
        |feats AS (SELECT doc_id, list_reduce(list_transform(range(1, 9),
        |    i -> strpos('0123456789abcdef', substr(md5(f), CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) % 4096 AS bucket
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
        |fc AS (SELECT doc_id, bucket, count(*) AS cnt FROM feats GROUP BY 1, 2),
        |w AS (SELECT b.bucket, list_reduce(list_transform(range(1, 9),
        |    i -> strpos('0123456789abcdef',
        |      substr(md5('qw:' || CAST(b.bucket AS VARCHAR)), CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) % 2000001 - 1000000 AS w_micro
        |  FROM (SELECT DISTINCT bucket FROM fc) b),
        |d AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS feat_count,
        |  CAST(sum(cnt * w_micro) AS BIGINT) AS dot_micro
        |  FROM fc JOIN w USING (bucket) GROUP BY 1),
        |g AS (SELECT doc_id, feat_count, dot_micro,
        |  CAST(round(dot_micro / feat_count) AS BIGINT) AS logit_micro FROM d),
        |g2 AS (SELECT doc_id, feat_count, dot_micro, logit_micro,
        |  CAST(round(logit_micro / 100.0) AS BIGINT) / 10000.0 AS logit FROM g),
        |g3 AS (SELECT doc_id, feat_count, dot_micro, logit_micro, logit,
        |  CASE WHEN logit > 20.0 THEN 1.0 WHEN logit < -20.0 THEN 0.0
        |    ELSE CAST(round(10000.0 / (1.0
        |      + CAST(round(exp(-logit) * 1e6) AS BIGINT) / 1e6)) AS BIGINT) / 10000.0
        |  END AS prob FROM g2)
        |SELECT * FROM (
        |  SELECT doc_id, feat_count, dot_micro, logit_micro, logit, prob,
        |    CASE WHEN prob >= 0.5 THEN 1 ELSE 0 END AS label, 'doc' AS tag FROM g3
        |  UNION ALL SELECT -1, -1, -1, -1, 0.0, 1.0, -1, 'sigmoid_guard')
        |ORDER BY tag, doc_id""".stripMargin,

    // weight = 1/occ(md5 content class), effective tokens =
    // tokens/occ; 4-dp via integer-space rounding (ties on exact .5)
    "q_d55_soft_dedup" ->
      """WITH o AS (SELECT md5(text) AS ck, count(*) AS occ FROM documents GROUP BY 1)
        |SELECT d.doc_id, o.occ,
        |  CAST(round(10000.0 / o.occ) AS BIGINT) / 10000.0 AS weight,
        |  CAST(round((CASE WHEN length(trim(d.text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(d.text),' +')) END) * 10000.0 / o.occ)
        |    AS BIGINT) / 10000.0 AS eff_tokens
        |FROM documents d JOIN o ON md5(d.text) = o.ck
        |ORDER BY doc_id""".stripMargin,

    // KMV re-derived: normalized-content 15-nibble hashes, full-outer
    // membership merge, bottom-256 by hex order (= numeric order),
    // estimates + exact numbers from the same merged frame
    "q_d56_kmv" ->
      """WITH a AS (SELECT DISTINCT substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 15) AS h
        |  FROM documents WHERE doc_id % 2 = 0),
        |b AS (SELECT DISTINCT substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 15) AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |m AS (SELECT COALESCE(a.h, b.h) AS h,
        |  CASE WHEN a.h IS NULL THEN 0 ELSE 1 END AS in_a,
        |  CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS in_b
        |  FROM a FULL OUTER JOIN b ON a.h = b.h),
        |bot AS (SELECT * FROM m ORDER BY h LIMIT 256),
        |est AS (SELECT count(*) AS k_used,
        |  CAST(sum(in_a * in_b) AS BIGINT) AS inter_cnt,
        |  max(list_reduce(list_transform(range(1, 16),
        |    i -> strpos('0123456789abcdef', substr(h, CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x)) AS vk FROM bot),
        |ex AS (SELECT count(*) AS union_exact,
        |  ((2*sum(in_a * in_b)*10000 + count(*)) // (2*greatest(count(*), 1))) / 10000.0 AS j_exact
        |  FROM m)
        |SELECT 256 AS k, est.k_used, est.inter_cnt,
        |  ((2*est.inter_cnt*10000 + est.k_used) // (2*greatest(est.k_used, 1))) / 10000.0 AS j_est,
        |  CASE WHEN est.k_used < 256 THEN est.k_used
        |    ELSE CAST((2*CAST(est.k_used - 1 AS HUGEINT)*1152921504606846976
        |      + greatest(est.vk, 1)) // (2*CAST(greatest(est.vk, 1) AS HUGEINT)) AS BIGINT) END AS union_est,
        |  ex.union_exact, ex.j_exact
        |FROM est CROSS JOIN ex""".stripMargin,

    // ln-weight + Gumbel keys re-derived micro-exactly (the d46
    // md5-head uniform), same top-k total order, guard pinned at 1
    "q_d86_weighted_sample" ->
      """WITH w AS (SELECT doc_id, n_chars FROM documents
        |  WHERE n_chars IS NOT NULL AND n_chars > 0),
        |k AS (SELECT doc_id,
        |  CAST(round(ln(CAST(n_chars AS DOUBLE)) * 1e6) AS BIGINT)
        |  + CAST(round(-ln(-ln((list_reduce(list_transform(range(1, 9),
        |      i -> strpos('0123456789abcdef',
        |        substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1),
        |      (a, x) -> a * 16 + x) + 0.5) / 4294967296.0)) * 1e6) AS BIGINT)
        |    AS sample_key
        |  FROM w),
        |sel AS (SELECT doc_id, sample_key FROM k
        |  ORDER BY sample_key DESC, doc_id LIMIT 60)
        |SELECT doc_id, sample_key FROM (
        |  SELECT doc_id, sample_key FROM sel
        |  UNION ALL SELECT CAST(-1 AS BIGINT), CAST(1 AS BIGINT))
        |ORDER BY doc_id""".stripMargin,

    // the same doctoring + full-outer join; struct null-safe equality
    // == AND of per-column IS NOT DISTINCT FROM
    "q_d85_snapshot_diff" ->
      """WITH b AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders),
        |a AS (SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice,
        |    o_orderpriority
        |  FROM orders WHERE o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderkey % 17 = 0),
        |j AS (SELECT b.o_orderkey AS bk, a.o_orderkey AS ak,
        |    b.o_custkey AS bc, a.o_custkey AS ac,
        |    b.o_totalprice AS bt, a.o_totalprice AS at2,
        |    b.o_orderpriority AS bp, a.o_orderpriority AS ap
        |  FROM b FULL OUTER JOIN a ON b.o_orderkey = a.o_orderkey)
        |SELECT metric, value FROM (
        |  SELECT 'rows_added' AS metric,
        |    count(CASE WHEN bk IS NULL THEN 1 END) AS value FROM j
        |  UNION ALL SELECT 'rows_removed',
        |    count(CASE WHEN ak IS NULL THEN 1 END) FROM j
        |  UNION ALL SELECT 'rows_changed',
        |    count(CASE WHEN bk IS NOT NULL AND ak IS NOT NULL
        |      AND (bc IS DISTINCT FROM ac OR bt IS DISTINCT FROM at2
        |           OR bp IS DISTINCT FROM ap) THEN 1 END) FROM j
        |  UNION ALL SELECT 'rows_unchanged',
        |    count(CASE WHEN bk IS NOT NULL AND ak IS NOT NULL
        |      AND bc IS NOT DISTINCT FROM ac AND bt IS NOT DISTINCT FROM at2
        |      AND bp IS NOT DISTINCT FROM ap THEN 1 END) FROM j
        |  UNION ALL SELECT 'changed_o_custkey',
        |    count(CASE WHEN bk IS NOT NULL AND ak IS NOT NULL
        |      AND bc IS DISTINCT FROM ac THEN 1 END) FROM j
        |  UNION ALL SELECT 'changed_o_totalprice',
        |    count(CASE WHEN bk IS NOT NULL AND ak IS NOT NULL
        |      AND bt IS DISTINCT FROM at2 THEN 1 END) FROM j
        |  UNION ALL SELECT 'changed_o_orderpriority',
        |    count(CASE WHEN bk IS NOT NULL AND ak IS NOT NULL
        |      AND bp IS DISTINCT FROM ap THEN 1 END) FROM j)
        |ORDER BY metric""".stripMargin,

    // the 6 BPE iterations unrolled as CTE chains: per iteration a
    // pair-count over the delimited word-frequency frame, the same
    // (count DESC, l, r) argmax, and a scalar-subquery replace; the
    // delimited-string replace IS the greedy merge in both engines
    "q_d84_bpe_merges" -> {
      val iters = (1 to BpeGateMerges).map { k =>
        val prev = s"w${k - 1}"
        s"""p$k AS MATERIALIZED (SELECT y[i] AS l, y[i+1] AS r, CAST(sum(cnt) AS BIGINT) AS c
           |  FROM (SELECT cnt, y, unnest(generate_series(1, len(y)-1)) AS i
           |        FROM (SELECT cnt, string_split(trim(s, chr(1)), chr(1) || chr(1)) AS y
           |              FROM $prev) WHERE len(y) >= 2)
           |  GROUP BY 1, 2),
           |m$k AS MATERIALIZED (SELECT l, r, c FROM p$k ORDER BY c DESC, l ASC, r ASC LIMIT 1),
           |w$k AS MATERIALIZED (SELECT replace(s,
           |    chr(1) || (SELECT l FROM m$k) || chr(1) || chr(1) || (SELECT r FROM m$k) || chr(1),
           |    chr(1) || (SELECT l FROM m$k) || (SELECT r FROM m$k) || chr(1)) AS s, cnt
           |  FROM $prev)""".stripMargin
      }.mkString(",\n")
      val rows = (1 to BpeGateMerges).map(k =>
        s"SELECT CAST($k AS INT) AS rank, l AS \"left\", r AS \"right\"," +
          s" l || r AS merged, c AS pair_count FROM m$k")
        .mkString("\n  UNION ALL ")
      s"""WITH w0 AS MATERIALIZED (SELECT chr(1) || list_aggregate(string_split(w, ''), 'string_agg', chr(1) || chr(1)) || chr(1) AS s,
         |  cnt FROM (SELECT w, count(*) AS cnt FROM
         |    (SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS w FROM documents)
         |    WHERE length(w) > 0 GROUP BY w)),
         |$iters
         |  $rows
         |ORDER BY rank""".stripMargin
    },

    // the trained tokenizer applied in SQL: the same 64-iteration
    // chain, then per word a 64-deep nested replace and the
    // delimiter-count token sum
    "q_d84b_bpe_encode" -> {
      val iters = (1 to BpeGateMerges).map { k =>
        val prev = s"w${k - 1}"
        s"""p$k AS MATERIALIZED (SELECT y[i] AS l, y[i+1] AS r, CAST(sum(cnt) AS BIGINT) AS c
           |  FROM (SELECT cnt, y, unnest(generate_series(1, len(y)-1)) AS i
           |        FROM (SELECT cnt, string_split(trim(s, chr(1)), chr(1) || chr(1)) AS y
           |              FROM $prev) WHERE len(y) >= 2)
           |  GROUP BY 1, 2),
           |m$k AS MATERIALIZED (SELECT l, r, c FROM p$k ORDER BY c DESC, l ASC, r ASC LIMIT 1),
           |w$k AS MATERIALIZED (SELECT replace(s,
           |    chr(1) || (SELECT l FROM m$k) || chr(1) || chr(1) || (SELECT r FROM m$k) || chr(1),
           |    chr(1) || (SELECT l FROM m$k) || (SELECT r FROM m$k) || chr(1)) AS s, cnt
           |  FROM $prev)""".stripMargin
      }.mkString(",\n")
      val enc = (1 to BpeGateMerges).foldLeft(
        "chr(1) || list_aggregate(string_split(w, ''), 'string_agg', chr(1) || chr(1)) || chr(1)") {
        (acc, k) =>
          s"""replace($acc,
             |  chr(1) || (SELECT l FROM m$k) || chr(1) || chr(1) || (SELECT r FROM m$k) || chr(1),
             |  chr(1) || (SELECT l FROM m$k) || (SELECT r FROM m$k) || chr(1))""".stripMargin
      }
      s"""WITH w0 AS MATERIALIZED (SELECT chr(1) || list_aggregate(string_split(w, ''), 'string_agg', chr(1) || chr(1)) || chr(1) AS s,
         |  cnt FROM (SELECT w, count(*) AS cnt FROM
         |    (SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS w FROM documents)
         |    WHERE length(w) > 0 GROUP BY w)),
         |$iters,
         |dw AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(text), ' +'),
         |  x -> length(x) > 0)) AS w FROM documents),
         |et AS (SELECT doc_id, len(string_split($enc, chr(1) || chr(1))) AS toks FROM dw)
         |SELECT d.doc_id, CAST(COALESCE(t.bpe_tokens, 0) AS BIGINT) AS bpe_tokens
         |FROM documents d LEFT JOIN
         |  (SELECT doc_id, sum(toks) AS bpe_tokens FROM et GROUP BY 1) t
         |  USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    },

    // every theta cell re-derived with exact set arithmetic over the
    // same normalized content hashes: inter via pair join, union /
    // differences from the inclusion-exclusion identities, all-pair
    // coverage via the totals cross join (zero-overlap pairs kept)
    "q_d83_theta_algebra" ->
      """WITH sh AS (SELECT DISTINCT CAST(source AS VARCHAR) AS src,
        |  substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 15) AS h
        |  FROM documents),
        |t AS (SELECT src, count(*) AS n FROM sh GROUP BY 1),
        |iq AS (SELECT a.src AS sa, b.src AS sb, count(*) AS i
        |  FROM sh a JOIN sh b ON a.h = b.h AND a.src < b.src GROUP BY 1, 2),
        |p AS (SELECT ta.src AS source_a, tb.src AS source_b,
        |  ta.n AS distinct_a, tb.n AS distinct_b, COALESCE(iq.i, 0) AS i
        |  FROM t ta JOIN t tb ON ta.src < tb.src
        |  LEFT JOIN iq ON iq.sa = ta.src AND iq.sb = tb.src)
        |SELECT source_a, source_b, distinct_a, distinct_b,
        |  distinct_a + distinct_b - i AS union_cnt, i AS inter_cnt,
        |  distinct_a - i AS a_not_b, distinct_b - i AS b_not_a
        |FROM p
        |UNION ALL
        |SELECT '__all__', '__all__', u, u, u, CAST(-1 AS BIGINT),
        |  CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
        |FROM (SELECT count(DISTINCT h) AS u FROM sh)
        |ORDER BY source_a, source_b""".stripMargin,

    // Gopher battery re-derived with list lambdas over the same
    // doctored text: word stats on the space-collapsed form, line
    // stats on chr(10) splits, alphabetic words via per-token regex,
    // distinct-stopword presence, identical cascade order
    "q_d57_gopher" ->
      """WITH doc AS (SELECT doc_id,
        |  text || CASE WHEN doc_id % 7 = 0 THEN chr(10) || '- bullet point one' || chr(10) || '- bullet point two' ELSE '' END
        |       || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'to be continued...' ELSE '' END
        |       || CASE WHEN doc_id % 11 = 0 THEN chr(10) || '#tag #tag2 ### 123 456' ELSE '' END AS text
        |  FROM documents),
        |b AS (SELECT doc_id, text, regexp_replace(trim(text), '\s+', ' ', 'g') AS wn FROM doc),
        |c AS (SELECT doc_id,
        |  CASE WHEN length(wn) = 0 THEN 0 ELSE len(string_split(wn, ' ')) END AS n_words,
        |  length(replace(wn, ' ', '')) AS word_chars,
        |  (length(text) - length(replace(text, '#', ''))) + len(regexp_extract_all(text, '\.\.\.')) AS symbols,
        |  len(string_split(text, chr(10))) AS n_lines,
        |  len(list_filter(string_split(text, chr(10)),
        |    l -> l LIKE '- %' OR l LIKE '* %' OR l LIKE '• %')) AS bullet_lines,
        |  len(list_filter(string_split(text, chr(10)), l -> l LIKE '%...')) AS ellipsis_lines,
        |  len(list_filter(string_split(wn, ' '), w -> NOT regexp_matches(w, '[a-zA-Z]'))) AS non_alpha,
        |  len(list_filter(['the','be','to','of','and','that','have','with'],
        |    sw -> list_contains(string_split(lower(wn), ' '), sw))) AS stop_present
        |  FROM b),
        |s AS (SELECT doc_id, n_words,
        |  CASE WHEN n_words > 0 THEN CAST(round(word_chars * 10000.0 / n_words) AS BIGINT) / 10000.0 END AS mean_word_len,
        |  CASE WHEN n_words > 0 THEN CAST(round(symbols * 10000.0 / n_words) AS BIGINT) / 10000.0 END AS symbol_word_ratio,
        |  CASE WHEN n_lines > 0 THEN CAST(round(bullet_lines * 10000.0 / n_lines) AS BIGINT) / 10000.0 END AS bullet_line_frac,
        |  CASE WHEN n_lines > 0 THEN CAST(round(ellipsis_lines * 10000.0 / n_lines) AS BIGINT) / 10000.0 END AS ellipsis_line_frac,
        |  CASE WHEN n_words > 0 THEN CAST(round((n_words - non_alpha) * 10000.0 / n_words) AS BIGINT) / 10000.0 END AS alpha_word_ratio,
        |  stop_present AS stopwords_present
        |  FROM c)
        |SELECT doc_id, n_words, mean_word_len, symbol_word_ratio, bullet_line_frac,
        |  ellipsis_line_frac, alpha_word_ratio, stopwords_present,
        |  CASE WHEN n_words < 20 THEN 'too_few_words'
        |       WHEN n_words > 80 THEN 'too_many_words'
        |       WHEN mean_word_len < 3.0 OR mean_word_len > 10.0 THEN 'word_len_out_of_range'
        |       WHEN symbol_word_ratio > 0.05 THEN 'too_many_symbols'
        |       WHEN bullet_line_frac > 0.5 THEN 'too_many_bullets'
        |       WHEN ellipsis_line_frac > 0.3 THEN 'too_many_ellipses'
        |       WHEN alpha_word_ratio < 0.9 THEN 'low_alpha'
        |       WHEN stopwords_present < 2 THEN 'few_stopwords'
        |       ELSE 'keep' END AS reason
        |FROM s ORDER BY doc_id""".stripMargin,

    // chunk arithmetic re-derived: stride 48, ceil via integer floor
    // form, 1-based list slices mirror Spark's slice()
    "q_d43_chunking" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text),' +') AS t
        |  FROM documents WHERE doc_id%5=0 AND length(trim(text)) > 0),
        |n AS (SELECT doc_id, t, len(t) AS n FROM d),
        |c AS (SELECT doc_id, t, unnest(generate_series(0,
        |    CASE WHEN n <= 64 THEN 0 ELSE CAST(floor((n - 64 + 47) * 1.0 / 48) AS BIGINT) END)) AS chunk_id
        |  FROM n)
        |SELECT doc_id, chunk_id, chunk_id * 48 AS chunk_start,
        |  len(t[chunk_id*48+1 : chunk_id*48+64]) AS chunk_tokens,
        |  array_to_string(t[chunk_id*48+1 : chunk_id*48+64], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    // bigram LM re-derived end-to-end: adjacent pairs from 1-based
    // list indexing, p(w2|w1) over the same corpus (every pair seen
    // -> no smoothing branch), micro-nat quantization before the sum
    "q_d44_bigram_xent" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text),' +') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |d2 AS (SELECT doc_id, t FROM d WHERE len(t) >= 2),
        |b AS (SELECT doc_id, unnest(generate_series(1, len(t)-1)) AS i, t FROM d2),
        |bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2 FROM b),
        |lm AS (SELECT w1, w2, count(*) AS cnt FROM bg GROUP BY 1,2),
        |cx AS (SELECT w1, sum(cnt) AS ctx FROM lm GROUP BY 1),
        |s AS (SELECT bg.doc_id,
        |  CAST(round(-ln(lm.cnt * 1.0 / cx.ctx) * 1e6) AS BIGINT) AS nll_micro
        |  FROM bg JOIN lm USING (w1, w2) JOIN cx USING (w1))
        |SELECT doc_id, count(*) AS bigram_count,
        |  round((sum(nll_micro) / count(*)) / 1e6, 4) AS cross_entropy
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q_d21's recursive-CTE closure gives the component; the split is
    // then q_d16's md5-bucket arithmetic keyed on the component's min
    // member id (singletons key on their own id)
    "q_d45_leakage_split" ->
      """WITH RECURSIVE docs AS (SELECT doc_id, list_distinct(regexp_split_to_array(text,' +')) AS ws
        | FROM documents WHERE doc_id%10=0),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM docs a JOIN docs b ON a.doc_id < b.doc_id
        | WHERE round(len(list_intersect(a.ws,b.ws))*1.0/(len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))),4) >= 0.8),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT a AS n FROM edges),
        |cc(n, lbl) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT e.b, cc.lbl FROM cc JOIN edges e ON cc.n = e.a
        |),
        |comp AS (SELECT n AS doc_id, MIN(lbl) AS grp FROM cc GROUP BY n),
        |g AS (SELECT d.doc_id, COALESCE(c.grp, d.doc_id) AS group_id
        |      FROM docs d LEFT JOIN comp c USING (doc_id)),
        |bk AS (SELECT doc_id, group_id, list_reduce(list_transform(range(1, 9),
        |    i -> strpos('0123456789abcdef', substr(md5(CAST(group_id AS VARCHAR)), CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) % 100 AS bkt FROM g)
        |SELECT doc_id, group_id,
        |  CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split
        |FROM bk ORDER BY doc_id""".stripMargin,

    // duplicate spans re-derived end-to-end: 1-based window starts
    // from generate_series, 8-element inclusive list slices, and the
    // same 15-nibble md5 head as the Spark fingerprint (identical
    // equivalence classes, so the long-vs-hex representation washes
    // out in the grouping)
    "q_d47_dup_spans" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text),' +') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |d2 AS (SELECT doc_id, t FROM d WHERE len(t) >= 8),
        |s AS (SELECT doc_id, unnest(generate_series(1, len(t)-7)) AS p, t FROM d2),
        |h AS (SELECT doc_id, p - 1 AS span_pos,
        |  substr(md5(list_aggregate(t[p:p+7], 'string_agg', ' ')), 1, 15) AS fp FROM s),
        |o AS (SELECT fp, count(*) AS occ FROM h GROUP BY 1),
        |j AS (SELECT h.doc_id, o.occ FROM h JOIN o USING (fp))
        |SELECT doc_id, count(*) AS span_count,
        |  count(CASE WHEN occ >= 2 THEN 1 END) AS dup_span_count,
        |  round(count(CASE WHEN occ >= 2 THEN 1 END) * 10000.0 / count(*)) / 10000.0 AS dup_frac
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // keeper = rn 1 over (doc_id, pos) per fingerprint — the same
    // total order as Spark's min(struct); coverage union via DISTINCT
    // over the per-occurrence generate_series
    "q_d58_span_removal" ->
      """WITH doc AS (SELECT doc_id,
        |  text || CASE WHEN doc_id % 7 = 0 THEN ' the quick brown fox jumps over the lazy dog tonight' ELSE '' END AS text
        |  FROM documents),
        |d AS (SELECT doc_id, regexp_split_to_array(trim(text),' +') AS t
        |  FROM doc WHERE length(trim(text)) > 0),
        |sp AS (SELECT doc_id, unnest(generate_series(1, len(t)-7)) AS p, t
        |  FROM d WHERE len(t) >= 8),
        |hh AS (SELECT doc_id, p - 1 AS pos,
        |  substr(md5(list_aggregate(t[p:p+7], 'string_agg', ' ')), 1, 15) AS fp FROM sp),
        |hh2 AS (SELECT doc_id, pos, fp,
        |  row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn,
        |  count(*) OVER (PARTITION BY fp) AS c FROM hh),
        |remd AS (SELECT DISTINCT doc_id, tp FROM (
        |  SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS tp
        |  FROM hh2 WHERE c >= 2 AND rn > 1)),
        |tok AS (SELECT doc_id, i - 1 AS tp, t[i] AS tok FROM (
        |  SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM d)),
        |keptq AS (SELECT tok.doc_id, tok.tp, tok.tok FROM tok LEFT JOIN remd
        |  ON tok.doc_id = remd.doc_id AND tok.tp = remd.tp WHERE remd.tp IS NULL),
        |reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) AS text,
        |  count(*) AS kept_n FROM keptq GROUP BY 1),
        |cnts AS (SELECT doc_id, len(t) AS n_tokens FROM d)
        |SELECT doc.doc_id, COALESCE(reb.text, '') AS text,
        |  COALESCE(cnts.n_tokens, 0) AS n_tokens,
        |  COALESCE(cnts.n_tokens, 0) - COALESCE(reb.kept_n, 0) AS removed_tokens
        |FROM doc LEFT JOIN reb ON doc.doc_id = reb.doc_id
        |LEFT JOIN cnts ON doc.doc_id = cnts.doc_id
        |ORDER BY doc.doc_id""".stripMargin,

    "q_d59_source_overlap" ->
      """WITH c AS (SELECT source, text FROM documents
        |  UNION ALL SELECT 'mirror' AS source, text FROM documents WHERE doc_id % 5 = 0),
        |sh AS (SELECT DISTINCT source AS src,
        |  substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 15) AS h FROM c),
        |tot AS (SELECT src, count(*) AS total FROM sh GROUP BY 1),
        |p AS (SELECT a.src AS source_a, b.src AS source_b, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.h = b.h AND a.src < b.src GROUP BY 1, 2)
        |SELECT source_a, source_b, shared, ta.total AS total_a, tb.total AS total_b,
        |  ((2*shared*10000 + least(ta.total, tb.total))
        |    // (2*greatest(least(ta.total, tb.total), 1))) / 10000.0 AS overlap_frac
        |FROM p JOIN tot ta ON p.source_a = ta.src JOIN tot tb ON p.source_b = tb.src
        |ORDER BY source_a, source_b""".stripMargin,

    // exact distincts re-derived; the ±5% sketch claim and the
    // no-false-negative Bloom claim are 1.0/0.0 verdicts the oracle
    // pins with literal 1.0 (the d7/d8 gate-row scheme — a violated
    // claim hash-mismatches)
    // the same rule chain, regexp-for-regexp (RE2 both sides):
    // script/style with content first (their bodies may contain bare
    // '<'), then comments, tags, entities (amp LAST), whitespace
    "q_d68_strip_markup" ->
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 6 = 0 THEN
        |    '<html><head><style>p{color:red}</style><script type="text/javascript">var x = 1 < 2;</script></head><body><!-- nav --><div class="main">'
        |    || text || ' &amp; more &lt;tags&gt; &quot;quoted&quot;</div></body></html>'
        |  ELSE text END AS text
        |  FROM documents WHERE doc_id % 2 = 0),
        |c AS (SELECT doc_id, text, trim(regexp_replace(
        |  replace(replace(replace(replace(replace(replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |      '(?s)<!--.*?-->', ' ', 'g'),
        |      '(?s)<[^>]*>', ' ', 'g'),
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |    '&nbsp;', ' '), '&amp;', '&'),
        |  '\s+', ' ', 'g')) AS clean FROM d)
        |SELECT doc_id, length(text) AS len_raw, length(clean) AS len_clean,
        |  substr(md5(clean), 1, 16) AS clean_hash
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_c24_conform" ->
      """SELECT CAST(CAST(event_id AS INT) AS BIGINT) AS event_id,
        |  CAST(NULL AS BIGINT) AS user_id, event_type,
        |  CAST(CAST(value AS VARCHAR) AS DOUBLE) AS value, props
        |FROM events ORDER BY event_id""".stripMargin,

    // exact rank-bound order statistics over the UNION re-derived
    // (the a14 scheme at eps=3%); the within claim is the 1.0/0.0
    // verdict the sketch must satisfy — KLL randomness lives strictly
    // inside the certified bound
    "q_d67_kll_incremental" ->
      """WITH v1 AS (SELECT CAST(l_quantity AS DOUBLE) AS v FROM lineitem WHERE l_quantity IS NOT NULL),
        |r1 AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v1),
        |n1 AS (SELECT count(*) AS n FROM v1),
        |v2 AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |r2 AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v2),
        |n2 AS (SELECT count(*) AS n FROM v2)
        |SELECT * FROM (
        | SELECT 'l_quantity' AS "column", '0.25' AS q,
        |  (SELECT round(v,4) FROM r1,n1 WHERE rn = greatest((22*n)//100,1)) AS lo,
        |  (SELECT round(v,4) FROM r1,n1 WHERE rn = least((28*n+99)//100,n)) AS hi,
        |  1 AS within
        | UNION ALL SELECT 'l_quantity', '0.50',
        |  (SELECT round(v,4) FROM r1,n1 WHERE rn = greatest((47*n)//100,1)),
        |  (SELECT round(v,4) FROM r1,n1 WHERE rn = least((53*n+99)//100,n)), 1
        | UNION ALL SELECT 'l_quantity', '0.75',
        |  (SELECT round(v,4) FROM r1,n1 WHERE rn = greatest((72*n)//100,1)),
        |  (SELECT round(v,4) FROM r1,n1 WHERE rn = least((78*n+99)//100,n)), 1
        | UNION ALL SELECT 'l_extendedprice', '0.25',
        |  (SELECT round(v,4) FROM r2,n2 WHERE rn = greatest((22*n)//100,1)),
        |  (SELECT round(v,4) FROM r2,n2 WHERE rn = least((28*n+99)//100,n)), 1
        | UNION ALL SELECT 'l_extendedprice', '0.50',
        |  (SELECT round(v,4) FROM r2,n2 WHERE rn = greatest((47*n)//100,1)),
        |  (SELECT round(v,4) FROM r2,n2 WHERE rn = least((53*n+99)//100,n)), 1
        | UNION ALL SELECT 'l_extendedprice', '0.75',
        |  (SELECT round(v,4) FROM r2,n2 WHERE rn = greatest((72*n)//100,1)),
        |  (SELECT round(v,4) FROM r2,n2 WHERE rn = least((78*n+99)//100,n)), 1
        |) ORDER BY "column", q""".stripMargin,

    // the ingest chain re-derived: store membership, span-staleness
    // windows (the d51 arithmetic), keep rule on the tie-safe 4-dp
    // fraction, per-language rollup; nfn_claim is the corpus-wide
    // no-false-negative verdict the oracle pins at literal 1.0
    "q_e2e_ingest" ->
      """WITH store AS (SELECT * FROM documents WHERE doc_id % 3 = 0),
        |batch AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 3 = 1
        |  UNION ALL SELECT doc_id + 1000000, text, lang FROM store WHERE doc_id % 5 = 0),
        |sk AS (SELECT DISTINCT md5(text) AS k FROM store),
        |novel AS (SELECT * FROM batch WHERE md5(text) NOT IN (SELECT k FROM sk)),
        |nt AS (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS t
        |  FROM novel WHERE length(trim(text)) > 0),
        |nsp AS (SELECT doc_id, unnest(generate_series(1, len(t)-7)) AS p, t
        |  FROM nt WHERE len(t) >= 8),
        |nh AS (SELECT doc_id,
        |  substr(md5(list_aggregate(t[p:p+7], 'string_agg', ' ')), 1, 15) AS fp FROM nsp),
        |st2 AS (SELECT regexp_split_to_array(trim(text), ' +') AS t
        |  FROM store WHERE length(trim(text)) > 0),
        |ssp AS (SELECT unnest(generate_series(1, len(t)-7)) AS p, t
        |  FROM st2 WHERE len(t) >= 8),
        |sfp AS (SELECT DISTINCT substr(md5(list_aggregate(t[p:p+7], 'string_agg', ' ')), 1, 15) AS fp
        |  FROM ssp),
        |sstat AS (SELECT doc_id, count(*) AS span_count,
        |  count(CASE WHEN fp IN (SELECT fp FROM sfp) THEN 1 END) AS stale
        |  FROM nh GROUP BY 1),
        |keep AS (SELECT novel.* FROM novel LEFT JOIN sstat USING (doc_id)
        |  WHERE COALESCE(round(stale * 10000.0 / span_count) / 10000.0, 0.0) <= 0.5),
        |ing AS (SELECT lang, count(*) AS ingested FROM batch GROUP BY 1),
        |kp AS (SELECT lang, count(*) AS kept_docs,
        |  CAST(sum(len(regexp_split_to_array(trim(text), ' +'))) AS BIGINT) AS kept_tokens
        |  FROM keep GROUP BY 1)
        |SELECT ing.lang, ingested, COALESCE(kept_docs, 0) AS kept_docs,
        |  COALESCE(kept_tokens, 0) AS kept_tokens,
        |  CAST(1.0 AS DOUBLE) AS nfn_claim
        |FROM ing LEFT JOIN kp ON ing.lang = kp.lang
        |ORDER BY ing.lang""".stripMargin,

    // every query x corpus cosine re-derived (normalized query lists,
    // list_dot_product order = MatVec's), rank ties on neighbor id,
    // vote ties on the smaller label — both total orders
    "q_d66_knn_label" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id % 100 = 0),
        |qn AS (SELECT query_id,
        |  list_transform(qv, x -> x / sqrt(list_dot_product(qv, qv))) AS qn FROM q),
        |s AS (SELECT qn.query_id, e.vec_id, e.label,
        |  list_dot_product(CAST(e.embedding AS DOUBLE[]), qn.qn)
        |    / sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |           CAST(e.embedding AS DOUBLE[]))) AS sim
        |  FROM embeddings e CROSS JOIN qn WHERE e.vec_id <> qn.query_id),
        |r AS (SELECT query_id, label,
        |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rn
        |  FROM s),
        |v AS (SELECT query_id, label, count(*) AS votes FROM r WHERE rn <= 10 GROUP BY 1, 2),
        |wv AS (SELECT query_id, label AS pred_label, votes,
        |  row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label ASC) AS rn
        |  FROM v)
        |SELECT query_id, pred_label, votes FROM wv WHERE rn = 1
        |ORDER BY query_id""".stripMargin,

    // independent NFC implementation (DuckDB's nfc_normalize vs JDK
    // java.text.Normalizer) — both implement UAX#15 canonical
    // composition, so lengths and content hashes must agree
    "q_c23_nfc" ->
      ("WITH d AS (SELECT doc_id, text || CASE WHEN doc_id % 9 = 0 THEN ' cafe\u0301 A\u030A no\u0308el'" +
        """ ELSE '' END AS text
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT doc_id, length(text) AS len_raw,
        |  length(nfc_normalize(text)) AS len_nfc,
        |  substr(md5(nfc_normalize(text)), 1, 16) AS nfc_hash
        |FROM d ORDER BY doc_id""".stripMargin),

    "q_d64_hll_incremental" ->
      """SELECT * FROM (
        |  SELECT 'doc_id' AS "column", count(DISTINCT doc_id) AS exact_distinct,
        |    CAST(1.0 AS DOUBLE) AS within_5pct FROM documents
        |  UNION ALL SELECT 'lang', count(DISTINCT lang), 1.0 FROM documents
        |  UNION ALL SELECT 'source', count(DISTINCT source), 1.0 FROM documents)
        |ORDER BY "column"""".stripMargin,

    // same doctoring, densify via generate_series, same robust rule
    // (counts are integers -> median/MAD land on exact .0/.5 doubles,
    // no rounding anywhere)
    "q_b22_volume_anomaly" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL),
        |f AS (SELECT * FROM e WHERE NOT (event_type = 'click'
        |  AND (us // 21600000000) % 7 = 0)),
        |c AS (SELECT event_type AS series, us // 21600000000 AS bucket,
        |  count(*) AS cnt FROM f GROUP BY 1, 2),
        |rng AS (SELECT series, min(bucket) AS lo, max(bucket) AS hi
        |  FROM c GROUP BY 1),
        |dn AS (SELECT series, unnest(generate_series(lo, hi)) AS bucket FROM rng),
        |d2 AS (SELECT dn.series, dn.bucket, COALESCE(cnt, 0) AS cnt
        |  FROM dn LEFT JOIN c ON dn.series = c.series AND dn.bucket = c.bucket),
        |st AS (SELECT series, quantile_cont(CAST(cnt AS DOUBLE), 0.5) AS med
        |  FROM d2 GROUP BY 1),
        |md AS (SELECT d2.series, quantile_cont(abs(cnt - med), 0.5) AS mad
        |  FROM d2 JOIN st USING (series) GROUP BY 1)
        |SELECT d2.series, bucket * 21600000000 AS bucket_start_us, cnt, med, mad,
        |  (abs(cnt - med) * 0.6745 > mad * 3.5) AS anomaly
        |FROM d2 JOIN st USING (series) JOIN md USING (series)
        |ORDER BY 1, 2""".stripMargin,

    // pairwise null-safe mismatch counts
    "q_a24_dup_cols" -> {
      val cols = Seq(
        "o_custkey" -> "o_custkey",
        "ck_copy" -> "o_custkey",
        "ck_perturbed" -> "CASE WHEN o_orderkey % 97 = 0 THEN o_custkey + 1 ELSE o_custkey END",
        "ck_nulled" -> "CASE WHEN o_orderkey % 53 = 0 THEN NULL ELSE o_custkey END")
      val pairs = for {
        ((an, ae), i) <- cols.zipWithIndex
        ((bn, be), j) <- cols.zipWithIndex if i < j
      } yield
        s"""SELECT '$an' AS col_a, '$bn' AS col_b,
           |  count(CASE WHEN NOT (($ae) IS NOT DISTINCT FROM ($be)) THEN 1 END)
           |    AS mismatch_rows,
           |  count(CASE WHEN NOT (($ae) IS NOT DISTINCT FROM ($be)) THEN 1 END) = 0
           |    AS identical
           |FROM orders""".stripMargin
      pairs.mkString("", " UNION ALL ", " ORDER BY col_a, col_b")
    },

    // the d16 md5 bucket + the same three rollups from the cell frame
    "q_d82_split_balance" ->
      """WITH b AS (SELECT CAST(lang AS VARCHAR) AS stratum,
        |  list_reduce(list_transform(range(1, 9),
        |    i -> strpos('0123456789abcdef', substr(md5(text), CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) % 100 AS bkt FROM documents),
        |s AS (SELECT CASE WHEN bkt < 80 THEN 'train'
        |    WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split, stratum FROM b),
        |c AS (SELECT split, stratum, count(*) AS rows FROM s GROUP BY 1, 2),
        |st AS (SELECT split, sum(rows) AS st FROM c GROUP BY 1),
        |gt AS (SELECT stratum, sum(rows) AS gt FROM c GROUP BY 1),
        |g AS (SELECT sum(rows) AS g FROM c),
        |r AS (SELECT split, stratum, rows,
        |  CAST((2*rows*10000 + greatest(st,1)) // (2*greatest(st,1)) AS BIGINT)
        |    AS share_bp,
        |  CAST((2*gt*10000 + greatest(g,1)) // (2*greatest(g,1)) AS BIGINT)
        |    AS global_bp
        |  FROM c JOIN st USING (split) JOIN gt USING (stratum) CROSS JOIN g)
        |SELECT split, stratum, rows, share_bp, global_bp,
        |  CAST(abs(share_bp - global_bp) AS BIGINT) AS dev_bp
        |FROM r ORDER BY split, stratum""".stripMargin,

    // exact-regime windowed counts; epoch-aligned 6h buckets
    "q_d81_windowed_freq" ->
      """SELECT (epoch_us(ts) // 21600000000) * 21600000000 AS window_start,
        |  event_type AS item, count(*) AS est, count(*) AS lb, count(*) AS ub
        |FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // per-window exact distincts from the same epoch-aligned 6h
    // buckets; the 1.0 claim asserts the HLL estimate sat within 5%
    "q_d95_windowed_distinct" ->
      """SELECT (epoch_us(ts) // 21600000000) * 21600000000 AS window_start,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
        |  CAST(1.0 AS DOUBLE) AS within_5pct
        |FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // bigram margins + N from the same pair frame; identical product
    // order so the ln sees bit-identical inputs; guard pinned at 1
    "q_d80_pmi" ->
      """WITH tok AS (SELECT regexp_split_to_array(trim(text), ' +') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |bg AS (SELECT unnest(generate_series(2, len(t))) AS i, t FROM tok
        |  WHERE len(t) >= 2),
        |p AS (SELECT t[i-1] AS w1, t[i] AS w2 FROM bg),
        |pc AS (SELECT w1, w2, count(*) AS cnt FROM p GROUP BY 1, 2),
        |l AS (SELECT w1, sum(cnt) AS cx FROM pc GROUP BY 1),
        |r AS (SELECT w2, sum(cnt) AS cy FROM pc GROUP BY 1),
        |n AS (SELECT sum(cnt) AS n FROM pc),
        |s AS (SELECT pc.w1, pc.w2, cnt,
        |  CAST(round(ln(CAST(n AS DOUBLE)*cnt
        |    / (CAST(cx AS DOUBLE)*cy))*1e6) AS BIGINT) AS pmi_micro
        |  FROM pc JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN n
        |  WHERE cnt >= 5),
        |top AS (SELECT * FROM s ORDER BY pmi_micro DESC, w1, w2 LIMIT 15)
        |SELECT * FROM (
        |  SELECT w1, w2, cnt, pmi_micro FROM top
        |  UNION ALL SELECT 'zz_guard', '', -1, 1)
        |ORDER BY pmi_micro DESC, w1, w2""".stripMargin,

    // pattern census re-derived from the same doctoring
    "q_a23_missing" ->
      s"""WITH d AS ($doctoredEventsSql),
         |p AS (SELECT
         |  (CASE WHEN ts IS NULL THEN '1' ELSE '0' END) ||
         |  (CASE WHEN user_id IS NULL THEN '1' ELSE '0' END) ||
         |  (CASE WHEN value IS NULL THEN '1' ELSE '0' END) ||
         |  (CASE WHEN props IS NULL THEN '1' ELSE '0' END) AS pattern
         |  FROM d),
         |g AS (SELECT pattern, count(*) AS rows FROM p GROUP BY 1),
         |t AS (SELECT sum(rows) AS t FROM g)
         |SELECT pattern, rows,
         |  ((2*rows*10000 + greatest(t,1)) // (2*greatest(t,1))) / 100.0 AS pct
         |FROM g CROSS JOIN t ORDER BY pattern""".stripMargin,

    "q_a23b_comissing" -> {
      val cols = Seq("ts", "user_id", "value", "props")
      val pairs = for {
        (a, i) <- cols.zipWithIndex; (b, j) <- cols.zipWithIndex if i < j
      } yield
        s"""SELECT '$a' AS col_a, '$b' AS col_b,
           |  count(CASE WHEN $a IS NULL AND $b IS NULL THEN 1 END) AS both_null,
           |  count(CASE WHEN $a IS NULL THEN 1 END) AS a_null,
           |  count(CASE WHEN $b IS NULL THEN 1 END) AS b_null
           |FROM d""".stripMargin
      s"WITH d AS ($doctoredEventsSql)\n" +
        pairs.mkString("", " UNION ALL ", " ORDER BY col_a, col_b")
    },

    // sha256 is sha256 in both engines; token halves re-derived
    "q_c27_pseudonym" ->
      """SELECT c_custkey,
        |  substr(sha256('graft-r11:' || c_name), 1, 16) AS token,
        |  true AS stable
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // HUGEINT-exact sums, the same sign-split integer division
    "q_a22_trend" ->
      """WITH o AS (SELECT o_orderpriority AS g,
        |  date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS x,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT) AS y
        |  FROM orders WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL),
        |a AS (SELECT g, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |  sum(x*y) AS sxy, sum(x*x) AS sxx FROM o GROUP BY 1),
        |b AS (SELECT g, n, sx, sy, n*sxy - sx*sy AS num,
        |  n*sxx - sx*sx AS den FROM a),
        |c AS (SELECT g, n, num, den, sy*den - num*sx AS inum,
        |  n*den AS iden FROM b)
        |SELECT g AS o_orderpriority, CAST(n AS BIGINT) AS n,
        |  CASE WHEN den <= 0 THEN NULL
        |    WHEN num < 0 THEN -CAST((2*(-num)*1000000 + den) // (2*den) AS BIGINT)
        |    ELSE CAST((2*num*1000000 + den) // (2*den) AS BIGINT)
        |  END AS slope_micro,
        |  CASE WHEN iden <= 0 THEN NULL
        |    WHEN inum < 0 THEN -CAST((2*(-inum)*1000000 + iden) // (2*iden) AS BIGINT)
        |    ELSE CAST((2*inum*1000000 + iden) // (2*iden) AS BIGINT)
        |  END AS intercept_micro
        |FROM c ORDER BY 1""".stripMargin,

    // the same first-touch chain as CTE steps
    "q_d79_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_type FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |s0 AS (SELECT user_id AS u, min(tsu) AS t FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |s1 AS (SELECT user_id AS u, min(tsu) AS t FROM e JOIN s0
        |  ON e.user_id = s0.u AND e.tsu > s0.t
        |  WHERE event_type = 'click' GROUP BY 1),
        |s2 AS (SELECT user_id AS u, min(tsu) AS t FROM e JOIN s1
        |  ON e.user_id = s1.u AND e.tsu > s1.t
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |c AS (SELECT 0 AS step_index, 'view' AS step,
        |    (SELECT count(*) FROM s0) AS users
        |  UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1)
        |  UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2)),
        |f AS (SELECT users AS fu FROM c WHERE step_index = 0)
        |SELECT step_index, step, users,
        |  ((2*users*10000 + greatest(fu, 1)) // (2*greatest(fu, 1))) / 100.0
        |    AS conversion_pct
        |FROM c CROSS JOIN f ORDER BY step_index""".stripMargin,

    // cum-count cross-products re-derived over the merged value set
    "q_d78_ks_drift" ->
      """WITH a AS (SELECT CAST(l_quantity AS DOUBLE) AS v, count(*) AS ca
        |  FROM lineitem WHERE l_discount > 0.05 AND l_quantity IS NOT NULL
        |  GROUP BY 1),
        |b AS (SELECT CAST(l_quantity AS DOUBLE) AS v, count(*) AS cb
        |  FROM lineitem WHERE l_discount <= 0.05 AND l_quantity IS NOT NULL
        |  GROUP BY 1),
        |m AS (SELECT COALESCE(a.v, b.v) AS v, COALESCE(ca, 0) AS ca,
        |  COALESCE(cb, 0) AS cb FROM a FULL OUTER JOIN b ON a.v = b.v),
        |cum AS (SELECT sum(ca) OVER (ORDER BY v) AS cuma,
        |  sum(cb) OVER (ORDER BY v) AS cumb FROM m),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |  CAST(sum(cb) AS BIGINT) AS nb FROM m),
        |g AS (SELECT max(abs(cuma*nb - cumb*na)) AS ks_num FROM cum CROSS JOIN t)
        |SELECT na AS n_a, nb AS n_b,
        |  CAST((2*ks_num*10000 + greatest(na*nb, 1))
        |    // (2*greatest(na*nb, 1)) AS BIGINT) / 10000.0 AS ks
        |FROM g CROSS JOIN t""".stripMargin,

    // same integer bucket + a generated 32-term shift/mask interleave
    "q_d77_zorder" -> {
      val terms = (0 until 16).flatMap(i => Seq(
        s"(((b1 >> $i) & 1) << ${2 * i})",
        s"(((b2 >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
      s"""WITH o AS (SELECT o_orderkey, o_custkey AS v1,
         |  date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS v2
         |  FROM orders),
         |b AS (SELECT min(v1) AS mn1, max(v1) AS mx1,
         |  min(v2) AS mn2, max(v2) AS mx2 FROM o),
         |k AS (SELECT o_orderkey,
         |  ((v1 - mn1) * 65536) // (mx1 - mn1 + 1) AS b1,
         |  ((v2 - mn2) * 65536) // (mx2 - mn2 + 1) AS b2
         |  FROM o CROSS JOIN b)
         |SELECT o_orderkey, $terms AS z_value FROM k
         |ORDER BY o_orderkey""".stripMargin
    },

    // the 3 iterations unrolled as CTE pairs (contribs, ranks) in the
    // same integer micro arithmetic
    "q_d75_pagerank" -> {
      val iters = (1 to 3).map { i =>
        val prev = if (i == 1) "r0" else s"r${i - 1}"
        s"""c$i AS (SELECT dst AS node, sum((r*85) // (100*deg)) AS s
           |  FROM e JOIN $prev ON e.src = $prev.node JOIN deg USING (src)
           |  GROUP BY 1),
           |r$i AS (SELECT nodes.node, (150000 // n) + COALESCE(s, 0) AS r
           |  FROM nodes CROSS JOIN n LEFT JOIN c$i ON nodes.node = c$i.node)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH e AS (
         |  SELECT DISTINCT doc_id % 50 AS src, (doc_id*7+3) % 50 AS dst
         |    FROM documents WHERE doc_id % 50 <> (doc_id*7+3) % 50
         |  UNION
         |  SELECT DISTINCT doc_id % 50, ((doc_id // 50)*13 + 1) % 50
         |    FROM documents WHERE doc_id % 50 <> ((doc_id // 50)*13 + 1) % 50),
         |nodes AS (SELECT DISTINCT src AS node FROM e
         |  UNION SELECT DISTINCT dst FROM e),
         |n AS (SELECT count(*) AS n FROM nodes),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |r0 AS (SELECT node, 1000000 // n AS r FROM nodes CROSS JOIN n),
         |$iters
         |SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r3
         |ORDER BY node""".stripMargin
    },

    // presence per needle re-derived with strpos; UNION ALL branches
    "q_d74_canary" ->
      """SELECT doc_id, needle_id, needle FROM (
        |  SELECT doc_id, 0 AS needle_id, 'hash join' AS needle FROM documents
        |    WHERE doc_id % 3 = 0 AND strpos(text, 'hash join') > 0
        |  UNION ALL SELECT doc_id, 1, 'slow scan' FROM documents
        |    WHERE doc_id % 3 = 0 AND strpos(text, 'slow scan') > 0
        |  UNION ALL SELECT doc_id, 2, 'merge' FROM documents
        |    WHERE doc_id % 3 = 0 AND strpos(text, 'merge') > 0
        |  UNION ALL SELECT doc_id, 3, 'canary_absent_xyz' FROM documents
        |    WHERE doc_id % 3 = 0 AND strpos(text, 'canary_absent_xyz') > 0)
        |ORDER BY doc_id, needle_id""".stripMargin,

    // equality + time-range join re-derived on epoch-µs integers
    "q_d73_stream_join" ->
      """WITH b AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events
        |  WHERE user_id IS NOT NULL),
        |c AS (SELECT event_id AS c_id, user_id AS cu, us AS c_us FROM b
        |  WHERE event_id % 7 = 0),
        |i AS (SELECT event_id AS i_id, user_id AS iu, us AS i_us FROM b
        |  WHERE event_id % 97 = 0)
        |SELECT c_id, i_id, c_us FROM c JOIN i
        |  ON cu = iu AND c_us >= i_us AND c_us <= i_us + 1800000000
        |ORDER BY 1, 2""".stripMargin,

    // the textbook inequality-join formulation — different plan
    // (nested loop is fine at oracle scale), same semantics
    "q_d72_range_join" ->
      """WITH b AS (SELECT event_id, epoch_us(ts) AS pt FROM events),
        |p AS (SELECT * FROM b WHERE event_id % 7 = 0),
        |i AS (SELECT event_id AS iv_id, pt AS s, pt + 1800000000 AS e
        |  FROM b WHERE event_id % 97 = 0)
        |SELECT p.event_id, iv_id, pt FROM p JOIN i ON pt >= s AND pt <= e
        |ORDER BY 1, 2""".stripMargin,

    // below-k cells re-derived; the same null rules (null QI groups
    // together, null sensitive counts as one value)
    "q_d71_k_anon" ->
      """SELECT c_nationkey, CAST(floor(c_acctbal / 50) AS BIGINT) AS band,
        |  count(*) AS grp_size,
        |  count(DISTINCT c_mktsegment)
        |    + max(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS l_div
        |FROM customer GROUP BY 1, 2 HAVING count(*) < 4
        |ORDER BY 1, 2""".stripMargin,

    "q_d71b_k_report" ->
      """WITH g AS (SELECT count(*) AS sz FROM customer
        |  GROUP BY c_nationkey, floor(c_acctbal / 50))
        |SELECT CAST(COALESCE(sum(sz), 0) AS BIGINT) AS total_rows,
        |  count(*) AS qi_cells,
        |  count(*) FILTER (WHERE sz < 4) AS cells_below_k,
        |  CAST(COALESCE(sum(sz) FILTER (WHERE sz < 4), 0) AS BIGINT)
        |    AS rows_at_risk,
        |  COALESCE(min(sz), 0) AS min_cell_size,
        |  ((2*COALESCE(sum(sz) FILTER (WHERE sz < 4), 0)*10000
        |      + greatest(COALESCE(sum(sz), 0), 1))
        |    // (2*greatest(COALESCE(sum(sz), 0), 1))) / 100.0 AS risk_pct
        |FROM g""".stripMargin,

    // the canonicalization chain mirrored regexp-for-regexp (RE2 both
    // sides; DuckDB replacement refs are \1 where Spark's are $1),
    // then the same per-domain rank window
    "q_d70_url_canon" ->
      ("""WITH d AS (SELECT doc_id, n_chars,
        |  (CASE WHEN doc_id % 4 = 0 THEN 'HTTPS' ELSE 'http' END) || '://' ||
        |  'WWW.Site' || CAST(doc_id % 50 AS VARCHAR) || '.Example.COM' ||
        |  (CASE WHEN doc_id % 7 = 0 THEN
        |     (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE ':80' END)
        |   WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END) ||
        |  '/Articles/item' || CAST(doc_id AS VARCHAR) ||
        |  (CASE WHEN doc_id % 13 = 0 THEN '/' ELSE '' END) ||
        |  (CASE WHEN doc_id % 3 = 0
        |     THEN '?utm_source=x&utm_campaign=y&id=' || CAST(doc_id % 20 AS VARCHAR)
        |   WHEN doc_id % 3 = 1
        |     THEN '?id=' || CAST(doc_id % 20 AS VARCHAR) || '&gclid=abc'
        |   ELSE '' END) ||
        |  (CASE WHEN doc_id % 5 = 0 THEN '#Section-2' ELSE '' END) AS url
        |  FROM documents WHERE doc_id % 2 = 0),
        |c AS (SELECT doc_id, n_chars,
        |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostraw,
        |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1) AS rest0
        |  FROM d),
        |c2 AS (SELECT doc_id, n_chars, scheme,
        |  CASE WHEN scheme = 'http' THEN regexp_replace(hostraw, ':80$', '')
        |       WHEN scheme = 'https' THEN regexp_replace(hostraw, ':443$', '')
        |       ELSE hostraw END AS host,
        |  regexp_replace(regexp_replace(regexp_replace(rest0, '#.*$', ''),
        |    '[?&](utm_[A-Za-z0-9_]*|gclid|fbclid)=[^&]*', '', 'g'),
        |    '^([^?&]*)&', """.stripMargin + "'\\1?'" + """) AS promoted,
        |  regexp_extract(regexp_replace(regexp_replace(hostraw, ':[0-9]+$', ''),
        |    '^www\.', ''), '([^.]+\.[^.]+)$', 1) AS domain
        |  FROM c),
        |c3 AS (SELECT doc_id, n_chars, domain,
        |  scheme || '://' || host ||
        |  (CASE WHEN strpos(promoted, '?') = 0
        |     THEN regexp_replace(promoted, '/+$', '')
        |     ELSE promoted END) AS url_canon
        |  FROM c2),
        |r AS (SELECT doc_id, url_canon, domain,
        |  row_number() OVER (PARTITION BY domain
        |    ORDER BY n_chars DESC, doc_id ASC) AS rk FROM c3)
        |SELECT doc_id, url_canon, domain, rk <= 5 AS kept
        |FROM r ORDER BY doc_id""".stripMargin),

    // PSL longest-match re-derived end-to-end: host extraction, the
    // label candidates (generate_series up to n — DuckDB's unbounded
    // equivalent of the Spark side's maxSuffixLabels=5 chain; hosts
    // here have <= 5 labels), max matched k, sk+1-label slice, and
    // the null/default branches
    "q_d70b_psl_domain" ->
      """WITH dim(suffix) AS (VALUES ('com'),('uk'),('co.uk'),('io'),('github.io'),('org')),
        |u AS (SELECT doc_id,
        |  CASE WHEN doc_id % 13 = 0 THEN 'https://co.uk/'
        |       WHEN doc_id % 4 = 0 THEN 'https://www.shop' || CAST(doc_id % 7 AS VARCHAR) || '.example.co.uk/p/' || CAST(doc_id AS VARCHAR)
        |       WHEN doc_id % 4 = 1 THEN 'https://blog' || CAST(doc_id % 5 AS VARCHAR) || '.example.com/p/' || CAST(doc_id AS VARCHAR)
        |       WHEN doc_id % 4 = 2 THEN 'https://user' || CAST(doc_id % 9 AS VARCHAR) || '.github.io/p/' || CAST(doc_id AS VARCHAR)
        |       ELSE 'https://site' || CAST(doc_id % 11 AS VARCHAR) || '.internal.zz9/p/' || CAST(doc_id AS VARCHAR) END AS url
        |  FROM documents),
        |h AS (SELECT doc_id, regexp_replace(regexp_replace(
        |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
        |    ':[0-9]+$', ''), '^www\.', '') AS host FROM u),
        |l AS (SELECT doc_id, string_split(host, '.') AS labels,
        |  len(string_split(host, '.')) AS n FROM h),
        |c AS (SELECT doc_id, k, array_to_string(labels[n-k+1:n], '.') AS cand
        |      FROM (SELECT doc_id, labels, n, unnest(generate_series(1, n)) AS k FROM l)),
        |m AS (SELECT doc_id, max(k) AS sk FROM c JOIN dim ON c.cand = dim.suffix GROUP BY 1),
        |r AS (SELECT l.doc_id, l.labels, l.n, COALESCE(m.sk, 1) AS sk
        |      FROM l LEFT JOIN m USING (doc_id))
        |SELECT doc_id,
        |  CASE WHEN array_to_string(labels, '.') = '' THEN NULL
        |       WHEN n <= sk THEN NULL
        |       ELSE array_to_string(labels[n-sk:n], '.') END AS registered_domain
        |FROM r ORDER BY doc_id""".stripMargin,

    // full-PSL wildcard/exception semantics: each doctored host
    // family's registered domain hand-derived from the published PSL
    // algorithm (co.uk exact-longest; *.ck public suffix = one label
    // deeper; !www.ck carve-out; *.mm; unlisted TLD default rule; a
    // host that IS a public suffix -> null), row for row by doc_id
    "q_d70c_psl_wildcard" ->
      """SELECT doc_id,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'example.co.uk'
        |    WHEN 1 THEN 'b.test' || CAST(doc_id % 5 AS VARCHAR) || '.ck'
        |    WHEN 2 THEN 'www.ck'
        |    WHEN 3 THEN 'x.files' || CAST(doc_id % 3 AS VARCHAR) || '.mm'
        |    WHEN 4 THEN 'example.zz9'
        |    ELSE NULL END AS registered_domain
        |FROM documents ORDER BY doc_id""".stripMargin,

    // exact-range certification: under no purge the sketch returns
    // the exact multiset counts, so est = lb = ub = exact and
    // max_error = 0 — all oracle-recomputable
    "q_d69_freq_items" ->
      """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS t
        |  FROM documents),
        |g AS (SELECT t AS item, count(*) AS est FROM tok
        |  WHERE length(t) > 0 GROUP BY 1),
        |n AS (SELECT sum(est) AS sl FROM g)
        |SELECT item, est, est AS lb, est AS ub,
        |  CAST(0 AS BIGINT) AS max_error,
        |  CAST(sl AS BIGINT) AS stream_length
        |FROM g CROSS JOIN n ORDER BY item""".stripMargin,

    "q_d65_bloom_guard" ->
      """WITH st AS (SELECT DISTINCT md5(text) AS k FROM documents WHERE doc_id % 3 = 0),
        |b AS (SELECT doc_id, md5(text) AS k FROM documents WHERE doc_id % 3 = 1
        |  UNION ALL SELECT doc_id + 1000000, md5(text) FROM documents
        |  WHERE doc_id % 3 = 0 AND doc_id % 5 = 0)
        |SELECT doc_id, k IN (SELECT k FROM st) AS exact_dup,
        |  CAST(1.0 AS DOUBLE) AS nfn_claim
        |FROM b ORDER BY doc_id""".stripMargin,

    // tf-idf keywords re-derived: tf groupBy, df from the distinct
    // (doc, token) frame, micro-quantized idf, integer scores, rank-3
    // window with the same (score desc, token asc) total order
    "q_d60_keywords" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        |tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), ' +')) AS token
        |  FROM d),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |  WHERE length(token) > 0 GROUP BY 1, 2),
        |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM d),
        |idf AS (SELECT token,
        |  CAST(round(ln((n + 1) / (df + 1)) * 1e6) AS BIGINT) AS idf_micro
        |  FROM dfq CROSS JOIN n),
        |sc AS (SELECT tf.doc_id, tf.token, tf.tf,
        |  tf.tf * idf.idf_micro AS score_micro FROM tf JOIN idf USING (token)),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |  ORDER BY score_micro DESC, token ASC) AS rn FROM sc)
        |SELECT * FROM (
        |  SELECT doc_id, token, tf,
        |    CAST(round(score_micro / 100.0) AS BIGINT) / 10000.0 AS score
        |  FROM rk WHERE rn <= 3
        |  UNION ALL SELECT CAST(-1 AS BIGINT), 'idf_guard', CAST(-1 AS BIGINT), 1.0)
        |ORDER BY doc_id, token""".stripMargin,

    // JS divergence re-derived: per-side unigram models, full-outer
    // vocab join, add-one smoothing over the joint vocab, nano-nat
    // integer term sums, tie-safe 4-dp displays
    "q_d61_js_div" ->
      """WITH ta AS (SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS token
        |  FROM documents WHERE lang = 'en'),
        |ca AS (SELECT token, count(*) AS ac FROM ta WHERE length(token) > 0 GROUP BY 1),
        |tb AS (SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS token
        |  FROM documents WHERE lang <> 'en'),
        |cb AS (SELECT token, count(*) AS bc FROM tb WHERE length(token) > 0 GROUP BY 1),
        |j AS (SELECT COALESCE(ca.token, cb.token) AS token,
        |  COALESCE(ac, 0) AS ac, COALESCE(bc, 0) AS bc
        |  FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
        |tot AS (SELECT sum(ac) AS tta, sum(bc) AS ttb, count(*) AS v FROM j),
        |terms AS (SELECT
        |  CAST(round(((ac + 1) / (tta + v)) * ln(((ac + 1) / (tta + v))
        |    / ((((ac + 1) / (tta + v)) + ((bc + 1) / (ttb + v))) / 2.0)) * 1e9) AS BIGINT) AS tp,
        |  CAST(round(((bc + 1) / (ttb + v)) * ln(((bc + 1) / (ttb + v))
        |    / ((((ac + 1) / (tta + v)) + ((bc + 1) / (ttb + v))) / 2.0)) * 1e9) AS BIGINT) AS tq
        |  FROM j CROSS JOIN tot),
        |s AS (SELECT COALESCE(sum(tp), 0) AS kp, COALESCE(sum(tq), 0) AS kq FROM terms)
        |SELECT metric, value FROM (
        |  SELECT 'js_nats' AS metric,
        |    CAST(round((kp + kq) / 200000.0) AS BIGINT) / 10000.0 AS value FROM s
        |  UNION ALL SELECT 'kl_pm_nats', CAST(round(kp / 100000.0) AS BIGINT) / 10000.0 FROM s
        |  UNION ALL SELECT 'kl_qm_nats', CAST(round(kq / 100000.0) AS BIGINT) / 10000.0 FROM s
        |  UNION ALL SELECT 'vocab', CAST(v AS DOUBLE) FROM tot
        |  UNION ALL SELECT 'total_a', CAST(tta AS DOUBLE) FROM tot
        |  UNION ALL SELECT 'total_b', CAST(ttb AS DOUBLE) FROM tot
        |  UNION ALL SELECT 'term_guard', 1.0)
        |ORDER BY metric""".stripMargin,

    // every corpus x bench cosine recomputed; argmax ties on the
    // LATER bank index = larger bench_id (the bank is ordered by
    // bench_id ascending), hence bench_id DESC in the row_number
    "q_d62_semantic_decontam" ->
      """WITH b AS (SELECT vec_id AS bench_id, CAST(embedding AS DOUBLE[]) AS bv
        |  FROM embeddings WHERE vec_id % 50 = 0),
        |s AS (SELECT e.vec_id, b.bench_id,
        |  list_dot_product(CAST(e.embedding AS DOUBLE[]), b.bv)
        |    / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
        |       * sqrt(list_dot_product(b.bv, b.bv))) AS sim
        |  FROM embeddings e CROSS JOIN b),
        |r AS (SELECT vec_id, bench_id, sim,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, bench_id DESC) AS rn
        |  FROM s)
        |SELECT vec_id, bench_id, round(sim, 4) AS max_cosine,
        |  round(sim, 4) >= 0.9 AS contaminated
        |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    // D62b: the d62 argmax math on a CELL-BLOCKED pair table — both
    // sides assigned to their argmax-cosine centroid (later cid wins,
    // the q_d33 rule; zero-norm vectors never pair), only same-cell
    // (corpus, bench) pairs scored, and the final LEFT join keeps
    // bench-free-cell corpus rows as uncontaminated nulls
    "q_d62b_blocked_decontam" ->
      """WITH c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
        |  CAST(embedding AS DOUBLE[]) AS cv FROM embeddings ORDER BY vec_id LIMIT 4),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |b AS (SELECT vec_id AS bench_id, CAST(embedding AS DOUBLE[]) AS bv
        |  FROM embeddings WHERE vec_id % 2 = 1),
        |easg AS (SELECT vec_id, cid FROM (
        |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_dot_product(e.v, c.cv)
        |      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
        |      DESC, cid DESC) AS rn
        |  FROM e CROSS JOIN c
        |  WHERE list_dot_product(e.v, e.v) > 0) WHERE rn = 1),
        |basg AS (SELECT bench_id, cid FROM (
        |  SELECT b.bench_id, c.cid, row_number() OVER (PARTITION BY b.bench_id
        |    ORDER BY list_dot_product(b.bv, c.cv)
        |      / (sqrt(list_dot_product(b.bv, b.bv)) * sqrt(list_dot_product(c.cv, c.cv)))
        |      DESC, cid DESC) AS rn
        |  FROM b CROSS JOIN c
        |  WHERE list_dot_product(b.bv, b.bv) > 0) WHERE rn = 1),
        |s AS (SELECT e.vec_id, b.bench_id,
        |  list_dot_product(e.v, b.bv)
        |    / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(b.bv, b.bv))) AS sim
        |  FROM e JOIN easg ea ON e.vec_id = ea.vec_id
        |       JOIN basg ba ON ea.cid = ba.cid
        |       JOIN b ON b.bench_id = ba.bench_id),
        |r AS (SELECT vec_id, bench_id, sim,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, bench_id DESC) AS rn
        |  FROM s),
        |best AS (SELECT vec_id, bench_id, round(sim, 4) AS mc
        |  FROM r WHERE rn = 1)
        |SELECT e.vec_id, best.bench_id, best.mc AS max_cosine,
        |  coalesce(best.mc >= 0.9, false) AS contaminated
        |FROM e LEFT JOIN best ON e.vec_id = best.vec_id
        |ORDER BY e.vec_id""".stripMargin,

    // JL projection re-derived bit-for-bit: the md5-nibble ±1 sign
    // list per output dim, list_dot_product's left-to-right sum, the
    // division applied to the sum, tie-safe 4-dp rounding
    "q_d63_jl_project" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 5 = 0),
        |p AS (SELECT vec_id, list_transform(range(0, 8), j ->
        |  round(list_dot_product(v, list_transform(range(0, 64), i ->
        |    CASE WHEN strpos('0123456789abcdef',
        |      substr(md5('jl:jl:' || CAST(j AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1)) - 1 < 8
        |    THEN 1.0 ELSE -1.0 END)) / sqrt(8) * 1e4) / 10000.0) AS pr
        |  FROM e)
        |SELECT vec_id, pr[1] AS p0, pr[2] AS p1, pr[3] AS p2, pr[4] AS p3,
        |  pr[5] AS p4, pr[6] AS p5, pr[7] AS p6, pr[8] AS p7
        |FROM p ORDER BY vec_id""".stripMargin,

    // DSIR re-derived end-to-end: md5-horner feature buckets, add-one
    // smoothed target/raw bucket models, micro-nat log-ratio table,
    // exact integer per-doc sums, content-hash Gumbel keys, top-50
    "q_d46_dsir" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text),' +') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |uni AS (SELECT doc_id, unnest(t) AS f FROM toks),
        |bi AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS f
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
        |        FROM toks WHERE len(t) >= 2)),
        |feats AS (SELECT doc_id, list_reduce(list_transform(range(1, 9),
        |    i -> strpos('0123456789abcdef', substr(md5(f), CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) % 10000 AS bucket
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
        |fc AS (SELECT doc_id, bucket, count(*) AS cnt FROM feats GROUP BY 1, 2),
        |tc AS (SELECT bucket, sum(cnt) AS tcnt FROM fc
        |  JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY 1),
        |rc AS (SELECT bucket, sum(cnt) AS rcnt FROM fc GROUP BY 1),
        |m AS (SELECT COALESCE(tc.bucket, rc.bucket) AS bucket,
        |  COALESCE(tcnt, 0) AS tcnt, COALESCE(rcnt, 0) AS rcnt
        |  FROM tc FULL OUTER JOIN rc ON tc.bucket = rc.bucket),
        |tot AS (SELECT sum(tcnt) AS tt, sum(rcnt) AS rt FROM m),
        |lr AS (SELECT bucket, CAST(round((ln((tcnt + 1) / (tt + 10000))
        |  - ln((rcnt + 1) / (rt + 10000))) * 1e6) AS BIGINT) AS lrm
        |  FROM m CROSS JOIN tot),
        |w AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS feat_count,
        |  CAST(sum(cnt * lrm) AS BIGINT) AS lr_micro
        |  FROM fc JOIN lr USING (bucket) GROUP BY 1),
        |g AS (SELECT doc_id, feat_count, lr_micro,
        |  CAST(round(lr_micro / 100.0) AS BIGINT) / 10000.0 AS log_ratio,
        |  lr_micro + CAST(round(-ln(-ln((list_reduce(list_transform(range(1, 9),
        |    i -> strpos('0123456789abcdef',
        |      substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) + 0.5) / 4294967296.0)) * 1e6) AS BIGINT) AS gumbel_key
        |  FROM w),
        |sel AS (SELECT doc_id, feat_count, log_ratio FROM g
        |  ORDER BY gumbel_key DESC, doc_id LIMIT 50)
        |SELECT * FROM (
        |  SELECT doc_id, feat_count, log_ratio, 'sel' AS tag FROM sel
        |  UNION ALL SELECT -1, -1, 1.0, 'lambda_guard'
        |  UNION ALL SELECT -2, -1, 1.0, 'gumbel_guard')
        |ORDER BY tag, doc_id""".stripMargin,

    // argmax cosine vs the first-4-by-id centroid bank; LATER
    // centroid index wins exact ties (the native expression's
    // documented ordering), hence cid DESC in the row_number
    "q_d29_cluster_assign" ->
      """WITH c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
        |  CAST(embedding AS DOUBLE[]) AS cv FROM embeddings ORDER BY vec_id LIMIT 4),
        |s AS (SELECT e.vec_id, c.cid,
        |  list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv)
        |    / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
        |       * sqrt(list_dot_product(c.cv, c.cv))) AS sim
        |  FROM embeddings e CROSS JOIN c)
        |SELECT vec_id, CAST(cid AS INT) AS cluster_id FROM (
        |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rn
        |  FROM s) WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    // batch spans vs the store fingerprint set, both re-derived from
    // the same window arithmetic; membership via IN on the distinct
    // store fingerprints
    "q_d51_novel_spans" ->
      """WITH sp AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-7)) AS p
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text),' +') AS t
        |        FROM documents WHERE length(trim(text)) > 0)
        |  WHERE len(t) >= 8),
        |h AS (SELECT doc_id,
        |  substr(md5(list_aggregate(t[p:p+7], 'string_agg', ' ')), 1, 15) AS fp FROM sp),
        |store AS (SELECT DISTINCT fp FROM h WHERE doc_id % 3 = 0),
        |b AS (SELECT doc_id, fp, fp IN (SELECT fp FROM store) AS stale
        |  FROM h WHERE doc_id % 3 = 1)
        |SELECT doc_id, count(*) AS span_count,
        |  count(CASE WHEN stale THEN 1 END) AS stale_span_count,
        |  round(count(CASE WHEN stale THEN 1 END) * 10000.0 / count(*)) / 10000.0 AS stale_frac
        |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // winnowing re-derived: the 15-hex-digit md5 head orders exactly
    // like Spark's 60-bit long (fixed-width hex ⇒ lexicographic =
    // numeric), so min-in-window, distinct, df-cap and the bucketed
    // pair join all reproduce in string space
    "q_d50_winnow" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text),' +') AS t
        |  FROM documents WHERE doc_id%2=0 AND length(trim(text)) > 0),
        |d2 AS (SELECT doc_id, t FROM d WHERE len(t) >= 5),
        |s AS (SELECT doc_id, unnest(generate_series(1, len(t)-4)) AS p, t FROM d2),
        |h AS (SELECT doc_id, p - 1 AS sp,
        |  substr(md5(list_aggregate(t[p:p+4], 'string_agg', ' ')), 1, 15) AS fp FROM s),
        |w AS (SELECT doc_id, sp,
        |  min(fp) OVER (PARTITION BY doc_id ORDER BY sp
        |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mn,
        |  count(*) OVER (PARTITION BY doc_id) AS n FROM h),
        |f AS (SELECT DISTINCT doc_id, mn AS fp FROM w WHERE sp <= greatest(n - 4, 0)),
        |rare AS (SELECT fp FROM (SELECT fp, count(*) AS c FROM f GROUP BY 1) WHERE c <= 1000),
        |fr AS (SELECT doc_id, fp FROM f WHERE fp IN (SELECT fp FROM rare))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
        |FROM fr a JOIN fr b USING (fp) WHERE a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY id_a, id_b""".stripMargin,

    // keep-first re-derived: row_number over (doc, pos) within each
    // line picks the same keeper as Spark's min(struct); 1-based vs
    // 0-based pos washes out (only the ORDER matters to the argmin)
    "q_d49_keep_first_lines" ->
      """WITH d AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id%3=0 THEN chr(10) || 'Shared attribution line' ELSE '' END ||
        |  CASE WHEN doc_id%2=0 THEN chr(10) || 'Common footer quote' ELSE '' END AS text
        |  FROM documents WHERE doc_id%4=0),
        |l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
        |  unnest(range(1, len(string_split(text, chr(10)))+1)) AS pos FROM d),
        |el AS (SELECT * FROM l WHERE length(line) >= 1),
        |rk AS (SELECT doc_id, pos, line,
        |  row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn FROM el),
        |k AS (SELECT doc_id, pos, line FROM rk WHERE rn = 1
        |  UNION ALL SELECT doc_id, pos, line FROM l WHERE length(line) < 1),
        |r AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        |  FROM k GROUP BY 1)
        |SELECT d.doc_id AS doc_id, coalesce(r.text, '') AS text
        |FROM d LEFT JOIN r USING (doc_id) ORDER BY doc_id""".stripMargin,

    // d29's assignment CTE + sqrt-temperature quotas floor-allocated
    // in integer arithmetic + md5-rank member selection per cluster
    "q_d48_cluster_sample" ->
      """WITH c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
        |  CAST(embedding AS DOUBLE[]) AS cv FROM embeddings ORDER BY vec_id LIMIT 4),
        |s AS (SELECT e.vec_id, c.cid,
        |  list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv)
        |    / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
        |       * sqrt(list_dot_product(c.cv, c.cv))) AS sim
        |  FROM embeddings e CROSS JOIN c),
        |asg AS (SELECT vec_id, CAST(cid AS INT) AS cluster_id FROM (
        |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rn
        |  FROM s) WHERE rn = 1),
        |sz AS (SELECT cluster_id, count(*) AS n FROM asg GROUP BY 1),
        |wq AS (SELECT cluster_id, n, CAST(round(sqrt(n) * 1e6) AS BIGINT) AS w FROM sz),
        |tot AS (SELECT sum(w) AS sw FROM wq),
        |qt AS (SELECT cluster_id, least(n, (100 * w) // sw) AS q FROM wq CROSS JOIN tot),
        |rk AS (SELECT vec_id, cluster_id, row_number() OVER (PARTITION BY cluster_id
        |  ORDER BY md5('cb:' || CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)) AS r FROM asg)
        |SELECT vec_id, cluster_id FROM rk JOIN qt USING (cluster_id)
        |WHERE r <= q ORDER BY vec_id""".stripMargin,

    "q_d30_oov" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text),' +')) AS token
        |  FROM documents WHERE length(trim(text)) > 0),
        |tok2 AS (SELECT doc_id, token FROM tok WHERE length(token) > 0),
        |v AS (SELECT token FROM (SELECT token, count(*) AS c FROM tok2 GROUP BY 1
        |      ORDER BY c DESC, token LIMIT 20)),
        |m AS (SELECT doc_id, count(*) AS token_count,
        |  count(CASE WHEN token NOT IN (SELECT token FROM v) THEN 1 END) AS oov_count
        |  FROM tok2 GROUP BY 1)
        |SELECT doc_id, token_count, oov_count,
        |  round(oov_count * 1.0 / token_count, 4) AS oov_rate
        |FROM m ORDER BY doc_id""".stripMargin,

    "q_d31_epoch_shuffle" ->
      """SELECT doc_id, md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        |FROM documents ORDER BY shuffle_key""".stripMargin,

    "q_d32_len_hist" ->
      """WITH d AS (SELECT CASE WHEN length(trim(text))=0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text),' +')) END AS n FROM documents),
        |g AS (SELECT CASE WHEN n=0 THEN 0 ELSE length(bin(n)) END AS bucket,
        |  count(*) AS docs, CAST(sum(n) AS BIGINT) AS tokens FROM d GROUP BY 1)
        |SELECT CAST(bucket AS INT) AS bucket,
        |  CAST(CASE WHEN bucket=0 THEN 0 ELSE (1::BIGINT << (bucket-1)) END AS BIGINT) AS lo,
        |  CAST(CASE WHEN bucket=0 THEN 0 ELSE (1::BIGINT << bucket) - 1 END AS BIGINT) AS hi,
        |  docs, tokens
        |FROM g ORDER BY bucket""".stripMargin,

    // assignment mirrors q_d29 (argmax cosine, later cid wins ties);
    // closure mirrors q_d21's recursive CTE; survivors = component
    // minima plus untouched vectors
    "q_d33_semantic_dedup" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000, CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id%20=0),
        |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
        |  CAST(embedding AS DOUBLE[]) AS cv FROM embeddings ORDER BY vec_id LIMIT 4),
        |s AS (SELECT e.vec_id, c.cid,
        |  list_dot_product(e.v, c.cv)
        |    / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) AS sim
        |  FROM corpus e CROSS JOIN c),
        |asg AS (SELECT vec_id, cid FROM (
        |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rn
        |  FROM s) WHERE rn = 1),
        |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM corpus a JOIN asg aa ON a.vec_id = aa.vec_id
        |       JOIN corpus b ON a.vec_id < b.vec_id
        |       JOIN asg bb ON b.vec_id = bb.vec_id AND aa.cid = bb.cid
        |  WHERE round(list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.9),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT a AS n FROM edges),
        |cc(n, lbl) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT e.b, cc.lbl FROM cc JOIN edges e ON cc.n = e.a),
        |losers AS (SELECT n FROM (SELECT n, MIN(lbl) AS comp FROM cc GROUP BY n) WHERE comp <> n)
        |SELECT vec_id FROM corpus WHERE vec_id NOT IN (SELECT n FROM losers)
        |ORDER BY vec_id""".stripMargin,

    // bipartite inverted-index formulation (r9, same reasoning as
    // q_d2): a >=0.7 batch-store near-dup shares a token, so the
    // token join's candidates are recall-complete and the old
    // NOT EXISTS over the batch x store cross product is equivalent
    // the guarded production plan re-derived, branch decision and
    // all. Branch 1 (smallv): <= 10000 docs AND <= 64-token shared
    // vocabulary -> the bitmap all-pairs path, recall-complete, caps
    // ignored. Branch 2: the guarded inverted index — effCap =
    // floor(0.5·|store|), per-token candidate volume = batchDf·
    // storeDf (exact BIGINT sums — the Spark side's double sums are
    // integer-exact below 2^53), first fitting rung of (4096, 1024,
    // 256, 64, 16) wins, candidates only via store tokens under the
    // cap, exact full-set re-score. Both branches share ONE token-
    // join pair frame (in_cand marks cap survival; smallv admits
    // all — a >= 0.7 hit always shares a token, so all-pairs and
    // shared-token-pairs give the same hit set). Claim row: -1 =
    // plan untouched (smallv or budget fit), -rung = guard degraded,
    // matching the query's CandidateGuard event pin.
    "q_d34_near_store_dedup" ->
      """WITH store AS (SELECT doc_id, list_distinct(regexp_split_to_array(text,' +')) AS ws
        |  FROM documents WHERE doc_id%3=0),
        |batch AS (SELECT doc_id, list_distinct(regexp_split_to_array(text,' +')) AS ws
        |  FROM documents WHERE doc_id%3<>0),
        |n AS (SELECT count(*) AS n FROM store),
        |stoks AS (SELECT doc_id, unnest(ws) AS tok, len(ws) AS sz FROM store),
        |btoks AS (SELECT doc_id, unnest(ws) AS tok, len(ws) AS sz FROM batch),
        |flag AS (SELECT ((SELECT count(*) FROM store) + (SELECT count(*) FROM batch)) <= 10000
        |  AND (SELECT count(DISTINCT tok) FROM
        |       (SELECT tok FROM stoks UNION SELECT tok FROM btoks)) <= 64 AS smallv),
        |sdf AS (SELECT tok, count(*) AS df FROM stoks GROUP BY 1),
        |bdfq AS (SELECT tok, count(*) AS bdf FROM btoks GROUP BY 1),
        |g AS (SELECT sdf.tok, sdf.df, COALESCE(bdfq.bdf, 0) AS bdf
        |      FROM sdf LEFT JOIN bdfq ON sdf.tok = bdfq.tok),
        |ec AS (SELECT CAST(floor(0.5*n) AS BIGINT) AS ec FROM n),
        |vols AS (SELECT
        |  CAST(COALESCE(sum(CASE WHEN df <= ec THEN bdf*df END), 0) AS BIGINT) AS v_req,
        |  CAST(COALESCE(sum(CASE WHEN df <= least(ec,4096) THEN bdf*df END), 0) AS BIGINT) AS v4096,
        |  CAST(COALESCE(sum(CASE WHEN df <= least(ec,1024) THEN bdf*df END), 0) AS BIGINT) AS v1024,
        |  CAST(COALESCE(sum(CASE WHEN df <= least(ec,256) THEN bdf*df END), 0) AS BIGINT) AS v256,
        |  CAST(COALESCE(sum(CASE WHEN df <= least(ec,64) THEN bdf*df END), 0) AS BIGINT) AS v64,
        |  CAST(COALESCE(sum(CASE WHEN df <= least(ec,16) THEN bdf*df END), 0) AS BIGINT) AS v16
        |  FROM g CROSS JOIN ec),
        |capq AS (SELECT
        |  CASE WHEN smallv OR v_req <= 20000000 THEN ec
        |       WHEN v4096 <= 20000000 THEN least(ec, 4096)
        |       WHEN v1024 <= 20000000 THEN least(ec, 1024)
        |       WHEN v256 <= 20000000 THEN least(ec, 256)
        |       WHEN v64 <= 20000000 THEN least(ec, 64)
        |       ELSE least(ec, 16) END AS cap,
        |  smallv,
        |  -- ELSE -16 asymmetry (ADVICE r12): production CandidateGuard
        |  -- THROWS when even the v16 volume exceeds the budget, while
        |  -- this oracle still emits -16 — on such a corpus the gate
        |  -- fails LOUD on the Spark side (query error, not a silent
        |  -- hash drift), diagnosable as the guard throw by design
        |  CAST(CASE WHEN smallv OR v_req <= 20000000 THEN -1
        |       WHEN v4096 <= 20000000 THEN -4096
        |       WHEN v1024 <= 20000000 THEN -1024
        |       WHEN v256 <= 20000000 THEN -256
        |       WHEN v64 <= 20000000 THEN -64
        |       ELSE -16 END AS BIGINT) AS claim
        |  FROM vols CROSS JOIN ec CROSS JOIN flag),
        |ktok AS (SELECT g.tok FROM g CROSS JOIN capq
        |         WHERE capq.smallv OR g.df <= capq.cap),
        |pairs AS (SELECT b.doc_id AS bid, s.doc_id AS sid, count(*) AS inter,
        |                 any_value(b.sz) AS bsz, any_value(s.sz) AS ssz,
        |                 max(CASE WHEN k.tok IS NOT NULL THEN 1 ELSE 0 END) AS in_cand
        |          FROM btoks b JOIN stoks s ON b.tok = s.tok
        |          LEFT JOIN ktok k ON b.tok = k.tok
        |          GROUP BY 1, 2),
        |hit AS (SELECT DISTINCT bid FROM pairs
        |        WHERE in_cand = 1
        |          AND round(inter*1.0/(bsz+ssz-inter),4) >= 0.7)
        |SELECT doc_id FROM (
        |  SELECT b.doc_id FROM batch b
        |  WHERE b.doc_id NOT IN (SELECT bid FROM hit)
        |  UNION ALL SELECT claim FROM capq)
        |ORDER BY doc_id""".stripMargin,

    // exact bipartite jaccard keep-set (no banding in the oracle:
    // LSH can only MISS, and 32x4 banding at J=0.9 has ~1.4e-15 miss
    // probability per pair — recall is exact at any gate scale)
    "q_d34b_near_store_banded" ->
      """WITH store AS (SELECT doc_id, list_distinct(regexp_split_to_array(text,' +')) AS ws
        |  FROM documents WHERE doc_id%3=0),
        |batch AS (SELECT doc_id, list_distinct(regexp_split_to_array(text,' +')) AS ws
        |  FROM documents WHERE doc_id%3<>0),
        |stoks AS (SELECT doc_id, unnest(ws) AS tok, len(ws) AS sz FROM store),
        |btoks AS (SELECT doc_id, unnest(ws) AS tok, len(ws) AS sz FROM batch),
        |pairs AS (SELECT b.doc_id AS bid, s.doc_id AS sid, count(*) AS inter,
        |                 any_value(b.sz) AS bsz, any_value(s.sz) AS ssz
        |          FROM btoks b JOIN stoks s ON b.tok = s.tok
        |          GROUP BY 1, 2),
        |hit AS (SELECT DISTINCT bid FROM pairs
        |        WHERE round(inter*1.0/(bsz+ssz-inter),4) >= 0.9)
        |SELECT doc_id FROM batch WHERE doc_id NOT IN (SELECT bid FROM hit)
        |ORDER BY doc_id""".stripMargin,

    "q_d35_quality_filter" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text),' +')) AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |tok2 AS (SELECT doc_id, t FROM tok WHERE length(t) > 0),
        |tc AS (SELECT doc_id, t, count(*) AS c FROM tok2 GROUP BY 1,2),
        |m AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  round(max(c)*1.0/sum(c), 4) AS top_word_frac,
        |  round(count(*)*1.0/sum(c), 4) AS distinct_ratio FROM tc GROUP BY 1)
        |SELECT d.doc_id AS doc_id, coalesce(m.n_tokens, 0) AS n_tokens,
        |  m.top_word_frac AS top_word_frac, m.distinct_ratio AS distinct_ratio,
        |  CASE WHEN coalesce(m.n_tokens, 0) < 20 THEN 'too_short'
        |       WHEN m.n_tokens > 90 THEN 'too_long'
        |       WHEN m.top_word_frac > 0.15 THEN 'repetitive'
        |       WHEN m.distinct_ratio < 0.40 THEN 'low_diversity'
        |       ELSE 'keep' END AS reason
        |FROM documents d LEFT JOIN m USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    // per-subspace assignment score = dot(c,c) - 2*dot(v,c) (argmin,
    // ties -> earlier cid); ADC = j-ordered sum of the four lookup
    // terms (s0+s1+s2+s3 left-to-right, NOT an unordered SUM) — both
    // mirror the native expressions' float semantics exactly
    "q_d36_pq_topk" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
        |cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
        |  CAST(embedding AS DOUBLE[]) AS cv FROM embeddings ORDER BY vec_id LIMIT 4),
        |subs AS (SELECT j FROM (VALUES (0),(1),(2),(3)) t(j)),
        |e AS (SELECT vec_id, j, (CAST(embedding AS DOUBLE[]))[(16*j+1):(16*j+16)] AS sv
        |  FROM embeddings CROSS JOIN subs),
        |cs AS (SELECT cid, j, cv[(16*j+1):(16*j+16)] AS csv FROM cents CROSS JOIN subs),
        |enc AS (SELECT vec_id, j, cid FROM (
        |  SELECT e.vec_id, e.j, cs.cid, row_number() OVER (PARTITION BY e.vec_id, e.j
        |    ORDER BY (list_dot_product(cs.csv, cs.csv) - 2*list_dot_product(e.sv, cs.csv)) ASC,
        |             cs.cid ASC) AS rn
        |  FROM e JOIN cs ON e.j = cs.j) WHERE rn = 1),
        |qs AS (SELECT j, (SELECT v FROM q)[(16*j+1):(16*j+16)] AS qv FROM subs),
        |lut AS (SELECT cs.j, cs.cid,
        |  (list_dot_product(qs.qv, qs.qv) - 2*list_dot_product(qs.qv, cs.csv)
        |    + list_dot_product(cs.csv, cs.csv)) AS s
        |  FROM cs JOIN qs ON cs.j = qs.j),
        |sc AS (SELECT vec_id,
        |  max(CASE WHEN j=0 THEN s END) AS s0, max(CASE WHEN j=1 THEN s END) AS s1,
        |  max(CASE WHEN j=2 THEN s END) AS s2, max(CASE WHEN j=3 THEN s END) AS s3
        |  FROM enc JOIN lut USING (j, cid) GROUP BY vec_id)
        |SELECT vec_id, round(s0 + s1 + s2 + s3, 4) AS adc FROM sc
        |ORDER BY adc ASC, vec_id ASC LIMIT 10""".stripMargin,

    // shares are long/long double divisions (identical both engines);
    // each PSI term rounds to nano-units and sums as an exact integer
    "q_d37_psi_drift" ->
      """WITH ev AS (SELECT event_id, event_type,
        |  CAST(floor("value"/10) AS BIGINT) AS value_decile FROM events),
        |kv AS (SELECT event_id % 2 AS side, 'event_type' AS col_,
        |         coalesce(CAST(event_type AS VARCHAR),'<null>') AS val_ FROM ev
        |       UNION ALL
        |       SELECT event_id % 2, 'value_decile',
        |         coalesce(CAST(value_decile AS VARCHAR),'<null>') FROM ev),
        |cnts AS (SELECT side, col_, val_, count(*) AS cnt FROM kv GROUP BY 1,2,3),
        |tot AS (SELECT side, col_, sum(cnt) AS total FROM cnts GROUP BY 1,2),
        |sh AS (SELECT c.side, c.col_, c.val_, c.cnt * 1.0 / t.total AS p
        |  FROM cnts c JOIN tot t ON c.side = t.side AND c.col_ = t.col_),
        |j AS (SELECT coalesce(b.col_, a.col_) AS col_, coalesce(b.val_, a.val_) AS val_,
        |  coalesce(b.p, 1e-6) AS p2, coalesce(a.p, 1e-6) AS q2
        |  FROM (SELECT * FROM sh WHERE side = 0) b
        |  FULL OUTER JOIN (SELECT * FROM sh WHERE side = 1) a
        |    ON b.col_ = a.col_ AND b.val_ = a.val_)
        |SELECT "column", n_categories, psi FROM (
        |  SELECT col_ AS "column", count(*) AS n_categories,
        |    round(sum(CAST(round((p2 - q2) * ln(p2 / q2) * 1e9) AS BIGINT)) / 1e9, 4) AS psi
        |  FROM j GROUP BY col_
        |  UNION ALL SELECT 'zz_guard', CAST(-1 AS BIGINT), CAST(1.0 AS DOUBLE))
        |ORDER BY "column"""".stripMargin,

    "q_d41_token_budget" ->
      """WITH t AS (SELECT source, CAST(sum(CASE WHEN length(trim(text))=0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text),' +')) END) AS BIGINT) AS tokens
        |  FROM documents GROUP BY 1),
        |w AS (SELECT source, tokens,
        |  CAST(round(sqrt(CAST(tokens AS DOUBLE)) * 1e6) AS BIGINT) AS wt FROM t),
        |n AS (SELECT sum(wt) AS wsum FROM w)
        |SELECT source, tokens,
        |  round(least(1.0, (10000.0 * wt / (SELECT wsum FROM n)) / tokens), 4) AS keep_frac
        |FROM w ORDER BY source""".stripMargin,

    "q_d40_datasheet" ->
      """WITH f AS (SELECT
        |  CASE WHEN length(trim(text))=0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text),' +')) END AS toks,
        |  md5(coalesce(text,'')) AS fp,
        |  coalesce(CAST(lang AS VARCHAR),'<null>') AS lang,
        |  length(trim(coalesce(text,''))) = 0 AS is_empty
        |  FROM documents),
        |g AS (SELECT count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens,
        |  count(DISTINCT fp) AS n_distinct,
        |  count(CASE WHEN is_empty THEN 1 END) AS n_empty,
        |  count(DISTINCT lang) AS n_langs FROM f),
        |lt AS (SELECT max(c) AS top_lang_docs FROM
        |  (SELECT lang, count(*) AS c FROM f GROUP BY 1))
        |SELECT metric, value FROM (
        |  SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM g
        |  UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM g
        |  UNION ALL SELECT 'avg_tokens', round(n_tokens / CAST(n_docs AS DOUBLE), 4) FROM g
        |  UNION ALL SELECT 'exact_dup_rate', round((n_docs - n_distinct) / CAST(n_docs AS DOUBLE), 4) FROM g
        |  UNION ALL SELECT 'empty_rate', round(n_empty / CAST(n_docs AS DOUBLE), 4) FROM g
        |  UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM g
        |  UNION ALL SELECT 'top_lang_share', round((SELECT top_lang_docs FROM lt) / CAST(n_docs AS DOUBLE), 4) FROM g
        |) ORDER BY metric""".stripMargin,

    "q_d38_per_stratum_topk" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |    ORDER BY md5('s1:' || CAST(doc_id AS VARCHAR))) AS rk
        |  FROM documents)
        |WHERE rk <= 5 ORDER BY source, doc_id""".stripMargin,

    "q_d25_stratified" ->
      """WITH b AS (SELECT doc_id, lang, list_reduce(list_transform(range(1, 9),
        |    i -> strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) % 10000 AS bkt FROM documents)
        |SELECT lang, count(*) AS cnt, min(doc_id) AS min_id
        |FROM b
        |WHERE bkt < (CASE lang WHEN 'en' THEN 3000 WHEN 'de' THEN 8000 WHEN 'zh' THEN 500 ELSE 10000 END)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_d24_asof" ->
      """WITH ev AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id FROM events),
        |upd AS (SELECT user_id, ts_us, MAX(event_id) AS state_id FROM ev WHERE event_id%50=0 GROUP BY 1,2),
        |lhs AS (SELECT event_id, ts_us, user_id FROM ev WHERE event_id%20=0)
        |SELECT l.event_id, l.ts_us, l.user_id, u.state_id
        |FROM lhs l ASOF LEFT JOIN upd u ON l.user_id = u.user_id AND l.ts_us >= u.ts_us
        |ORDER BY l.event_id""".stripMargin,

    "q_d22_repetition" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text),' +') AS w
        | FROM documents WHERE doc_id%10=0),
        |tok AS (SELECT doc_id, unnest(w) AS t FROM d),
        |tc AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1,2),
        |twf AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS token_count,
        |        round(max(c)*1.0/sum(c),4) AS top_word_frac FROM tc GROUP BY 1),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS t
        |      FROM d WHERE len(w) >= 2),
        |gc AS (SELECT doc_id, t, count(*) AS c FROM g GROUP BY 1,2),
        |tgf AS (SELECT doc_id, round(max(c)*1.0/sum(c),4) AS top_2gram_frac FROM gc GROUP BY 1)
        |SELECT twf.doc_id AS doc_id, token_count, top_word_frac, tgf.top_2gram_frac AS top_2gram_frac
        |FROM twf LEFT JOIN tgf ON twf.doc_id = tgf.doc_id
        |ORDER BY doc_id""".stripMargin,

    "q_d23_decontam" ->
      """WITH corp AS (SELECT doc_id, regexp_split_to_array(text,' +') AS w FROM documents WHERE doc_id%11<>0),
        |bench AS (SELECT regexp_split_to_array(text,' +') AS w FROM documents WHERE doc_id%11=0),
        |bsh AS (SELECT DISTINCT unnest(list_transform(range(1, greatest(len(w)-4,1)+1),
        |        i -> array_to_string(w[i:i+4], ' '))) AS sh FROM bench),
        |csh AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(w)-4,1)+1),
        |        i -> array_to_string(w[i:i+4], ' '))) AS sh FROM corp)
        |SELECT DISTINCT doc_id FROM csh JOIN bsh USING (sh) ORDER BY doc_id""".stripMargin,

    // the pair predicate is q_d4's; the oracle then takes the
    // TRANSITIVE CLOSURE with a recursive CTE (every reachable label
    // enumerated, min per node) — an independent formulation of the
    // same components the iterative Spark propagation converges to
    "q_d21_components" ->
      """WITH RECURSIVE docs AS (SELECT doc_id, list_distinct(regexp_split_to_array(text,' +')) AS ws
        | FROM documents WHERE doc_id%10=0),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM docs a JOIN docs b ON a.doc_id < b.doc_id
        | WHERE round(len(list_intersect(a.ws,b.ws))*1.0/(len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))),4) >= 0.8),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT a AS n FROM edges),
        |cc(n, lbl) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT e.b, cc.lbl FROM cc JOIN edges e ON cc.n = e.a
        |)
        |SELECT n AS doc_id, MIN(lbl) AS cluster_id FROM cc GROUP BY n ORDER BY doc_id""".stripMargin,

    // same recursive-CTE components, then the keeper per cluster is
    // the max-token (tie: min doc_id) member; output = everything
    // except the non-keepers
    "q_d42_dedup_best" ->
      """WITH RECURSIVE docs AS (SELECT doc_id, list_distinct(regexp_split_to_array(text,' +')) AS ws
        | FROM documents WHERE doc_id%10=0),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM docs a JOIN docs b ON a.doc_id < b.doc_id
        | WHERE round(len(list_intersect(a.ws,b.ws))*1.0/(len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))),4) >= 0.8),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT a AS n FROM edges),
        |cc(n, lbl) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT e.b, cc.lbl FROM cc JOIN edges e ON cc.n = e.a
        |),
        |comp AS (SELECT n AS doc_id, MIN(lbl) AS cluster_id FROM cc GROUP BY n),
        |tok AS (SELECT doc_id, len(regexp_split_to_array(trim(text),' +')) AS score
        | FROM documents WHERE doc_id%10=0),
        |ranked AS (SELECT c.doc_id, row_number() OVER (
        |   PARTITION BY c.cluster_id ORDER BY t.score DESC, c.doc_id ASC) AS rn
        | FROM comp c JOIN tok t USING (doc_id)),
        |losers AS (SELECT doc_id FROM ranked WHERE rn > 1)
        |SELECT doc_id FROM documents
        |WHERE doc_id%10=0 AND doc_id NOT IN (SELECT doc_id FROM losers)
        |ORDER BY doc_id""".stripMargin,

    // oracle is the exhaustive all-pairs scan. The query matches it
    // exactly because (a) pairs involving the injected duplicates get
    // exact recall via the unioned exact pass, and (b) the synthetic
    // embeddings are random with max pairwise cosine < 0.8, far below
    // the 0.99 threshold — assumption (b) is what keeps the
    // LSH-bucketed arm from owing recall on non-injected pairs
    "q_d5_embed_dup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL SELECT vec_id+10000, CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id%20=0)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        | round(list_dot_product(a.v,b.v)
        |   / (sqrt(list_dot_product(a.v,a.v)) * sqrt(list_dot_product(b.v,b.v))), 4) AS cosine_sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_dot_product(a.v,b.v)
        |   / (sqrt(list_dot_product(a.v,a.v)) * sqrt(list_dot_product(b.v,b.v))), 4) >= 0.99
        |ORDER BY id_a, id_b""".stripMargin,

    "q_d6_ann_topk" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        | round(list_dot_product(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q))
        |   / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
        |      * sqrt(list_dot_product((SELECT qv FROM q), (SELECT qv FROM q)))), 4) AS cosine_sim
        |FROM embeddings ORDER BY cosine_sim DESC, vec_id LIMIT 20""".stripMargin,

    // exact top-10 recomputed from scratch; the three gate literals
    // assert the LSH claims (see the query comment) — a violated
    // claim puts 0.0 where the oracle has 1.0 and the hash fails
    "q_d7_ann_lsh" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |e AS (SELECT vec_id,
        | round(list_dot_product(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q))
        |   / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
        |      * sqrt(list_dot_product((SELECT qv FROM q), (SELECT qv FROM q)))), 4) AS cosine_sim
        |FROM embeddings ORDER BY cosine_sim DESC, vec_id LIMIT 10)
        |SELECT * FROM (
        |  SELECT vec_id, cosine_sim, 'exact' AS tag FROM e
        |  UNION ALL SELECT CAST(-1 AS BIGINT), 1.0, 'mp_dominates'
        |  UNION ALL SELECT CAST(-2 AS BIGINT), 1.0, 'self_found'
        |  UNION ALL SELECT CAST(-3 AS BIGINT), 1.0, 'recall_ge_1'
        |) ORDER BY tag, vec_id""".stripMargin,

    "q_d8_ann_ivf" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |e AS (SELECT vec_id,
        | round(list_dot_product(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q))
        |   / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
        |      * sqrt(list_dot_product((SELECT qv FROM q), (SELECT qv FROM q)))), 4) AS cosine_sim
        |FROM embeddings ORDER BY cosine_sim DESC, vec_id LIMIT 10)
        |SELECT * FROM (
        |  SELECT vec_id, cosine_sim, 'exact' AS tag FROM e
        |  UNION ALL SELECT CAST(-1 AS BIGINT), 1.0, 'recall_ge_0.8'
        |  UNION ALL SELECT CAST(-2 AS BIGINT), 1.0, 'self_found'
        |) ORDER BY tag, vec_id""".stripMargin,

    // exact order statistics at the GK rank bounds, recomputed in
    // SQL; `within` = 1 is the sketch-accuracy claim — if Spark's
    // approx_percentile ever lands outside its rank guarantee the
    // Spark side emits 0 and the hash fails
    "q_a14_approx_stats" ->
      """WITH v1 AS (SELECT CAST(l_quantity AS DOUBLE) AS v FROM lineitem WHERE l_quantity IS NOT NULL),
        |r1 AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v1),
        |n1 AS (SELECT count(*) AS n FROM v1),
        |v2 AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |r2 AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v2),
        |n2 AS (SELECT count(*) AS n FROM v2)
        |SELECT * FROM (
        | SELECT 'l_quantity' AS col_name, '0.25' AS q,
        |  (SELECT round(v,4) FROM r1,n1 WHERE rn = greatest(CAST(floor((0.25-0.0001)*n) AS BIGINT),1)) AS lo,
        |  (SELECT round(v,4) FROM r1,n1 WHERE rn = least(CAST(ceil((0.25+0.0001)*n) AS BIGINT),n)) AS hi,
        |  1 AS within
        | UNION ALL SELECT 'l_quantity', '0.50',
        |  (SELECT round(v,4) FROM r1,n1 WHERE rn = greatest(CAST(floor((0.50-0.0001)*n) AS BIGINT),1)),
        |  (SELECT round(v,4) FROM r1,n1 WHERE rn = least(CAST(ceil((0.50+0.0001)*n) AS BIGINT),n)), 1
        | UNION ALL SELECT 'l_quantity', '0.75',
        |  (SELECT round(v,4) FROM r1,n1 WHERE rn = greatest(CAST(floor((0.75-0.0001)*n) AS BIGINT),1)),
        |  (SELECT round(v,4) FROM r1,n1 WHERE rn = least(CAST(ceil((0.75+0.0001)*n) AS BIGINT),n)), 1
        | UNION ALL SELECT 'l_extendedprice', '0.25',
        |  (SELECT round(v,4) FROM r2,n2 WHERE rn = greatest(CAST(floor((0.25-0.0001)*n) AS BIGINT),1)),
        |  (SELECT round(v,4) FROM r2,n2 WHERE rn = least(CAST(ceil((0.25+0.0001)*n) AS BIGINT),n)), 1
        | UNION ALL SELECT 'l_extendedprice', '0.50',
        |  (SELECT round(v,4) FROM r2,n2 WHERE rn = greatest(CAST(floor((0.50-0.0001)*n) AS BIGINT),1)),
        |  (SELECT round(v,4) FROM r2,n2 WHERE rn = least(CAST(ceil((0.50+0.0001)*n) AS BIGINT),n)), 1
        | UNION ALL SELECT 'l_extendedprice', '0.75',
        |  (SELECT round(v,4) FROM r2,n2 WHERE rn = greatest(CAST(floor((0.75-0.0001)*n) AS BIGINT),1)),
        |  (SELECT round(v,4) FROM r2,n2 WHERE rn = least(CAST(ceil((0.75+0.0001)*n) AS BIGINT),n)), 1
        |) ORDER BY col_name, q""".stripMargin,

    "q_s1_windowed_counts" ->
      """SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        | event_type, count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_s2_windowed_dq" ->
      s"""WITH d AS ($doctoredEventsSql)
         |SELECT strftime(time_bucket(INTERVAL 1 DAY, coalesce(ts, TIMESTAMP '1970-01-01 00:00:00')), '%Y-%m-%d %H:%M:%S') AS window_start,
         | count(*) AS total,
         | count(CASE WHEN value IS NULL THEN 1 END) AS null_records,
         | count(CASE WHEN value IS NOT NULL AND NOT (value >= 10 AND value <= 90) THEN 1 END) AS out_of_format_records,
         | count(*) - count(CASE WHEN value IS NULL THEN 1 END)
         |   - count(CASE WHEN value IS NOT NULL AND NOT (value >= 10 AND value <= 90) THEN 1 END) AS proper_format_records,
         | round((count(*) - count(CASE WHEN value IS NULL THEN 1 END)
         |   - count(CASE WHEN value IS NOT NULL AND NOT (value >= 10 AND value <= 90) THEN 1 END))*100.0/count(*),2) AS dq_score
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    // per-column branch mirrors q_s2's shape; event_type's rule is a
    // length band (only 'view' at 4 chars violates)
    "q_s4_dq_summary" -> {
      def one(c: String, violSql: String, nullSql: String) =
        s"""SELECT strftime(time_bucket(INTERVAL 1 DAY, coalesce(ts, TIMESTAMP '1970-01-01 00:00:00')), '%Y-%m-%d %H:%M:%S') AS window_start,
           | '$c' AS "column",
           | count(*) AS total,
           | count(CASE WHEN $nullSql THEN 1 END) AS null_records,
           | count(CASE WHEN $violSql THEN 1 END) AS out_of_format_records,
           | count(*) - count(CASE WHEN $nullSql THEN 1 END)
           |   - count(CASE WHEN $violSql THEN 1 END) AS proper_format_records,
           | round((count(*) - count(CASE WHEN $nullSql THEN 1 END)
           |   - count(CASE WHEN $violSql THEN 1 END))*100.0/count(*),2) AS dq_score
           |FROM d GROUP BY 1""".stripMargin
      s"""WITH d AS ($doctoredEventsSql)
         |${one("value", "value IS NOT NULL AND NOT (value >= 10 AND value <= 90)", "value IS NULL")}
         |UNION ALL
         |${one("event_type", "event_type IS NOT NULL AND NOT (length(event_type) >= 5 AND length(event_type) <= 8)", "event_type IS NULL")}
         |ORDER BY window_start, "column"""".stripMargin
    },

    // session ids via lag-gap flags; RANGE (not ROWS) cumulative sum
    // keeps tied timestamps in one session regardless of tie order.
    // New session iff gap > 2h STRICTLY: session_window merges
    // ADJACENT windows too (next == prev + gap stays one session,
    // verified empirically — '>=' here differs by exactly the
    // boundary-distance event pairs)
    "q_s3_sessions" ->
      """WITH e AS (SELECT user_id, date_trunc('second', ts) AS ts FROM events),
        |d AS (SELECT user_id, ts,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 2 HOUR
        |       THEN 1 ELSE 0 END AS new_s FROM e),
        |s AS (SELECT user_id, ts,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts RANGE UNBOUNDED PRECEDING) AS sid FROM d)
        |SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start, user_id,
        | count(*) AS cnt
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    "q_d9_langid" ->
      """WITH s AS (SELECT
        |  len(list_filter(regexp_split_to_array(lower(text),' +'), w -> w IN ('the','and','of','to','a','in','is','that','it','for'))) AS en,
        |  len(list_filter(regexp_split_to_array(lower(text),' +'), w -> w IN ('el','la','de','que','y','los','las','un','una','es'))) AS es,
        |  len(list_filter(regexp_split_to_array(lower(text),' +'), w -> w IN ('der','die','das','und','ist','nicht','ein','eine','mit','von'))) AS de,
        |  len(list_filter(regexp_split_to_array(lower(text),' +'), w -> w IN ('le','la','les','et','est','une','des','du','que','pour'))) AS fr,
        |  length(text) - length(regexp_replace(text,'[\x{4e00}-\x{9fff}]','','g')) AS zh
        | FROM documents)
        |SELECT CASE WHEN greatest(en,es,de,fr,zh) <= 0 THEN 'und'
        |  WHEN zh = greatest(en,es,de,fr,zh) THEN 'zh'
        |  WHEN fr = greatest(en,es,de,fr) THEN 'fr'
        |  WHEN es = greatest(en,es,de) THEN 'es'
        |  WHEN en = greatest(en,de) THEN 'en'
        |  ELSE 'de' END AS lang_pred, count(*) AS cnt
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_d10_quality" ->
      """SELECT doc_id,
        | CAST(length(text) AS BIGINT) AS n_chars,
        | CAST(len(regexp_split_to_array(trim(text),' +')) AS INT) AS n_words,
        | round(length(replace(text,' ',''))*1.0/len(regexp_split_to_array(trim(text),' +')),4) AS avg_word_len,
        | round((length(text)-length(regexp_replace(text,'[[:punct:]]','','g')))*1.0/length(text),4) AS punct_ratio,
        | round((length(text)-length(regexp_replace(text,'[0-9]','','g')))*1.0/length(text),4) AS digit_ratio,
        | round((length(text)-length(regexp_replace(text,'[A-Z]','','g')))*1.0/length(text),4) AS upper_ratio,
        | round(len(list_filter(regexp_split_to_array(lower(text),' +'), w -> w IN ('the','a','an','and','of','to','in','is','it','that')))*1.0/len(regexp_split_to_array(trim(text),' +')),4) AS stopword_ratio,
        | round(len(list_distinct(regexp_split_to_array(trim(text),' +')))*1.0/len(regexp_split_to_array(trim(text),' +')),4) AS distinct_word_ratio,
        | round((CASE WHEN len(list_distinct(regexp_split_to_array(trim(text),' +')))*1.0/len(regexp_split_to_array(trim(text),' +')) >= 0.3 THEN 0.4 ELSE 0.0 END
        |  + CASE WHEN (length(text)-length(regexp_replace(text,'[[:punct:]]','','g')))*1.0/length(text) <= 0.2 THEN 0.3 ELSE 0.0 END
        |  + CASE WHEN len(list_filter(regexp_split_to_array(lower(text),' +'), w -> w IN ('the','a','an','and','of','to','in','is','it','that')))*1.0/len(regexp_split_to_array(trim(text),' +')) >= 0.02 THEN 0.2 ELSE 0.0 END
        |  + CASE WHEN len(regexp_split_to_array(trim(text),' +')) >= 5 THEN 0.1 ELSE 0.0 END), 2)::DOUBLE AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_d11_tokens" ->
      """SELECT doc_id,
        | CASE WHEN length(trim(text)) = 0 THEN 0 ELSE CAST(len(regexp_split_to_array(trim(text),' +')) AS INT) END AS ws_tokens,
        | CAST(length(regexp_replace(regexp_replace(text,'[A-Za-z0-9_]+','x','g'),'\s+','','g')) AS INT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_d12_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)),'\s+',' ','g')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    // e2e-7: the full crawl chain re-derived from parquet (wrapper =
    // q_d68's, strip chain = D68's regex algebra, langid = D9's
    // argmax CASE, reasons = D35's fragment, dedup exact) — the WARC
    // hop must be byte-invisible for the hash to match
    "q_e2e_crawl" ->
      """WITH base AS (SELECT doc_id, source,
        |  CASE WHEN doc_id % 6 = 0 THEN
        |    '<html><head><style>p{color:red}</style><script type="text/javascript">var x = 1 < 2;</script></head><body><!-- nav --><div class="main">'
        |    || text || ' &amp; more &lt;tags&gt; &quot;quoted&quot;</div></body></html>'
        |  ELSE text END AS rawtext
        |  FROM documents),
        |crawl AS (
        |  SELECT 'https://www.example/' || source || '/' || doc_id AS target_uri, rawtext FROM base
        |  UNION ALL
        |  SELECT 'https://mirror.example/' || source || '/' || doc_id, rawtext FROM base WHERE doc_id % 10 = 0),
        |c AS (SELECT target_uri, trim(regexp_replace(
        |  replace(replace(replace(replace(replace(replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(rawtext,
        |      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |      '(?s)<!--.*?-->', ' ', 'g'),
        |      '(?s)<[^>]*>', ' ', 'g'),
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |    '&nbsp;', ' '), '&amp;', '&'),
        |  '\s+', ' ', 'g')) AS text FROM crawl),
        |lang AS (SELECT target_uri, text,
        |  len(list_filter(regexp_split_to_array(lower(text),' +'), w -> w IN ('the','and','of','to','a','in','is','that','it','for'))) AS en,
        |  len(list_filter(regexp_split_to_array(lower(text),' +'), w -> w IN ('el','la','de','que','y','los','las','un','una','es'))) AS es,
        |  len(list_filter(regexp_split_to_array(lower(text),' +'), w -> w IN ('der','die','das','und','ist','nicht','ein','eine','mit','von'))) AS de,
        |  len(list_filter(regexp_split_to_array(lower(text),' +'), w -> w IN ('le','la','les','et','est','une','des','du','que','pour'))) AS fr,
        |  length(text) - length(regexp_replace(text,'[\x{4e00}-\x{9fff}]','','g')) AS zh,
        |  md5(regexp_replace(lower(trim(text)),'\s+',' ','g')) AS fingerprint
        |  FROM c),
        |l AS (SELECT target_uri, text, fingerprint,
        |  CASE WHEN greatest(en,es,de,fr,zh) <= 0 THEN 'und'
        |    WHEN zh = greatest(en,es,de,fr,zh) THEN 'zh'
        |    WHEN fr = greatest(en,es,de,fr) THEN 'fr'
        |    WHEN es = greatest(en,es,de) THEN 'es'
        |    WHEN en = greatest(en,de) THEN 'en'
        |    ELSE 'de' END AS lang_pred FROM lang),
        |tok AS (SELECT target_uri, unnest(regexp_split_to_array(trim(text),' +')) AS t
        |  FROM l WHERE length(trim(text)) > 0),
        |tc AS (SELECT target_uri, t, count(*) AS c FROM tok WHERE length(t) > 0 GROUP BY 1,2),
        |m AS (SELECT target_uri, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  round(max(c)*1.0/sum(c), 4) AS twf,
        |  round(count(*)*1.0/sum(c), 4) AS dr FROM tc GROUP BY 1),
        |rep AS (SELECT l.target_uri,
        |  CASE WHEN coalesce(m.n_tokens, 0) < 20 THEN 'too_short'
        |       WHEN m.n_tokens > 90 THEN 'too_long'
        |       WHEN m.twf > 0.15 THEN 'repetitive'
        |       WHEN m.dr < 0.40 THEN 'low_diversity'
        |       ELSE 'keep' END AS reason
        |  FROM l LEFT JOIN m USING (target_uri)),
        |g AS (SELECT fingerprint, CAST(count(*) AS BIGINT) AS dup_count,
        |  min(target_uri) AS keeper FROM l GROUP BY 1)
        |SELECT l.target_uri, lang_pred, reason, dup_count,
        |  (l.target_uri = keeper) AS is_keeper
        |FROM l JOIN rep ON l.target_uri = rep.target_uri
        |  JOIN g ON l.fingerprint = g.fingerprint
        |ORDER BY l.target_uri""".stripMargin,

    // D90: the full batch-retrieval chain re-derived — cosine in the
    // identical association (dot / (sqrt*sqrt)), micro-rounded, rank
    // by (score desc, id) per query
    "q_d90_batch_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id IN (0,7,23,48,91)),
        |sc AS (SELECT q.query_id, e.vec_id AS id,
        |  CAST(round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
        |    / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
        |       * sqrt(list_dot_product(q.qv, q.qv))) * 1000000.0) AS BIGINT) AS score_micro
        |  FROM embeddings e CROSS JOIN q
        |  WHERE list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) > 0),
        |r AS (SELECT query_id, id, score_micro, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY score_micro DESC, id) AS BIGINT) AS rank
        |  FROM sc)
        |SELECT CAST(query_id AS BIGINT) AS query_id, rank, CAST(id AS BIGINT) AS id,
        |  score_micro
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // BM25 re-derived end to end: postings/dl/df from the same
    // whitespace tokenization, the per-term double tree mirrored
    // node-for-node (exact-in-double integer inputs, one ln, micro
    // round), LONG sums, rank under (score desc, doc asc); guard row
    // appended like d80's
    "q_d92_bm25" ->
      """WITH q AS (
        |  SELECT doc_id AS qid, array_to_string(
        |    regexp_split_to_array(trim(text), ' +')[1:4], ' ') AS qtext
        |  FROM documents WHERE doc_id IN (3, 41, 77)
        |  UNION ALL SELECT 9001, 'zzzmissing the'),
        |tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), ' +')) AS term
        |  FROM documents),
        |post AS (SELECT doc_id, term, count(*) AS tf FROM tok
        |  WHERE term <> '' GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM post GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
        |  CAST(sum(dl) AS DOUBLE) AS sumdld FROM dl),
        |qt AS (SELECT DISTINCT qid, term FROM (SELECT qid,
        |    unnest(regexp_split_to_array(trim(qtext), ' +')) AS term FROM q)
        |  WHERE term <> ''),
        |dft AS (SELECT term, count(*) AS df FROM post
        |  WHERE term IN (SELECT term FROM qt) GROUP BY 1),
        |terms AS (SELECT qt.qid, p.doc_id,
        |  ln(1.0 + (nd - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
        |    * (CAST(tf AS DOUBLE) * (1.2 + 1.0)
        |       / (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75
        |          + 0.75 * CAST(dl AS DOUBLE) * nd / sumdld)))
        |    * 1e6 AS x
        |  FROM post p JOIN dft USING (term) JOIN dl USING (doc_id)
        |  CROSS JOIN st JOIN qt USING (term)),
        |micro AS (SELECT qid, doc_id, CAST(round(x) AS BIGINT) AS m,
        |  abs(x - floor(x) - 0.5) AS bd FROM terms),
        |sc AS (SELECT qid, doc_id, CAST(sum(m) AS BIGINT) AS score_micro
        |  FROM micro GROUP BY 1, 2),
        |r AS (SELECT qid, doc_id, score_micro, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
        |  FROM sc)
        |SELECT * FROM (
        |  SELECT CAST(qid AS BIGINT) AS query_id, rank, doc_id, score_micro
        |  FROM r WHERE rank <= 10
        |  UNION ALL
        |  SELECT -1, 0, -1,
        |    CASE WHEN coalesce(min(bd), 0.5) > 1e-7 THEN 1 ELSE 0 END
        |  FROM micro)
        |ORDER BY query_id, rank""".stripMargin,

    // e2e-6: retrieval -> pmod doc bridge -> fingerprint -> best-rank
    // dedup (arg_min is deterministic: rank is unique per query) ->
    // dense re-rank
    "q_e2e_rag" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id IN (3,31,59,87,115)),
        |sc AS (SELECT q.query_id, e.vec_id AS id,
        |  CAST(round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
        |    / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
        |       * sqrt(list_dot_product(q.qv, q.qv))) * 1000000.0) AS BIGINT) AS score_micro
        |  FROM embeddings e CROSS JOIN q
        |  WHERE list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) > 0),
        |r AS (SELECT query_id, id, score_micro, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY score_micro DESC, id) AS BIGINT) AS rank
        |  FROM sc),
        |hits AS (SELECT query_id, rank, id % (SELECT count(*) FROM documents) AS doc_id
        |  FROM r WHERE rank <= 10),
        |fp AS (SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)),'\s+',' ','g')) AS fingerprint
        |  FROM documents),
        |best AS (SELECT query_id, fingerprint, min(rank) AS rank,
        |    arg_min(hits.doc_id, rank) AS doc_id
        |  FROM hits JOIN fp USING (doc_id) GROUP BY 1, 2)
        |SELECT CAST(query_id AS BIGINT) AS query_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY rank) AS BIGINT)
        |    AS final_rank,
        |  CAST(doc_id AS BIGINT) AS doc_id, fingerprint
        |FROM best ORDER BY query_id, final_rank""".stripMargin,

    // the whole plan table re-derived: pow/ln/exp trees mirrored
    // node-for-node, quantized to micro integers, feasibility vs the
    // rounded ln-budget constant, chosen via the (midpoint desc, b
    // asc) LIMIT 1 mirror of the broadcast max-struct
    "q_d93_banding_plan" ->
      """WITH br(b0, r0) AS (VALUES (1,128),(2,64),(4,32),(8,16),(16,8),
        |  (32,4),(64,2),(128,1)),
        |hist(s0, p0) AS (VALUES (60, 40000),(75, 7000),(90, 12)),
        |sc AS (SELECT CAST(b0 AS BIGINT) AS b, CAST(r0 AS BIGINT) AS r,
        |  CAST(b0 AS DOUBLE) * ln(1.0 - power(0.9, CAST(r0 AS DOUBLE))) * 1e6 AS lm,
        |  exp(-ln(CAST(b0 AS DOUBLE)) / CAST(r0 AS DOUBLE)) * 1e6 AS md
        |  FROM br),
        |cx AS (SELECT b, CAST(p0 AS DOUBLE) * (1.0 - power(1.0
        |    - power(CAST(s0 AS DOUBLE) / 100.0, CAST(r AS DOUBLE)),
        |    CAST(b AS DOUBLE))) * 1e6 AS x
        |  FROM sc CROSS JOIN hist),
        |cand AS (SELECT b, CAST(sum(CAST(round(x) AS BIGINT)) AS BIGINT) AS ec
        |  FROM cx GROUP BY 1),
        |q AS (SELECT b, r, CAST(round(lm) AS BIGINT) AS ln_miss_micro,
        |  CAST(round(md) AS BIGINT) AS midpoint_micro, ec AS exp_cand_micro,
        |  CAST(round(lm) AS BIGINT)
        |    <= CAST(round(ln(0.000000000001) * 1e6) AS BIGINT) AS feasible
        |  FROM sc JOIN cand USING (b)),
        |best AS (SELECT midpoint_micro AS m, b AS bb FROM q WHERE feasible
        |  ORDER BY midpoint_micro DESC, b ASC LIMIT 1),
        |fin AS (SELECT q.b, q.r, q.ln_miss_micro, q.midpoint_micro,
        |  q.exp_cand_micro, q.feasible,
        |  (q.feasible AND best.m IS NOT NULL AND q.midpoint_micro = best.m
        |   AND q.b = best.bb) AS chosen
        |  FROM q LEFT JOIN best ON true),
        |g AS (SELECT least(
        |  coalesce((SELECT min(abs(lm - floor(lm) - 0.5)) FROM sc), 0.5),
        |  coalesce((SELECT min(abs(md - floor(md) - 0.5)) FROM sc), 0.5),
        |  coalesce((SELECT min(abs(lm - ln(0.000000000001) * 1e6)) FROM sc), 0.5),
        |  coalesce((SELECT min(abs(x - floor(x) - 0.5)) FROM cx), 0.5)) AS d)
        |SELECT * FROM (
        |  SELECT b, r, ln_miss_micro, midpoint_micro, exp_cand_micro,
        |    feasible, chosen FROM fin
        |  UNION ALL
        |  SELECT -1, 0, 0, 0, CASE WHEN d > 1e-7 THEN 1 ELSE 0 END,
        |    false, false FROM g)
        |ORDER BY b""".stripMargin,

    // e2e-10: quantize → int8 coarse top-20 (int8 dots are
    // integer-valued ≤ ~1e6, so double list_dot_product is EXACT on
    // them) → float re-rank top-5, one chain
    "q_e2e_serving" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x
        |  FROM embeddings),
        |m AS (SELECT vec_id, x,
        |  list_max(list_transform(x, e -> abs(e))) AS mm FROM v),
        |qv AS (SELECT vec_id, x, CASE WHEN mm > 0 THEN
        |    CAST(list_transform(x, e -> CAST(round(e / mm * 127) AS INT))
        |      AS DOUBLE[]) END AS q
        |  FROM m),
        |qs AS (SELECT vec_id AS qid, q AS qc, x AS qx FROM qv
        |  WHERE vec_id IN (5, 67, 131)),
        |co AS (SELECT qs.qid, c.vec_id AS id,
        |  CAST(round(list_dot_product(c.q, qs.qc)
        |    / (sqrt(list_dot_product(c.q, c.q))
        |       * sqrt(list_dot_product(qs.qc, qs.qc)))
        |    * 1000000.0) AS BIGINT) AS s
        |  FROM qv c CROSS JOIN qs
        |  WHERE c.q IS NOT NULL AND qs.qc IS NOT NULL
        |    AND list_dot_product(c.q, c.q) > 0
        |    AND list_dot_product(qs.qc, qs.qc) > 0),
        |cr AS (SELECT qid, id, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY s DESC, id) AS BIGINT) AS rk FROM co),
        |cand AS (SELECT qid, id FROM cr WHERE rk <= 20),
        |rr AS (SELECT cand.qid, cand.id,
        |  CAST(round(list_dot_product(cv.x, qs.qx)
        |    / (sqrt(list_dot_product(cv.x, cv.x))
        |       * sqrt(list_dot_product(qs.qx, qs.qx)))
        |    * 1000000.0) AS BIGINT) AS sm
        |  FROM cand JOIN v cv ON cv.vec_id = cand.id
        |  JOIN qs ON qs.qid = cand.qid
        |  WHERE list_dot_product(cv.x, cv.x) > 0
        |    AND list_dot_product(qs.qx, qs.qx) > 0),
        |fr AS (SELECT qid, id, sm, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY sm DESC, id) AS BIGINT) AS rank FROM rr)
        |SELECT CAST(qid AS BIGINT) AS query_id, rank, CAST(id AS BIGINT) AS id,
        |  sm AS score_micro
        |FROM fr WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // D98: the code arrays re-derived element-for-element (round
    // half-away matches on both engines away from the guarded
    // boundary), reduced through the same four integer projections
    "q_d98_int8_quant" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x
        |  FROM embeddings),
        |m AS (SELECT vec_id, x,
        |  list_max(list_transform(x, e -> abs(e))) AS mm FROM v),
        |qv AS (SELECT vec_id, mm, CASE WHEN mm > 0 THEN
        |    list_transform(x, e -> CAST(round(e / mm * 127) AS INT)) END AS q
        |  FROM m),
        |proj AS (SELECT vec_id,
        |  CASE WHEN mm > 0 THEN CAST(round(mm * 1e6) AS BIGINT) END AS scale_micro,
        |  CAST(list_sum(q) AS BIGINT) AS q_sum,
        |  CAST(list_sum(list_transform(q, e -> abs(e))) AS BIGINT) AS q_l1,
        |  CAST(q[1] AS BIGINT) AS q_first,
        |  CAST(q[len(q)] AS BIGINT) AS q_last
        |  FROM qv),
        |bd AS (SELECT CASE WHEN mm > 0 THEN list_min(list_transform(x,
        |    e -> abs(abs(e / mm * 127 - floor(e / mm * 127)) - 0.5)))
        |  ELSE 0.5 END AS dd FROM m),
        |g AS (SELECT coalesce(min(dd), 0.5) AS mind FROM bd)
        |SELECT * FROM (
        |  SELECT vec_id, scale_micro, q_sum, q_l1, q_first, q_last FROM proj
        |  UNION ALL
        |  SELECT -1, 0, CASE WHEN mind > 1e-7 THEN 1 ELSE 0 END, 0, 0, 0 FROM g)
        |ORDER BY vec_id""".stripMargin,

    // D97: ONE symmetric cosine table serves both retrieval
    // directions (dot and the norm product are bit-commutative),
    // ranked both ways, k-bounded sums, integer-division margin —
    // no float beyond the certified cosine micros
    "q_d97_margin_mining" ->
      """WITH src AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 2 = 0),
        |tgt AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 2 = 1),
        |fsc AS (SELECT s.id AS src_id, t.id AS tgt_id,
        |  CAST(round(list_dot_product(t.v, s.v)
        |    / (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(s.v, s.v)))
        |    * 1000000.0) AS BIGINT) AS cm
        |  FROM src s CROSS JOIN tgt t
        |  WHERE list_dot_product(t.v, t.v) > 0 AND list_dot_product(s.v, s.v) > 0),
        |fr AS (SELECT src_id, tgt_id, cm, CAST(row_number() OVER (
        |    PARTITION BY src_id ORDER BY cm DESC, tgt_id) AS BIGINT) AS rk
        |  FROM fsc),
        |fwd AS (SELECT * FROM fr WHERE rk <= 4),
        |br AS (SELECT src_id, tgt_id, cm, CAST(row_number() OVER (
        |    PARTITION BY tgt_id ORDER BY cm DESC, src_id) AS BIGINT) AS rk
        |  FROM fsc),
        |bwd AS (SELECT * FROM br WHERE rk <= 4),
        |ss AS (SELECT src_id, CAST(sum(cm) AS BIGINT) AS s FROM fwd GROUP BY 1),
        |tt AS (SELECT tgt_id, CAST(sum(cm) AS BIGINT) AS t FROM bwd GROUP BY 1),
        |sc AS (SELECT f.src_id, f.tgt_id, f.cm,
        |  (2 * 4 * f.cm * 1000000) // (s + t) AS margin
        |  FROM fwd f JOIN ss USING (src_id) JOIN tt USING (tgt_id)),
        |best AS (SELECT src_id, tgt_id, cm, CAST(margin AS BIGINT) AS margin_micro,
        |  row_number() OVER (PARTITION BY src_id ORDER BY margin DESC, tgt_id)
        |    AS rk FROM sc)
        |SELECT src_id, tgt_id, cm AS cos_micro, margin_micro
        |FROM best WHERE rk = 1 AND margin_micro >= 1000000
        |ORDER BY src_id""".stripMargin,

    // D97b: q_d97's margin math verbatim, but the pair table is
    // cell-blocked — both sides assigned to their argmax-cosine
    // centroid (later cid wins ties, the q_d33 rule; zero-norm
    // vectors never pair so they are excluded from assignment), and
    // only same-cell pairs exist. Ranks, k-bounded sums, and the
    // integer-division margin all run on the within-cell frame.
    "q_d97b_blocked_mining" ->
      """WITH src AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 2 = 0),
        |tgt AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 2 = 1),
        |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
        |  CAST(embedding AS DOUBLE[]) AS cv FROM embeddings ORDER BY vec_id LIMIT 4),
        |sasg AS (SELECT id, cid FROM (
        |  SELECT s.id, c.cid, row_number() OVER (PARTITION BY s.id
        |    ORDER BY list_dot_product(s.v, c.cv)
        |      / (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(c.cv, c.cv)))
        |      DESC, cid DESC) AS rn
        |  FROM src s CROSS JOIN c
        |  WHERE list_dot_product(s.v, s.v) > 0) WHERE rn = 1),
        |tasg AS (SELECT id, cid FROM (
        |  SELECT t.id, c.cid, row_number() OVER (PARTITION BY t.id
        |    ORDER BY list_dot_product(t.v, c.cv)
        |      / (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(c.cv, c.cv)))
        |      DESC, cid DESC) AS rn
        |  FROM tgt t CROSS JOIN c
        |  WHERE list_dot_product(t.v, t.v) > 0) WHERE rn = 1),
        |fsc AS (SELECT s.id AS src_id, t.id AS tgt_id,
        |  CAST(round(list_dot_product(t.v, s.v)
        |    / (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(s.v, s.v)))
        |    * 1000000.0) AS BIGINT) AS cm
        |  FROM src s JOIN sasg sa ON s.id = sa.id
        |       JOIN tasg ta ON sa.cid = ta.cid
        |       JOIN tgt t ON t.id = ta.id),
        |fr AS (SELECT src_id, tgt_id, cm, CAST(row_number() OVER (
        |    PARTITION BY src_id ORDER BY cm DESC, tgt_id) AS BIGINT) AS rk
        |  FROM fsc),
        |fwd AS (SELECT * FROM fr WHERE rk <= 4),
        |br AS (SELECT src_id, tgt_id, cm, CAST(row_number() OVER (
        |    PARTITION BY tgt_id ORDER BY cm DESC, src_id) AS BIGINT) AS rk
        |  FROM fsc),
        |bwd AS (SELECT * FROM br WHERE rk <= 4),
        |ss AS (SELECT src_id, CAST(sum(cm) AS BIGINT) AS s FROM fwd GROUP BY 1),
        |tt AS (SELECT tgt_id, CAST(sum(cm) AS BIGINT) AS t FROM bwd GROUP BY 1),
        |sc AS (SELECT f.src_id, f.tgt_id, f.cm,
        |  (2 * 4 * f.cm * 1000000) // (s + t) AS margin
        |  FROM fwd f JOIN ss USING (src_id) JOIN tt USING (tgt_id)),
        |best AS (SELECT src_id, tgt_id, cm, CAST(margin AS BIGINT) AS margin_micro,
        |  row_number() OVER (PARTITION BY src_id ORDER BY margin DESC, tgt_id)
        |    AS rk FROM sc)
        |SELECT src_id, tgt_id, cm AS cos_micro, margin_micro
        |FROM best WHERE rk = 1 AND margin_micro >= 1000000
        |ORDER BY src_id""".stripMargin,

    // D99: q_d36's subspace/LUT skeleton extended by the two IVF
    // stages — full-vector coarse assignment (argmin cc−2vc, earlier
    // cid on ties = the NearestCentroidL2 rule), the query's 2
    // nearest cells, ADC ranked WITHIN the probed cells to the
    // 50-candidate shortlist, exact-L2 re-rank (qq − 2qv + vv
    // left-to-right, same rounding) of the shortlist only
    "q_d99_ivfpq" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
        |cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
        |  CAST(embedding AS DOUBLE[]) AS cv FROM embeddings ORDER BY vec_id LIMIT 4),
        |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cellof AS (SELECT vec_id, cid AS cell FROM (
        |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY (list_dot_product(c.cv, c.cv) - 2*list_dot_product(e.v, c.cv)) ASC,
        |             c.cid ASC) AS rn
        |  FROM ev e CROSS JOIN cents c) WHERE rn = 1),
        |probe AS (SELECT cid AS cell FROM (
        |  SELECT c.cid, row_number() OVER (
        |    ORDER BY (list_dot_product(c.cv, c.cv)
        |              - 2*list_dot_product((SELECT v FROM q), c.cv)) ASC,
        |    c.cid ASC) AS rn FROM cents c) WHERE rn <= 2),
        |subs AS (SELECT j FROM (VALUES (0),(1),(2),(3)) t(j)),
        |pe AS (SELECT e.vec_id, e.v FROM ev e
        |  JOIN cellof co ON e.vec_id = co.vec_id
        |  JOIN probe p ON co.cell = p.cell),
        |es AS (SELECT vec_id, j, v[(16*j+1):(16*j+16)] AS sv FROM pe CROSS JOIN subs),
        |cs AS (SELECT cid, j, cv[(16*j+1):(16*j+16)] AS csv FROM cents CROSS JOIN subs),
        |enc AS (SELECT vec_id, j, cid FROM (
        |  SELECT e.vec_id, e.j, cs.cid, row_number() OVER (PARTITION BY e.vec_id, e.j
        |    ORDER BY (list_dot_product(cs.csv, cs.csv) - 2*list_dot_product(e.sv, cs.csv)) ASC,
        |             cs.cid ASC) AS rn
        |  FROM es e JOIN cs ON e.j = cs.j) WHERE rn = 1),
        |qs AS (SELECT j, (SELECT v FROM q)[(16*j+1):(16*j+16)] AS qv FROM subs),
        |lut AS (SELECT cs.j, cs.cid,
        |  (list_dot_product(qs.qv, qs.qv) - 2*list_dot_product(qs.qv, cs.csv)
        |    + list_dot_product(cs.csv, cs.csv)) AS s
        |  FROM cs JOIN qs ON cs.j = qs.j),
        |sc AS (SELECT vec_id,
        |  max(CASE WHEN j=0 THEN s END) AS s0, max(CASE WHEN j=1 THEN s END) AS s1,
        |  max(CASE WHEN j=2 THEN s END) AS s2, max(CASE WHEN j=3 THEN s END) AS s3
        |  FROM enc JOIN lut USING (j, cid) GROUP BY vec_id),
        |cand AS (SELECT vec_id, round(s0 + s1 + s2 + s3, 4) AS adc FROM sc
        |  ORDER BY adc ASC, vec_id ASC LIMIT 50)
        |SELECT c.vec_id, c.adc,
        |  round(list_dot_product((SELECT v FROM q), (SELECT v FROM q))
        |    - 2*list_dot_product(e.v, (SELECT v FROM q))
        |    + list_dot_product(e.v, e.v), 4) AS l2
        |FROM cand c JOIN ev e ON c.vec_id = e.vec_id
        |ORDER BY l2 ASC, c.vec_id ASC LIMIT 10""".stripMargin,

    // D99b: the q_d99 chain with banks from the STORE slice (%3 in
    // {0,1}: cents/codebooks sample the first 4 store vectors by id)
    // but encoding/serving over the UNIONED corpus — exactly what a
    // correct merge must equal — plus the pinned 0-mismatch cert row
    "q_d99b_ivfpq_upsert" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
        |cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
        |  CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
        |  WHERE vec_id % 3 != 2 ORDER BY vec_id LIMIT 4),
        |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cellof AS (SELECT vec_id, cid AS cell FROM (
        |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY (list_dot_product(c.cv, c.cv) - 2*list_dot_product(e.v, c.cv)) ASC,
        |             c.cid ASC) AS rn
        |  FROM ev e CROSS JOIN cents c) WHERE rn = 1),
        |probe AS (SELECT cid AS cell FROM (
        |  SELECT c.cid, row_number() OVER (
        |    ORDER BY (list_dot_product(c.cv, c.cv)
        |              - 2*list_dot_product((SELECT v FROM q), c.cv)) ASC,
        |    c.cid ASC) AS rn FROM cents c) WHERE rn <= 2),
        |subs AS (SELECT j FROM (VALUES (0),(1),(2),(3)) t(j)),
        |pe AS (SELECT e.vec_id, e.v FROM ev e
        |  JOIN cellof co ON e.vec_id = co.vec_id
        |  JOIN probe p ON co.cell = p.cell),
        |es AS (SELECT vec_id, j, v[(16*j+1):(16*j+16)] AS sv FROM pe CROSS JOIN subs),
        |cs AS (SELECT cid, j, cv[(16*j+1):(16*j+16)] AS csv FROM cents CROSS JOIN subs),
        |enc AS (SELECT vec_id, j, cid FROM (
        |  SELECT e.vec_id, e.j, cs.cid, row_number() OVER (PARTITION BY e.vec_id, e.j
        |    ORDER BY (list_dot_product(cs.csv, cs.csv) - 2*list_dot_product(e.sv, cs.csv)) ASC,
        |             cs.cid ASC) AS rn
        |  FROM es e JOIN cs ON e.j = cs.j) WHERE rn = 1),
        |qs AS (SELECT j, (SELECT v FROM q)[(16*j+1):(16*j+16)] AS qv FROM subs),
        |lut AS (SELECT cs.j, cs.cid,
        |  (list_dot_product(qs.qv, qs.qv) - 2*list_dot_product(qs.qv, cs.csv)
        |    + list_dot_product(cs.csv, cs.csv)) AS s
        |  FROM cs JOIN qs ON cs.j = qs.j),
        |sc AS (SELECT vec_id,
        |  max(CASE WHEN j=0 THEN s END) AS s0, max(CASE WHEN j=1 THEN s END) AS s1,
        |  max(CASE WHEN j=2 THEN s END) AS s2, max(CASE WHEN j=3 THEN s END) AS s3
        |  FROM enc JOIN lut USING (j, cid) GROUP BY vec_id),
        |cand AS (SELECT vec_id, round(s0 + s1 + s2 + s3, 4) AS adc FROM sc
        |  ORDER BY adc ASC, vec_id ASC LIMIT 50),
        |served AS (SELECT c.vec_id, c.adc,
        |  round(list_dot_product((SELECT v FROM q), (SELECT v FROM q))
        |    - 2*list_dot_product(e.v, (SELECT v FROM q))
        |    + list_dot_product(e.v, e.v), 4) AS l2
        |FROM cand c JOIN ev e ON c.vec_id = e.vec_id
        |ORDER BY l2 ASC, c.vec_id ASC LIMIT 10)
        |SELECT * FROM served
        |UNION ALL SELECT CAST(-1 AS BIGINT), 0.0, 0.0""".stripMargin,

    // D99d: serving after the re-train swap must equal the q_d99
    // chain under FULL-CORPUS banks (retrain trains on the current
    // corpus — first-4-by-id sampling, the same convention), plus
    // the pinned cert rows: (-1, mismatches=0, drift-fired=1) and
    // (-2, stale-guard-tripped=1, versions=2)
    "q_d99d_retrain" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
        |cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
        |  CAST(embedding AS DOUBLE[]) AS cv FROM embeddings ORDER BY vec_id LIMIT 4),
        |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cellof AS (SELECT vec_id, cid AS cell FROM (
        |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY (list_dot_product(c.cv, c.cv) - 2*list_dot_product(e.v, c.cv)) ASC,
        |             c.cid ASC) AS rn
        |  FROM ev e CROSS JOIN cents c) WHERE rn = 1),
        |probe AS (SELECT cid AS cell FROM (
        |  SELECT c.cid, row_number() OVER (
        |    ORDER BY (list_dot_product(c.cv, c.cv)
        |              - 2*list_dot_product((SELECT v FROM q), c.cv)) ASC,
        |    c.cid ASC) AS rn FROM cents c) WHERE rn <= 2),
        |subs AS (SELECT j FROM (VALUES (0),(1),(2),(3)) t(j)),
        |pe AS (SELECT e.vec_id, e.v FROM ev e
        |  JOIN cellof co ON e.vec_id = co.vec_id
        |  JOIN probe p ON co.cell = p.cell),
        |es AS (SELECT vec_id, j, v[(16*j+1):(16*j+16)] AS sv FROM pe CROSS JOIN subs),
        |cs AS (SELECT cid, j, cv[(16*j+1):(16*j+16)] AS csv FROM cents CROSS JOIN subs),
        |enc AS (SELECT vec_id, j, cid FROM (
        |  SELECT e.vec_id, e.j, cs.cid, row_number() OVER (PARTITION BY e.vec_id, e.j
        |    ORDER BY (list_dot_product(cs.csv, cs.csv) - 2*list_dot_product(e.sv, cs.csv)) ASC,
        |             cs.cid ASC) AS rn
        |  FROM es e JOIN cs ON e.j = cs.j) WHERE rn = 1),
        |qs AS (SELECT j, (SELECT v FROM q)[(16*j+1):(16*j+16)] AS qv FROM subs),
        |lut AS (SELECT cs.j, cs.cid,
        |  (list_dot_product(qs.qv, qs.qv) - 2*list_dot_product(qs.qv, cs.csv)
        |    + list_dot_product(cs.csv, cs.csv)) AS s
        |  FROM cs JOIN qs ON cs.j = qs.j),
        |sc AS (SELECT vec_id,
        |  max(CASE WHEN j=0 THEN s END) AS s0, max(CASE WHEN j=1 THEN s END) AS s1,
        |  max(CASE WHEN j=2 THEN s END) AS s2, max(CASE WHEN j=3 THEN s END) AS s3
        |  FROM enc JOIN lut USING (j, cid) GROUP BY vec_id),
        |cand AS (SELECT vec_id, round(s0 + s1 + s2 + s3, 4) AS adc FROM sc
        |  ORDER BY adc ASC, vec_id ASC LIMIT 50),
        |served AS (SELECT c.vec_id, c.adc,
        |  round(list_dot_product((SELECT v FROM q), (SELECT v FROM q))
        |    - 2*list_dot_product(e.v, (SELECT v FROM q))
        |    + list_dot_product(e.v, e.v), 4) AS l2
        |FROM cand c JOIN ev e ON c.vec_id = e.vec_id
        |ORDER BY l2 ASC, c.vec_id ASC LIMIT 10)
        |SELECT * FROM served
        |UNION ALL SELECT CAST(-1 AS BIGINT), 0.0, 1.0
        |UNION ALL SELECT CAST(-2 AS BIGINT), 1.0, 2.0""".stripMargin,

    // D99c: both censuses re-derived — assignment by the store-slice
    // bank, per-row micro-quantized residual, exact long sums
    "q_d99c_cell_drift" ->
      """WITH cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
        |  CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
        |  WHERE vec_id % 3 != 2 ORDER BY vec_id LIMIT 4),
        |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |asg AS (SELECT vec_id, cell, resid FROM (
        |  SELECT e.vec_id, c.cid AS cell,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY (list_dot_product(c.cv, c.cv) - 2*list_dot_product(e.v, c.cv)) ASC,
        |               c.cid ASC) AS rn,
        |    (list_dot_product(c.cv, c.cv) - 2*list_dot_product(e.v, c.cv)
        |      + list_dot_product(e.v, e.v)) AS resid
        |  FROM ev e CROSS JOIN cents c) WHERE rn = 1),
        |b AS (SELECT cell, count(*) AS n,
        |  sum(CAST(round(resid*1e6) AS BIGINT)) AS rs
        |  FROM asg WHERE vec_id % 3 != 2 GROUP BY 1),
        |a AS (SELECT cell, count(*) AS n,
        |  sum(CAST(round(resid*1e6) AS BIGINT)) AS rs
        |  FROM asg GROUP BY 1)
        |SELECT CAST(coalesce(b.cell, a.cell) AS BIGINT) AS cell,
        |  CAST(coalesce(b.n, 0) AS BIGINT) AS n_before,
        |  CAST(coalesce(a.n, 0) AS BIGINT) AS n_after,
        |  CAST(coalesce(b.rs, 0) AS BIGINT) AS resid_sum_micro_before,
        |  CAST(coalesce(a.rs, 0) AS BIGINT) AS resid_sum_micro_after
        |FROM b FULL JOIN a ON b.cell = a.cell
        |ORDER BY cell""".stripMargin,

    // D101: the q_d99 chain generalized per query — probe selection,
    // encoding, per-query LUTs, micro-long ADC shortlists and the
    // micro-long L2 re-rank all PARTITION BY qid
    "q_d101_batch_ivfpq" ->
      """WITH qids AS (SELECT CAST(q AS BIGINT) AS qid
        |  FROM (VALUES (3),(31),(59),(87),(115)) t(q)),
        |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |qv AS (SELECT qid, v AS qvec FROM qids JOIN ev ON qid = vec_id),
        |cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
        |  CAST(embedding AS DOUBLE[]) AS cv FROM embeddings ORDER BY vec_id LIMIT 4),
        |cellof AS (SELECT vec_id, cid AS cell FROM (
        |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY (list_dot_product(c.cv, c.cv) - 2*list_dot_product(e.v, c.cv)) ASC,
        |             c.cid ASC) AS rn
        |  FROM ev e CROSS JOIN cents c) WHERE rn = 1),
        |probe AS (SELECT qid, cid AS cell FROM (
        |  SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
        |    ORDER BY (list_dot_product(c.cv, c.cv)
        |              - 2*list_dot_product(q.qvec, c.cv)) ASC, c.cid ASC) AS rn
        |  FROM qv q CROSS JOIN cents c) WHERE rn <= 2),
        |subs AS (SELECT j FROM (VALUES (0),(1),(2),(3)) t(j)),
        |e AS (SELECT vec_id, j, v[(16*j+1):(16*j+16)] AS sv FROM ev CROSS JOIN subs),
        |cs AS (SELECT cid, j, cv[(16*j+1):(16*j+16)] AS csv FROM cents CROSS JOIN subs),
        |enc AS (SELECT vec_id, j, cid FROM (
        |  SELECT e.vec_id, e.j, cs.cid, row_number() OVER (PARTITION BY e.vec_id, e.j
        |    ORDER BY (list_dot_product(cs.csv, cs.csv) - 2*list_dot_product(e.sv, cs.csv)) ASC,
        |             cs.cid ASC) AS rn
        |  FROM e JOIN cs ON e.j = cs.j) WHERE rn = 1),
        |qs AS (SELECT qid, j, qvec[(16*j+1):(16*j+16)] AS qsv FROM qv CROSS JOIN subs),
        |lut AS (SELECT qs.qid, cs.j, cs.cid,
        |  (list_dot_product(qs.qsv, qs.qsv) - 2*list_dot_product(qs.qsv, cs.csv)
        |    + list_dot_product(cs.csv, cs.csv)) AS s
        |  FROM cs JOIN qs ON cs.j = qs.j),
        |cand0 AS (SELECT p.qid, co.vec_id FROM cellof co JOIN probe p ON co.cell = p.cell),
        |sc AS (SELECT c0.qid, c0.vec_id,
        |  max(CASE WHEN enc.j=0 THEN lut.s END) AS s0,
        |  max(CASE WHEN enc.j=1 THEN lut.s END) AS s1,
        |  max(CASE WHEN enc.j=2 THEN lut.s END) AS s2,
        |  max(CASE WHEN enc.j=3 THEN lut.s END) AS s3
        |  FROM cand0 c0 JOIN enc ON enc.vec_id = c0.vec_id
        |  JOIN lut ON lut.qid = c0.qid AND lut.j = enc.j AND lut.cid = enc.cid
        |  GROUP BY c0.qid, c0.vec_id),
        |shortl AS (SELECT qid, vec_id,
        |  CAST(round((s0 + s1 + s2 + s3) * 1e6) AS BIGINT) AS adc_micro FROM sc),
        |cand AS (SELECT * FROM (SELECT qid, vec_id, adc_micro,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY adc_micro ASC, vec_id ASC) AS crn FROM shortl)
        |  WHERE crn <= 50),
        |rr AS (SELECT c.qid, c.vec_id, c.adc_micro,
        |  CAST(round((list_dot_product(q.qvec, q.qvec)
        |    - 2*list_dot_product(e.v, q.qvec)
        |    + list_dot_product(e.v, e.v)) * 1e6) AS BIGINT) AS l2_micro
        |  FROM cand c JOIN ev e ON c.vec_id = e.vec_id JOIN qv q ON q.qid = c.qid)
        |SELECT query_id, rank, vec_id, adc_micro, l2_micro FROM (
        |  SELECT qid AS query_id, vec_id, adc_micro, l2_micro,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY l2_micro ASC, vec_id ASC) AS BIGINT) AS rank FROM rr)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // D100: sign packing re-derived as 32 CASE bits per word (exact
    // integers), Hamming via xor+bit_count per word summed in word
    // order, the 50-candidate shortlist re-ranked by the q_d6 cosine
    "q_d100_binary_topk" -> {
      def word(v: String, w: Int): String =
        (0 until 32).map(i =>
          s"(CASE WHEN $v[${32 * w + i + 1}] > 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
          .mkString(" + ")
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |codes AS (SELECT vec_id,
         |  (${word("v", 0)}) AS w0,
         |  (${word("v", 1)}) AS w1 FROM ev),
         |qc AS (SELECT w0, w1 FROM codes WHERE vec_id = 0),
         |h AS (SELECT c.vec_id,
         |  CAST(bit_count(xor(c.w0, (SELECT w0 FROM qc)))
         |     + bit_count(xor(c.w1, (SELECT w1 FROM qc))) AS BIGINT) AS hamming
         |  FROM codes c),
         |cand AS (SELECT vec_id, hamming FROM h
         |  ORDER BY hamming ASC, vec_id ASC LIMIT 50)
         |SELECT c.vec_id, c.hamming,
         |  round(list_dot_product(e.v, (SELECT v FROM ev WHERE vec_id = 0))
         |    / (sqrt(list_dot_product(e.v, e.v))
         |       * sqrt(list_dot_product((SELECT v FROM ev WHERE vec_id = 0),
         |                               (SELECT v FROM ev WHERE vec_id = 0)))), 4)
         |    AS cosine_sim
         |FROM cand c JOIN ev e ON c.vec_id = e.vec_id
         |ORDER BY cosine_sim DESC, c.vec_id ASC LIMIT 10""".stripMargin
    },

    // C33: the oracle never sees the index maintenance — it grades
    // the exact bipartite jaccard matches of the %3=2 batch against
    // the UNIONED {0,1} store (q_d34b's pair construction), so a
    // merge that corrupted clusters, member lists, or band keys
    // surfaces as missing/extra/mis-scored match rows
    "q_c33_index_upsert" ->
      """WITH store AS (SELECT doc_id, list_distinct(regexp_split_to_array(text,' +')) AS ws
        |  FROM documents WHERE doc_id%3 IN (0,1)),
        |batch AS (SELECT doc_id, list_distinct(regexp_split_to_array(text,' +')) AS ws
        |  FROM documents WHERE doc_id%3 = 2),
        |stoks AS (SELECT doc_id, unnest(ws) AS tok, len(ws) AS sz FROM store),
        |btoks AS (SELECT doc_id, unnest(ws) AS tok, len(ws) AS sz FROM batch),
        |pairs AS (SELECT b.doc_id AS bid, s.doc_id AS sid, count(*) AS inter,
        |                 any_value(b.sz) AS bsz, any_value(s.sz) AS ssz
        |          FROM btoks b JOIN stoks s ON b.tok = s.tok
        |          GROUP BY 1, 2)
        |SELECT bid AS batch_id, sid AS store_id,
        |  round(inter*1.0/(bsz+ssz-inter),4) AS jaccard
        |FROM pairs WHERE round(inter*1.0/(bsz+ssz-inter),4) >= 0.9
        |ORDER BY batch_id, store_id""".stripMargin,

    // D103: Skilling's axes→transpose transform unrolled per bit —
    // one CTE per Q step (i=0 sub-step inlined, i=1 reads it), then
    // the Gray encode, the t fold, and the MSB-first interleave, all
    // in plain integer xor/&/shift arithmetic
    "q_d103_hilbert" -> {
      val bits = 8
      val steps = (0 until bits - 1).map { st =>
        val q = 1L << (bits - 1 - st)
        val p = q - 1
        val prev = if (st == 0) "k" else s"s${st - 1}"
        s"""s$st AS (SELECT o_orderkey,
           |  CASE WHEN (x1 & $q) <> 0 THEN xor(x0a, $p)
           |       ELSE xor(x0a, xor(x0a, x1) & $p) END AS x0,
           |  CASE WHEN (x1 & $q) <> 0 THEN x1
           |       ELSE xor(x1, xor(x0a, x1) & $p) END AS x1
           |  FROM (SELECT o_orderkey,
           |    xor(x0, CASE WHEN (x0 & $q) <> 0 THEN $p ELSE 0 END) AS x0a, x1
           |    FROM $prev))""".stripMargin
      }.mkString(",\n")
      val tFold = (1 until bits).map { j =>
        val q = 1L << (bits - j)
        s"(CASE WHEN (x1 & $q) <> 0 THEN ${q - 1} ELSE 0 END)"
      }.foldLeft("0")((acc, t) => s"xor($acc, $t)")
      val terms = (0 until bits).flatMap(j => Seq(
        s"(((x0 >> $j) & 1) << ${2 * j + 1})",
        s"(((x1 >> $j) & 1) << ${2 * j})")).mkString(" | ")
      s"""WITH o AS (SELECT o_orderkey, o_custkey AS v1,
         |  date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS v2
         |  FROM orders),
         |b AS (SELECT min(v1) AS mn1, max(v1) AS mx1,
         |  min(v2) AS mn2, max(v2) AS mx2 FROM o),
         |k AS (SELECT o_orderkey,
         |  ((v1 - mn1) * ${1L << bits}) // (mx1 - mn1 + 1) AS x0,
         |  ((v2 - mn2) * ${1L << bits}) // (mx2 - mn2 + 1) AS x1
         |  FROM o CROSS JOIN b),
         |$steps,
         |g AS (SELECT o_orderkey, x0, xor(x1, x0) AS x1 FROM s${bits - 2}),
         |tt AS (SELECT o_orderkey, x0, x1, $tFold AS t FROM g),
         |f AS (SELECT o_orderkey, xor(x0, t) AS x0, xor(x1, t) AS x1 FROM tt)
         |SELECT o_orderkey, CAST($terms AS BIGINT) AS h_value FROM f
         |ORDER BY o_orderkey""".stripMargin
    },

    // D103b: the q_d103 unrolled-CTE oracle generalized to three axes
    // (each Skilling step = three nested per-axis layers, serialized
    // exactly as the algorithm's inner loop)
    "q_d103b_hilbert3" ->
      """WITH o AS (SELECT o_orderkey, o_custkey AS v1,
        |  date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS v2,
        |  CAST(floor(o_totalprice) AS BIGINT) AS v3
        |  FROM orders),
        |b AS (SELECT min(v1) AS mn1, max(v1) AS mx1, min(v2) AS mn2, max(v2) AS mx2,
        |  min(v3) AS mn3, max(v3) AS mx3 FROM o),
        |k AS (SELECT o_orderkey,
        |  ((v1 - mn1) * 16) // (mx1 - mn1 + 1) AS x0,
        |  ((v2 - mn2) * 16) // (mx2 - mn2 + 1) AS x1,
        |  ((v3 - mn3) * 16) // (mx3 - mn3 + 1) AS x2
        |  FROM o CROSS JOIN b),
        |s0 AS (SELECT o_orderkey,
        |  CASE WHEN (x2 & 8) <> 0 THEN xor(x0b, 7)
        |       ELSE xor(x0b, xor(x0b, x2) & 7) END AS x0,
        |  x1b AS x1,
        |  CASE WHEN (x2 & 8) <> 0 THEN x2
        |       ELSE xor(x2, xor(x0b, x2) & 7) END AS x2
        |  FROM (SELECT o_orderkey,
        |    CASE WHEN (x1 & 8) <> 0 THEN xor(x0a, 7)
        |         ELSE xor(x0a, xor(x0a, x1) & 7) END AS x0b,
        |    CASE WHEN (x1 & 8) <> 0 THEN x1
        |         ELSE xor(x1, xor(x0a, x1) & 7) END AS x1b,
        |    x2
        |    FROM (SELECT o_orderkey,
        |      xor(x0, CASE WHEN (x0 & 8) <> 0 THEN 7 ELSE 0 END) AS x0a, x1, x2
        |      FROM k))),
        |s1 AS (SELECT o_orderkey,
        |  CASE WHEN (x2 & 4) <> 0 THEN xor(x0b, 3)
        |       ELSE xor(x0b, xor(x0b, x2) & 3) END AS x0,
        |  x1b AS x1,
        |  CASE WHEN (x2 & 4) <> 0 THEN x2
        |       ELSE xor(x2, xor(x0b, x2) & 3) END AS x2
        |  FROM (SELECT o_orderkey,
        |    CASE WHEN (x1 & 4) <> 0 THEN xor(x0a, 3)
        |         ELSE xor(x0a, xor(x0a, x1) & 3) END AS x0b,
        |    CASE WHEN (x1 & 4) <> 0 THEN x1
        |         ELSE xor(x1, xor(x0a, x1) & 3) END AS x1b,
        |    x2
        |    FROM (SELECT o_orderkey,
        |      xor(x0, CASE WHEN (x0 & 4) <> 0 THEN 3 ELSE 0 END) AS x0a, x1, x2
        |      FROM s0))),
        |s2 AS (SELECT o_orderkey,
        |  CASE WHEN (x2 & 2) <> 0 THEN xor(x0b, 1)
        |       ELSE xor(x0b, xor(x0b, x2) & 1) END AS x0,
        |  x1b AS x1,
        |  CASE WHEN (x2 & 2) <> 0 THEN x2
        |       ELSE xor(x2, xor(x0b, x2) & 1) END AS x2
        |  FROM (SELECT o_orderkey,
        |    CASE WHEN (x1 & 2) <> 0 THEN xor(x0a, 1)
        |         ELSE xor(x0a, xor(x0a, x1) & 1) END AS x0b,
        |    CASE WHEN (x1 & 2) <> 0 THEN x1
        |         ELSE xor(x1, xor(x0a, x1) & 1) END AS x1b,
        |    x2
        |    FROM (SELECT o_orderkey,
        |      xor(x0, CASE WHEN (x0 & 2) <> 0 THEN 1 ELSE 0 END) AS x0a, x1, x2
        |      FROM s1))),
        |g AS (SELECT o_orderkey, x0, xor(x1, x0) AS x1, x2 FROM s2),
        |g2 AS (SELECT o_orderkey, x0, x1, xor(x2, x1) AS x2 FROM g),
        |tt AS (SELECT o_orderkey, x0, x1, x2, xor(xor(xor(0, (CASE WHEN (x2 & 8) <> 0 THEN 7 ELSE 0 END)), (CASE WHEN (x2 & 4) <> 0 THEN 3 ELSE 0 END)), (CASE WHEN (x2 & 2) <> 0 THEN 1 ELSE 0 END)) AS t FROM g2),
        |f AS (SELECT o_orderkey, xor(x0, t) AS x0, xor(x1, t) AS x1, xor(x2, t) AS x2 FROM tt)
        |SELECT o_orderkey, CAST((((x0 >> 0) & 1) << 2) | (((x1 >> 0) & 1) << 1) | (((x2 >> 0) & 1) << 0) | (((x0 >> 1) & 1) << 5) | (((x1 >> 1) & 1) << 4) | (((x2 >> 1) & 1) << 3) | (((x0 >> 2) & 1) << 8) | (((x1 >> 2) & 1) << 7) | (((x2 >> 2) & 1) << 6) | (((x0 >> 3) & 1) << 11) | (((x1 >> 3) & 1) << 10) | (((x2 >> 3) & 1) << 9) AS BIGINT) AS h_value FROM f
        |ORDER BY o_orderkey""".stripMargin,

    // D104: the full block arithmetic re-derived — same six chrome
    // removals ('g' flags: DuckDB replaces first-only by default),
    // same block-split regex, per-block normalized text + link-text
    // lengths, the integer link-density rule, the chr(10) join
    "q_d104_main_content" ->
      """WITH pages AS (SELECT doc_id,
        |  '<html><header><h1>Site Title Here</h1></header>' ||
        |  '<nav><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></nav>' ||
        |  '<div id="main">' || text || '</div>' ||
        |  '<div class="rel"><a href="/p1">Related article one</a> <a href="/p2">Related article two</a> <a href="/p3">Related article three</a></div>' ||
        |  '<footer>(c) 2026 Example Corp - All rights reserved</footer></html>' AS html
        |  FROM documents),
        |nochrome AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |    '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
        |    '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
        |    '(?is)<nav\b[^>]*>.*?</nav>', ' ', 'g'),
        |    '(?is)<footer\b[^>]*>.*?</footer>', ' ', 'g'),
        |    '(?is)<aside\b[^>]*>.*?</aside>', ' ', 'g'),
        |    '(?is)<header\b[^>]*>.*?</header>', ' ', 'g') AS h
        |  FROM pages),
        |scored AS (SELECT doc_id, list_transform(regexp_split_to_array(h,
        |    '(?i)</?(?:p|div|h[1-6]|li|ul|ol|table|tr|td|th|br|section|article|main|blockquote)\b[^>]*>'),
        |  b -> {'t': trim(regexp_replace(regexp_replace(b, '(?s)<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')),
        |        'l': coalesce(list_sum(list_transform(
        |               regexp_extract_all(b, '(?is)<a\b[^>]*>(.*?)</a>', 1),
        |               x -> len(trim(regexp_replace(regexp_replace(x, '(?s)<[^>]*>', ' ', 'g'), '\s+', ' ', 'g'))))), 0)}) AS st
        |  FROM nochrome),
        |kept AS (SELECT doc_id, list_transform(list_filter(st,
        |    s -> len(s.t) >= 25 AND s.l * 100 <= 33 * len(s.t)), s -> s.t) AS ks
        |  FROM scored)
        |SELECT doc_id, CAST(len(ks) AS BIGINT) AS n_blocks_kept,
        |  array_to_string(ks, chr(10)) AS content
        |FROM kept ORDER BY doc_id""".stripMargin,

    // e2e-13: the final per-lang view derived directly — all docs,
    // minus the [10,40] deletes, with [50,80] re-bucketed to 'xx';
    // an incremental view that dropped a delta, double-counted a
    // carrier row, or missed the update's re-bucketing pair fails on
    // count; the cert row pins incremental ≡ direct inside Spark too
    "q_e2e_incremental" ->
      """WITH fin AS (
        |  SELECT CASE WHEN doc_id BETWEEN 50 AND 80 THEN 'xx'
        |              ELSE lang END AS lang
        |  FROM documents WHERE NOT (doc_id BETWEEN 10 AND 40))
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM fin GROUP BY lang
        |UNION ALL SELECT '_cert_inc_eq_direct', 1
        |ORDER BY lang""".stripMargin,

    // e2e-12: the post-CDC table derived directly (the three change
    // classes are key-disjoint: updates on even store keys, deletes
    // on odd multiples of 5, inserts on the %3=1 slice), censused
    // once — both readers MUST report it identically; file count =
    // the C30c ceil arithmetic over the final row count
    "q_e2e_lakehouse" ->
      """WITH fin AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN text || ' [rev1]' ELSE text END AS text
        |  FROM documents
        |  WHERE doc_id % 3 = 0 AND NOT (doc_id % 2 <> 0 AND doc_id % 5 = 0)
        |  UNION ALL
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1),
        |h AS (SELECT list_reduce(list_transform(range(1, 16),
        |    i -> strpos('0123456789abcdef', substr(md5(
        |      CAST(doc_id AS VARCHAR) || '|' || coalesce(text, '')),
        |      CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) AS hh FROM fin),
        |n AS (SELECT count(*) AS n FROM fin)
        |SELECT * FROM (
        |  SELECT 'cert_disjoint_filesets' AS metric, CAST(1 AS BIGINT) AS value
        |  UNION ALL SELECT 'cert_v1_alive', 1
        |  UNION ALL SELECT 'files_latest', CAST((n + 199) // 200 AS BIGINT) FROM n
        |  UNION ALL SELECT 'rows_latest', CAST(n AS BIGINT) FROM n
        |  UNION ALL SELECT 'rows_v1_reader', CAST(n AS BIGINT) FROM n
        |  UNION ALL SELECT 'versions', 3
        |  UNION ALL SELECT 'xor_latest', CAST(bit_xor(hh) AS BIGINT) FROM h
        |  UNION ALL SELECT 'xor_v1_reader', CAST(bit_xor(hh) AS BIGINT) FROM h)
        |ORDER BY metric""".stripMargin,

    // D102: the oracle computes the exact per-key counts; the Spark
    // side's ok flags certify estimate == exact (deterministic at the
    // pinned seed/dims) and merge ≡ whole-build byte equality
    "q_d102_countmin" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS exact_cnt,
        |  CAST(1 AS BIGINT) AS ok
        |FROM events WHERE event_type IS NOT NULL GROUP BY event_type
        |UNION ALL
        |SELECT 'zz_merge_eq_whole', CAST(-1 AS BIGINT), CAST(1 AS BIGINT)
        |ORDER BY event_type""".stripMargin,

    // C34: the oracle pins the expected repairs as literals — a wrong
    // repair, a rewritten clean string, or a corpus rewrite all
    // hash-fail
    "q_c34_mojibake" ->
      """SELECT * FROM (VALUES
        |  ('fix_cp1252_apos', 'don’t'),
        |  ('fix_latin1_eacute', 'café'),
        |  ('fix_double_encoded', 'é'),
        |  ('fix_cp1251_cyrillic', 'привет мир'),
        |  ('fix_latin2_hacek', 'žluťoučký kůň'),
        |  ('keep_clean_utf8', 'café'),
        |  ('keep_clean_cyrillic', 'привет мир'),
        |  ('keep_clean_latin2', 'žluťoučký kůň'),
        |  ('keep_ascii', 'hello'),
        |  ('zz_corpus_changed', '0')) t(tag, "value")
        |ORDER BY tag""".stripMargin,

    // e2e-11: q_c33's exact bipartite keep set chained into q_d96's
    // engine-exact row_number total order — one SQL chain, so the
    // composite certifies the stages compose, not just pass alone
    "q_e2e_maintain" ->
      """WITH store AS (SELECT doc_id, list_distinct(regexp_split_to_array(text,' +')) AS ws
        |  FROM documents WHERE doc_id%3 IN (0,1)),
        |batch AS (SELECT doc_id, list_distinct(regexp_split_to_array(text,' +')) AS ws
        |  FROM documents WHERE doc_id%3 = 2),
        |stoks AS (SELECT doc_id, unnest(ws) AS tok, len(ws) AS sz FROM store),
        |btoks AS (SELECT doc_id, unnest(ws) AS tok, len(ws) AS sz FROM batch),
        |pairs AS (SELECT b.doc_id AS bid, count(*) AS inter,
        |                 any_value(b.sz) AS bsz, any_value(s.sz) AS ssz
        |          FROM btoks b JOIN stoks s ON b.tok = s.tok
        |          GROUP BY b.doc_id, s.doc_id),
        |hit AS (SELECT DISTINCT bid FROM pairs
        |        WHERE round(inter*1.0/(bsz+ssz-inter),4) >= 0.9),
        |keep AS (SELECT d.doc_id, d.n_chars FROM documents d
        |         WHERE d.doc_id%3 = 2 AND d.doc_id NOT IN (SELECT bid FROM hit))
        |SELECT doc_id, n_chars,
        |  CAST(row_number() OVER (ORDER BY n_chars DESC NULLS LAST, doc_id)
        |    - 1 AS BIGINT) AS global_rank
        |FROM keep ORDER BY global_rank""".stripMargin,

    // e2e-9: the d41 fraction arithmetic, the d25 md5-bucket filter
    // (JVM math.round(f*10000) mirrored as floor(x+0.5)), and the
    // d94 schedule re-derived as ONE chain
    "q_e2e_mixture" ->
      """WITH t AS (SELECT lang, CAST(sum(CASE WHEN length(trim(text))=0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text),' +')) END) AS BIGINT) AS tokens
        |  FROM documents GROUP BY 1),
        |w AS (SELECT lang, tokens,
        |  CAST(round(sqrt(CAST(tokens AS DOUBLE)) * 1e6) AS BIGINT) AS wt FROM t),
        |nw AS (SELECT sum(wt) AS wsum FROM w),
        |fr AS (SELECT lang, round(least(1.0,
        |    (10000.0 * wt / (SELECT wsum FROM nw)) / tokens), 4) AS keep_frac
        |  FROM w),
        |th AS (SELECT lang, CAST(floor(keep_frac * 10000 + 0.5) AS BIGINT) AS thr
        |  FROM fr),
        |b AS (SELECT doc_id, lang, list_reduce(list_transform(range(1, 9),
        |    i -> strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),
        |      CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) % 10000 AS bkt FROM documents),
        |samp AS (SELECT b.doc_id, b.lang FROM b JOIN th USING (lang)
        |  WHERE bkt < thr),
        |ranked AS (SELECT lang AS source, doc_id AS id,
        |  CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY md5('interleave-0:' || CAST(doc_id AS VARCHAR)), doc_id)
        |    - 1 AS BIGINT) AS r
        |  FROM samp),
        |qq AS (SELECT source, count(*) AS q FROM ranked GROUP BY 1)
        |SELECT source, id, r, CAST(q AS BIGINT) AS q,
        |  CAST(CAST(2*r + 1 AS HUGEINT) * 1000000000000 // (2*q) AS BIGINT)
        |    AS pos_key
        |FROM ranked JOIN qq USING (source)
        |ORDER BY pos_key, source, id""".stripMargin,

    // the two-pass distributed rank must equal the engine's own
    // total-order row_number (NULLS LAST spelled out: Spark desc =
    // nulls-last, DuckDB's default differs)
    "q_d96_global_rank" ->
      """SELECT doc_id, n_chars,
        |  CAST(row_number() OVER (ORDER BY n_chars DESC NULLS LAST, doc_id)
        |    - 1 AS BIGINT) AS global_rank
        |FROM documents ORDER BY global_rank""".stripMargin,

    // the schedule re-derived: the same md5 within-source rank order,
    // per-source counts, and the (2r+1)*1e12 // (2q) key in HUGEINT
    // (mirrors Spark's pmod-exact decimal floor)
    "q_d94_interleave" ->
      """WITH ranked AS (SELECT lang AS source, doc_id AS id,
        |  CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY md5('interleave-0:' || CAST(doc_id AS VARCHAR)), doc_id)
        |    - 1 AS BIGINT) AS r
        |  FROM documents),
        |qq AS (SELECT source, count(*) AS q FROM ranked GROUP BY 1)
        |SELECT source, id, r, CAST(q AS BIGINT) AS q,
        |  CAST(CAST(2*r + 1 AS HUGEINT) * 1000000000000 // (2*q) AS BIGINT)
        |    AS pos_key
        |FROM ranked JOIN qq USING (source)
        |ORDER BY pos_key, source, id""".stripMargin,

    // e2e-8: both retrieval chains re-derived (dense = the d90 CTE,
    // sparse = the d92 CTE with bridged-doc query text), then RRF in
    // pure integer division — no float anywhere in the fusion
    "q_e2e_hybrid" ->
      """WITH nd AS (SELECT count(*) AS n FROM documents),
        |qe AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id IN (11, 42, 103)),
        |sc AS (SELECT qe.qid, e.vec_id AS id,
        |  CAST(round(list_dot_product(CAST(e.embedding AS DOUBLE[]), qe.qv)
        |    / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
        |       * sqrt(list_dot_product(qe.qv, qe.qv))) * 1000000.0) AS BIGINT) AS score_micro
        |  FROM embeddings e CROSS JOIN qe
        |  WHERE list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) > 0),
        |dr AS (SELECT qid, id, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY score_micro DESC, id) AS BIGINT) AS rank FROM sc),
        |dense AS (SELECT qid AS query_id, id % (SELECT n FROM nd) AS doc_id,
        |  min(rank) AS r FROM dr WHERE rank <= 10 GROUP BY 1, 2),
        |q AS (SELECT qe.qid, array_to_string(
        |    regexp_split_to_array(trim(d.text), ' +')[1:5], ' ') AS qtext
        |  FROM qe JOIN documents d ON d.doc_id = qe.qid % (SELECT n FROM nd)),
        |tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), ' +')) AS term
        |  FROM documents),
        |post AS (SELECT doc_id, term, count(*) AS tf FROM tok
        |  WHERE term <> '' GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM post GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS ndd,
        |  CAST(sum(dl) AS DOUBLE) AS sumdld FROM dl),
        |qt AS (SELECT DISTINCT qid, term FROM (SELECT qid,
        |    unnest(regexp_split_to_array(trim(qtext), ' +')) AS term FROM q)
        |  WHERE term <> ''),
        |dft AS (SELECT term, count(*) AS df FROM post
        |  WHERE term IN (SELECT term FROM qt) GROUP BY 1),
        |terms AS (SELECT qt.qid, p.doc_id,
        |  ln(1.0 + (ndd - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
        |    * (CAST(tf AS DOUBLE) * (1.2 + 1.0)
        |       / (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75
        |          + 0.75 * CAST(dl AS DOUBLE) * ndd / sumdld)))
        |    * 1e6 AS x
        |  FROM post p JOIN dft USING (term) JOIN dl USING (doc_id)
        |  CROSS JOIN st JOIN qt USING (term)),
        |bm AS (SELECT qid, doc_id,
        |  CAST(sum(CAST(round(x) AS BIGINT)) AS BIGINT) AS score_micro
        |  FROM terms GROUP BY 1, 2),
        |sr AS (SELECT qid, doc_id, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
        |  FROM bm),
        |sparse AS (SELECT qid AS query_id, doc_id, min(rank) AS r
        |  FROM sr WHERE rank <= 10 GROUP BY 1, 2),
        |contrib AS (
        |  SELECT query_id, doc_id, 1000000 // (60 + r) AS c FROM dense
        |  UNION ALL SELECT query_id, doc_id, 1000000 // (60 + r) FROM sparse),
        |fused AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro
        |  FROM contrib GROUP BY 1, 2),
        |fr AS (SELECT query_id, doc_id, rrf_micro, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY rrf_micro DESC, doc_id) AS BIGINT) AS rank
        |  FROM fused)
        |SELECT CAST(query_id AS BIGINT) AS query_id, rank,
        |  CAST(doc_id AS BIGINT) AS doc_id, rrf_micro
        |FROM fr WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // SimHash recomputed end-to-end: the sketch is a per-bit majority
    // vote over portable 60-bit token hashes (md5 nibble fold), so
    // DuckDB rebuilds the identical sketch and the identical pair set
    "q_d3_simhash" -> {
      val bitCases = (0 until 60).map(i =>
        s"CASE WHEN sum(((th >> $i) & 1)*2 - 1) > 0 THEN ${1L << i} ELSE 0 END")
        .mkString(" + ")
      s"""WITH w AS (SELECT doc_id, unnest(list_distinct(regexp_split_to_array(text,' +'))) AS tok FROM documents),
         |h AS (SELECT doc_id, list_reduce(list_transform(range(1, 16),
         |   i -> strpos('0123456789abcdef', substr(md5(tok), CAST(i AS INT), 1)) - 1),
         |   (a, x) -> a * 16 + x) AS th FROM w),
         |sk AS (SELECT doc_id, $bitCases AS sh FROM h GROUP BY doc_id)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         | CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
         |FROM sk a JOIN sk b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh, b.sh)) <= 3
         |ORDER BY id_a, id_b""".stripMargin
    },

    // the portable md5-head bucket (conv(md5[1:8],16,10) in Spark)
    // recomputed via horner-fold over the 8 hex nibbles
    "q_d16_split" ->
      """WITH b AS (SELECT list_reduce(list_transform(range(1, 9),
        |    i -> strpos('0123456789abcdef', substr(md5(text), CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) % 100 AS bkt FROM documents)
        |SELECT CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split,
        | count(*) AS cnt
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_d17_sample" ->
      """WITH b AS (SELECT o_orderkey, list_reduce(list_transform(range(1, 9),
        |    i -> strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR) || 's1'), CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) % 10000 AS bkt FROM orders)
        |SELECT count(*) AS cnt, min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM b WHERE bkt < 500""".stripMargin,

    // anti-join on content hash; NOT IN is safe (md5 never NULL here)
    "q_d19_incr_dedup" ->
      """SELECT doc_id FROM documents
        |WHERE md5(text) NOT IN (SELECT md5(text) FROM documents WHERE doc_id%3=0)
        |ORDER BY doc_id""".stripMargin,

    "q_d18_pii" ->
      s"""WITH e AS ($emailSqlKeyed)
         |SELECT c_custkey,
         | regexp_replace(regexp_replace(
         |   'contact ' || email || ' id ' || CAST(10000000000 + c_custkey*7919 AS VARCHAR) || ' end',
         |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |   '[0-9]{10,}', '<NUM>', 'g') AS redacted
         |FROM e ORDER BY c_custkey""".stripMargin,

    // mirrors StubCodec: first 8 nibbles of md5(payload bytes) / 15,
    // rendered with shortest-round-trip float formatting (identical
    // between JVM Float.toString and DuckDB's FLOAT -> VARCHAR for
    // all 16 possible nibble values)
    "q_d13_multimodal" ->
      """SELECT CAST(doc_id AS BIGINT) AS id, 'txt' AS format,
        | array_to_string(list_transform(range(1, 9), i ->
        |   CAST(CAST(strpos('0123456789abcdef', substr(md5(text), i, 1)) - 1 AS FLOAT)
        |        / CAST(15 AS FLOAT) AS VARCHAR)), ',') AS features_csv
        |FROM documents ORDER BY id""".stripMargin,

    // REAL-codec gate rows: the fixture payloads are deterministic by
    // construction (lossless PNG/WAV of exact constructed pixels/
    // samples + fixed-order double feature math, rounded to 6 dp), so
    // the expected vectors are pinned as literals — any decode/
    // resample/FFT drift hash-mismatches. Row 3 pins the corrupt-
    // payload totality contract (empty features, task survives).
    "q_d13b_img" ->
      ("""SELECT CAST(id AS BIGINT) AS id, CAST(nfeat AS INT) AS nfeat,
        | """ + (0 to 17).map(i => f"CAST(f$i%02d AS DOUBLE) AS f$i%02d")
          .mkString(", ") + """
        |FROM (VALUES
        | (1, 18, 0.0, 0.0, 0.091797, 0.208008, 0.350586, 0.349609, 0.0, 0.0,
        |  0.003142, 0.002037, 0.453887, 0.375309, 0.165626, 0.0, 0.0, 0.0,
        |  0.553987, 0.104353),
        | (2, 18, 0.5, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.5,
        |  0.0, 0.059067, 0.190933, 0.059067, 0.190933, 0.059067, 0.190933, 0.25,
        |  0.5, 0.5),
        | (3, 0, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
        |  NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)
        |) AS t(id, nfeat, f00, f01, f02, f03, f04, f05, f06, f07, f08, f09,
        |       f10, f11, f12, f13, f14, f15, f16, f17)
        |ORDER BY id""").stripMargin,
    // the media chain re-derived: stub resize = first-32-byte
    // truncation (16*16/8 budget), stub features = first 8 md5
    // nibbles, cosine==1.0 pairs = identical nibble prefixes, collapse
    // = min id per group. length() is byte-accurate here because the
    // synthetic documents are ASCII.
    "q_e2e_media" ->
      """WITH corpus AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id + 1000000000 AS BIGINT) AS id, text
        |  FROM documents WHERE doc_id % 20 = 0
        |), resized AS (
        |  SELECT id, substr(text, 1, 32) AS rz FROM corpus
        |), grp AS (
        |  SELECT id, CAST(length(rz) AS BIGINT) AS n_resized,
        |         min(id) OVER (PARTITION BY substr(md5(rz), 1, 8)) AS keeper
        |  FROM resized
        |)
        |SELECT id AS doc_id, n_resized
        |FROM grp WHERE id = keeper ORDER BY doc_id""".stripMargin,

    // D91: discrete dHash outcomes pinned as VALUES (DuckDB cannot
    // decode PNG; the d13b scheme). The 2x upscale drifts 0 bits on
    // the clean cell alignment; the monotone gradient dHashes to 0
    // (strict > on an ascending row) — far from the checker hash.
    "q_d91_image_dhash" ->
      """SELECT tag, CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
        |  CAST(v AS BIGINT) AS v
        |FROM (VALUES
        |  ('doc', 1, -1, 1736210507990843970),
        |  ('doc', 2, -1, 1736210507990843970),
        |  ('doc', 3, -1, 1736210507990843970),
        |  ('doc', 4, -1, 0), ('doc', 5, -1, -999),
        |  ('pair', 1, 2, 0), ('pair', 1, 3, 0), ('pair', 2, 3, 0))
        |  AS t(tag, id_a, id_b, v)
        |ORDER BY tag, id_a, id_b""".stripMargin,

    // D89: the sqrt-competence schedule re-derived in exact integer
    // SQL — positive-branch ceil via (a+b-1)//b, p<=c0 branch -> 1
    "q_d89_curriculum" ->
      """WITH s AS (SELECT doc_id AS id,
        |    CAST(round(n_chars*1000000.0) AS BIGINT) AS difficulty_micro
        |  FROM documents),
        |h AS (SELECT difficulty_micro, count(*) AS c FROM s GROUP BY 1),
        |cum AS (SELECT difficulty_micro,
        |    CAST(sum(c) OVER (ORDER BY difficulty_micro) AS BIGINT) AS cnt_le
        |  FROM h),
        |tot AS (SELECT CAST(max(cnt_le) AS BIGINT) AS n_total FROM cum)
        |SELECT s.id, s.difficulty_micro, cum.cnt_le, tot.n_total,
        |  CAST(CASE WHEN 100*100*cnt_le*cnt_le <= 100*n_total*n_total THEN 1
        |    ELSE least(100, (100*100*cnt_le*cnt_le - 100*n_total*n_total
        |      + 99*n_total*n_total - 1) // (99*n_total*n_total)) END
        |    AS BIGINT) AS first_step
        |FROM s JOIN cum USING (difficulty_micro) CROSS JOIN tot
        |ORDER BY id""".stripMargin,

    // D88: discrete fingerprint outcomes pinned as VALUES (DuckDB
    // cannot FFT; the d13b/c scheme). 90 aligned landmarks at the
    // exact lead-silence offset certify decode→STFT→hash→join.
    "q_d88_audio_fingerprint" ->
      """SELECT tag, CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
        |  CAST(v AS BIGINT) AS v, CAST(w AS BIGINT) AS w
        |FROM (VALUES
        |  ('doc', 1, -1, 90, 0), ('doc', 2, -1, 90, 0),
        |  ('doc', 3, -1, 98, 0), ('doc', 4, -1, 77, 0),
        |  ('doc', 5, -1, 0, 0),
        |  ('pair', 1, 2, 90, 0), ('pair', 1, 3, 90, 5),
        |  ('pair', 2, 3, 90, 5)) AS t(tag, id_a, id_b, v, w)
        |ORDER BY tag, id_a, id_b""".stripMargin,

    "q_d13c_wav" ->
      ("""SELECT CAST(id AS BIGINT) AS id, CAST(nfeat AS INT) AS nfeat,
        | """ + (0 to 11).map(i => f"CAST(g$i%02d AS DOUBLE) AS g$i%02d")
          .mkString(", ") + """
        |FROM (VALUES
        | (1, 12, 0.353526, 0.109777, 0.000036, 0.000114, 0.000112, 0.000398,
        |  0.99826, 0.001038, 0.000035, 0.000007, 0.5, 0.08),
        | (2, 12, 0.176758, 0.374687, 0.000004, 0.000008, 0.000018, 0.000036,
        |  0.000082, 0.000289, 0.999252, 0.000309, 0.25, 0.08),
        | (3, 0, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
        |  NULL, NULL)
        |) AS t(id, nfeat, g00, g01, g02, g03, g04, g05, g06, g07, g08, g09,
        |       g10, g11)
        |ORDER BY id""").stripMargin,

    // the whole pipeline re-derived in one WITH chain: quality gate
    // (q_d35's CTEs), whitespace repair, exact dedup (min-id per
    // md5), near-dup components (recursive CTE, q_d42's keeper rule),
    // 5-gram decontamination (q_d23), sqrt-temperature mixture
    // (q_d41), md5-head buckets for sample/split/packing (q_d25/
    // q_d16/q_d26 — ONE hash value, three moduli), and the packing
    // window. Near-dup pairs use exact jaccard >= 0.9 — the same
    // recall-1 equivalence q_d2 establishes for minhashPairs on this
    // corpus.
    // the span gate, the DSIR model, the Gumbel draw and the split
    // bucket re-derived in one chain; `kept` replaces `documents` in
    // the d46 fragment verbatim
    "q_e2e_curation" ->
      """WITH b AS (SELECT * FROM documents WHERE doc_id%2=0),
        |dd AS (SELECT doc_id, regexp_split_to_array(trim(text),' +') AS t
        |  FROM b WHERE length(trim(text)) > 0),
        |d2 AS (SELECT doc_id, t FROM dd WHERE len(t) >= 8),
        |sp AS (SELECT doc_id, unnest(generate_series(1, len(t)-7)) AS p, t FROM d2),
        |hh AS (SELECT doc_id,
        |  substr(md5(list_aggregate(t[p:p+7], 'string_agg', ' ')), 1, 15) AS fp FROM sp),
        |oc AS (SELECT fp, count(*) AS occ FROM hh GROUP BY 1),
        |st AS (SELECT hh.doc_id,
        |  round(count(CASE WHEN occ >= 2 THEN 1 END) * 10000.0 / count(*)) / 10000.0 AS df_raw
        |  FROM hh JOIN oc USING (fp) GROUP BY hh.doc_id),
        |kept AS (SELECT * FROM b WHERE doc_id NOT IN
        |  (SELECT doc_id FROM st WHERE df_raw > 0.5)),
        |toks AS (SELECT doc_id, regexp_split_to_array(trim(text),' +') AS t
        |  FROM kept WHERE length(trim(text)) > 0),
        |uni AS (SELECT doc_id, unnest(t) AS f FROM toks),
        |bi AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS f
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
        |        FROM toks WHERE len(t) >= 2)),
        |feats AS (SELECT doc_id, list_reduce(list_transform(range(1, 9),
        |    i -> strpos('0123456789abcdef', substr(md5(f), CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) % 10000 AS bucket
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
        |fc AS (SELECT doc_id, bucket, count(*) AS cnt FROM feats GROUP BY 1, 2),
        |tc AS (SELECT bucket, sum(cnt) AS tcnt FROM fc
        |  JOIN kept USING (doc_id) WHERE lang = 'en' GROUP BY 1),
        |rc AS (SELECT bucket, sum(cnt) AS rcnt FROM fc GROUP BY 1),
        |m AS (SELECT COALESCE(tc.bucket, rc.bucket) AS bucket,
        |  COALESCE(tcnt, 0) AS tcnt, COALESCE(rcnt, 0) AS rcnt
        |  FROM tc FULL OUTER JOIN rc ON tc.bucket = rc.bucket),
        |tot AS (SELECT sum(tcnt) AS tt, sum(rcnt) AS rt FROM m),
        |lr AS (SELECT bucket, CAST(round((ln((tcnt + 1) / (tt + 10000))
        |  - ln((rcnt + 1) / (rt + 10000))) * 1e6) AS BIGINT) AS lrm
        |  FROM m CROSS JOIN tot),
        |w AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS feat_count,
        |  CAST(sum(cnt * lrm) AS BIGINT) AS lr_micro
        |  FROM fc JOIN lr USING (bucket) GROUP BY 1),
        |g AS (SELECT doc_id, feat_count, lr_micro,
        |  CAST(round(lr_micro / 100.0) AS BIGINT) / 10000.0 AS log_ratio,
        |  lr_micro + CAST(round(-ln(-ln((list_reduce(list_transform(range(1, 9),
        |    i -> strpos('0123456789abcdef',
        |      substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) + 0.5) / 4294967296.0)) * 1e6) AS BIGINT) AS gumbel_key
        |  FROM w),
        |sel AS (SELECT * FROM g ORDER BY gumbel_key DESC, doc_id LIMIT 100),
        |bk AS (SELECT sel.*, list_reduce(list_transform(range(1, 9),
        |    i -> strpos('0123456789abcdef',
        |      substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) % 100 AS bkt FROM sel)
        |SELECT * FROM (
        |  SELECT doc_id, feat_count, log_ratio,
        |    CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split,
        |    'sel' AS tag FROM bk
        |  UNION ALL SELECT -1, -1, 1.0, 'guard', 'lambda_guard'
        |  UNION ALL SELECT -2, -1, 1.0, 'guard', 'gumbel_guard')
        |ORDER BY tag, doc_id""".stripMargin,

    "q_e2e_pipeline" ->
      """WITH RECURSIVE
        |tok0 AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text),' +')) AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |tok1 AS (SELECT doc_id, t FROM tok0 WHERE length(t) > 0),
        |tcq AS (SELECT doc_id, t, count(*) AS c FROM tok1 GROUP BY 1,2),
        |mq AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  round(max(c)*1.0/sum(c), 4) AS top_word_frac,
        |  round(count(*)*1.0/sum(c), 4) AS distinct_ratio FROM tcq GROUP BY 1),
        |keepq AS (SELECT d.doc_id, d.source,
        |  trim(regexp_replace(d.text, ' +', ' ', 'g')) AS tn
        |  FROM documents d JOIN mq USING (doc_id)
        |  WHERE mq.n_tokens >= 20 AND mq.n_tokens <= 90
        |    AND mq.top_word_frac <= 0.15 AND mq.distinct_ratio >= 0.40),
        |ex AS (SELECT doc_id, source, tn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY md5(tn) ORDER BY doc_id) AS rn
        |  FROM keepq) WHERE rn = 1),
        |wsx AS (SELECT doc_id, list_distinct(regexp_split_to_array(tn,' +')) AS ws FROM ex),
        |wtok AS (SELECT doc_id, unnest(ws) AS tok, len(ws) AS sz FROM wsx),
        |pairs AS (SELECT id_a, id_b FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
        |         any_value(a.sz) AS sz_a, any_value(b.sz) AS sz_b
        |  FROM wtok a JOIN wtok b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |  WHERE round(inter*1.0/(sz_a+sz_b-inter),4) >= 0.9),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT a AS n FROM edges),
        |cc(n, lbl) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT e.b, cc.lbl FROM cc JOIN edges e ON cc.n = e.a),
        |comp AS (SELECT n AS doc_id, MIN(lbl) AS cluster_id FROM cc GROUP BY n),
        |scorex AS (SELECT doc_id, len(regexp_split_to_array(trim(tn),' +')) AS sc FROM ex),
        |rankedx AS (SELECT c.doc_id, row_number() OVER (
        |    PARTITION BY c.cluster_id ORDER BY s.sc DESC, c.doc_id ASC) AS rn
        |  FROM comp c JOIN scorex s USING (doc_id)),
        |losers AS (SELECT doc_id FROM rankedx WHERE rn > 1),
        |collapsed AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
        |corpus0 AS (SELECT * FROM collapsed WHERE doc_id % 11 <> 0),
        |benchw AS (SELECT regexp_split_to_array(trim(regexp_replace(text,' +',' ','g')),' +') AS w
        |  FROM documents WHERE doc_id % 11 = 0),
        |bsh AS (SELECT DISTINCT unnest(list_transform(range(1, greatest(len(w)-4,1)+1),
        |    i -> array_to_string(w[i:i+4], ' '))) AS sh FROM benchw),
        |cw AS (SELECT doc_id, regexp_split_to_array(tn,' +') AS w FROM corpus0),
        |csh AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(w)-4,1)+1),
        |    i -> array_to_string(w[i:i+4], ' '))) AS sh FROM cw),
        |dirty AS (SELECT DISTINCT doc_id FROM csh JOIN bsh USING (sh)),
        |clean AS (SELECT c.doc_id, c.source,
        |    len(regexp_split_to_array(trim(c.tn),' +')) AS n_tokens
        |  FROM corpus0 c WHERE c.doc_id NOT IN (SELECT doc_id FROM dirty)),
        |t2 AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tokens FROM clean GROUP BY 1),
        |w2 AS (SELECT source, tokens,
        |  CAST(round(sqrt(CAST(tokens AS DOUBLE)) * 1e6) AS BIGINT) AS wt FROM t2),
        |n2a AS (SELECT sum(wt) AS wsum FROM w2),
        |fr AS (SELECT source,
        |  round(least(1.0, (5000.0 * wt / (SELECT wsum FROM n2a)) / tokens), 4) AS keep_frac
        |  FROM w2),
        |bkt AS (SELECT doc_id, list_reduce(list_transform(range(1, 9),
        |    i -> strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1),
        |    (a, x) -> a * 16 + x) AS hv FROM clean),
        |sampled AS (SELECT c.doc_id, c.source, c.n_tokens,
        |    CASE WHEN b.hv % 100 < 80 THEN 'train'
        |         WHEN b.hv % 100 < 90 THEN 'val' ELSE 'test' END AS split,
        |    b.hv % 8 AS bkt8
        |  FROM clean c JOIN bkt b USING (doc_id) JOIN fr USING (source)
        |  WHERE b.hv % 10000 < CAST(round(fr.keep_frac * 10000) AS BIGINT)),
        |packed AS (SELECT doc_id, source, split, n_tokens, bkt8,
        |    sum(n_tokens) OVER (PARTITION BY bkt8 ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tokens AS cb
        |  FROM sampled)
        |SELECT doc_id, source, split, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(bkt8 AS VARCHAR) || '_' || CAST(cb // 256 AS VARCHAR) AS pack_id,
        |  CAST(cb % 256 AS BIGINT) AS pack_offset
        |FROM packed ORDER BY doc_id""".stripMargin
  )
}
