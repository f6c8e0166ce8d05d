package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.corrector.Corrector
import graft.profile.Profiler
import graft.quality.{Detector, Rule, Validators}
import graft.similarity.StringSim

/** The source paper's job on tabular data: profile → detect → repair →
  * before/after score → export, over a customer table of string
  * columns (names, TCKN, tax no, e-mail, phone, date-as-string) and an
  * order fact table of numeric and date columns. Every defect is
  * planted with an exact count, which the checks compare against.
  */
final class DqTable(spark: SparkSession, seed: Long, nproc: Int, corrupt: Boolean)
    extends Workload {
  import DqTable._

  private val files = math.max(8, nproc * 2)
  private var inDir: File = _
  private var man: Manifest = _
  private var fp = ""

  def fingerprint: String = fp

  def setup(dir: File): Unit = {
    val (cust, fact, m) = generate(seed)
    man = if (corrupt) m.copy(nulls = m.nulls.updated("email", m.nulls("email") + 1)) else m
    Files.delete(dir)
    Gen.writeParquet(spark.createDataFrame(java.util.Arrays.asList(cust: _*), CustomerSchema),
      new File(dir, "customers"), files)
    Gen.writeParquet(spark.createDataFrame(java.util.Arrays.asList(fact: _*), FactSchema),
      new File(dir, "orders"), files)
    if (inDir != null && inDir != dir) Files.delete(inDir)
    inDir = dir
    fp = Gen.sha(Iterator(cust.length.toString, fact.length.toString) ++
      cust.iterator.take(50).map(_.mkString("|")))
  }

  def pass(out: File, checks: Checks): PassOut = {
    val cust = spark.read.parquet(new File(inDir, "customers").getAbsolutePath)
    val fact = spark.read.parquet(new File(inDir, "orders").getAbsolutePath)
    val digest = mutable.ArrayBuffer.empty[String]

    val reports = Trace.span("profile.report") {
      Profiler.report(cust).collect()
    }
    def reportValue(rows: Array[Row], c: String, metric: String): Double =
      rows.find(r => r.getString(0) == c && r.getString(1) == metric)
        .map(r => r.getAs[Any](2).toString.toDouble).getOrElse(-1.0)
    checks("report row_count", reportValue(reports, "*", "row_count") == man.custRows)
    checks("report email nulls", reportValue(reports, "email", "null_count") == man.nulls("email"))
    checks("report tckn nulls", reportValue(reports, "tckn", "null_count") == man.nulls("tckn"))
    digest ++= reports.map(rowDigest)

    val outliers = Trace.span("profile.outliers") {
      Profiler.outlierProfile(fact, OutlierCols).collect()
    }
    val priceOut = outliers.find(_.getAs[String]("column") == "price")
      .map(_.getAs[Long]("iqr_outliers")).getOrElse(-1L)
    checks("price outliers found", priceOut >= man.priceOutliers, s"$priceOut < ${man.priceOutliers}")
    digest ++= outliers.map(rowDigest)

    val summary = Trace.span("quality.dq_summary") {
      Detector.dqSummary(cust, CustomerSpecs).collect() ++ Detector.dqSummary(fact, FactSpecs).collect()
    }
    summary.foreach { r =>
      val c = r.getAs[String]("column")
      checks(s"dq nulls $c", r.getAs[Long]("null_records") == man.nulls(c),
        s"${r.getAs[Long]("null_records")} != ${man.nulls(c)}")
      checks(s"dq out-of-format $c", r.getAs[Long]("out_of_format_records") == man.oof(c),
        s"${r.getAs[Long]("out_of_format_records")} != ${man.oof(c)}")
    }
    digest ++= summary.map(rowDigest)

    val (ri, dupGroups) = Trace.span("quality.integrity") {
      (Detector.referentialIntegrity(Seq(("orders_customer", fact, "c_id", cust, "c_id"))).collect(),
        Detector.duplicateRows(fact).agg(count(lit(1)), sum("dup_count")).head())
    }
    checks("orphan rows", ri.head.getAs[Long]("orphan_rows") == man.orphans,
      s"${ri.head.getAs[Long]("orphan_rows")} != ${man.orphans}")
    checks("duplicate row groups", dupGroups.getLong(0) == man.dupRows && dupGroups.getLong(1) == 2 * man.dupRows)
    digest ++= ri.map(rowDigest) :+ rowDigest(dupGroups)

    val pairs = Trace.span("similarity.string_pairs") {
      val p = StringSim.similarPairs(cust, "full_name", "c_id", NameSimilarity, dfCap = NameDfCap)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      Trace.put("similarity.string_pairs", "rows_out", p.length)
      p
    }
    val found = pairs.toSet
    val missed = man.typoPairs.filterNot(found)
    checks("typo pairs found", missed.isEmpty, s"${missed.size} of ${man.typoPairs.size} missed")
    digest ++= pairs.sorted.map(p => s"${p._1},${p._2}")

    val (custFixed, factFixed) = Trace.span("corrector.repair") {
      var c = cust.withColumn("full_name_r", col("full_name"))
        .withColumn("phone_r", col("phone")).withColumn("email_r", col("email"))
      c = Corrector.strip(c, "full_name_r")
      c = Corrector.collapseSpaces(c, "full_name_r")
      c = Corrector.toTitleCase(c, "full_name_r")
      c = Corrector.normalizePhone(c, "phone_r")
      c = Corrector.toLowerCase(c, "email_r")
      c = Corrector.parseDatesMulti(c, "birth_str", DateFormats, out = "birth_ts")
        .withColumn("birth_str_r", date_format(col("birth_ts"), "yyyy-MM-dd"))
      (Trace.force(c), Trace.force(Corrector.fillNullsWithMean(fact, "price", 2)))
    }

    val scores = Trace.span("quality.before_after") {
      Detector.beforeAfterOneScan(custFixed, CustomerSpecs,
        Repaired.map(c => c -> col(c + "_r")).toMap).collect()
    }
    scores.foreach { r =>
      val c = r.getAs[String]("column")
      val (b, a) = man.expectedScores(c)
      checks(s"before score $c", r.getAs[Double]("before_score") == b, s"${r.getAs[Double]("before_score")} != $b")
      checks(s"after score $c", r.getAs[Double]("after_score") == a, s"${r.getAs[Double]("after_score")} != $a")
    }
    digest ++= scores.map(rowDigest)

    Trace.span("corrector.export") {
      val clean = custFixed.select(CustomerSchema.fieldNames.map { c =>
        if (Repaired.contains(c)) col(c + "_r").as(c) else col(c)
      }.toIndexedSeq: _*)
      Corrector.writeParquet(clean, new File(out, "customers").getAbsolutePath)
      Corrector.writeParquet(factFixed, new File(out, "orders").getAbsolutePath)
      Trace.put("corrector.export", "written_mb", Files.size(out) / 1048576.0)
    }
    val written = Files.size(out)
    val back = spark.read.parquet(new File(out, "orders").getAbsolutePath)
      .agg(count(lit(1)), count(when(col("price").isNull, 1))).head()
    checks("export rows", back.getLong(0) == man.factRows && back.getLong(1) == 0)

    PassOut(man.custRows + man.factRows, Files.size(inDir), written, Gen.sha(digest.iterator))
  }
}

object DqTable {
  val CustRows = 1500
  val FactRows = 20000
  val NameSimilarity = 0.6
  val NameDfCap = 32L
  val OutlierCols = Seq("price")
  val DateFormats = Seq("yyyy-MM-dd", "dd.MM.yyyy", "dd/MM/yyyy")
  val Repaired = Seq("full_name", "phone", "email", "birth_str")
  val Segments = Array("retail", "corporate", "public", "sme")

  val CustomerSchema: StructType = StructType(Seq(
    StructField("c_id", LongType, nullable = false)) ++
    Seq("first_name", "last_name", "full_name", "tckn", "tax_no", "email", "phone",
      "birth_str", "city", "district", "street", "segment")
      .map(StructField(_, StringType)))

  val FactSchema: StructType = StructType(Seq(
    StructField("o_id", LongType), StructField("c_id", LongType),
    StructField("qty", IntegerType), StructField("price", DoubleType),
    StructField("discount", DoubleType), StructField("tax", DoubleType),
    StructField("amount", DoubleType), StructField("ship_days", IntegerType),
    StructField("order_date", DateType), StructField("ship_date", DateType),
    StructField("weight", DoubleType), StructField("priority", IntegerType)))

  val CustomerSpecs: Seq[(String, Seq[Rule])] = Seq(
    "full_name" -> Seq(Rule.MatchesRegex("^[A-Z][a-z]+ [A-Z][a-z]+$")),
    "tckn" -> Seq(Rule.FromValidator(Validators.tcknValid)),
    "tax_no" -> Seq(Rule.FromValidator(Validators.taxNumValid)),
    "email" -> Seq(Rule.FromValidator(Validators.emailValid)),
    "phone" -> Seq(Rule.MatchesRegex("^[0-9]{10}$")),
    "birth_str" -> Seq(Rule.MatchesRegex("^[0-9]{4}-[0-9]{2}-[0-9]{2}$")))

  val FactSpecs: Seq[(String, Seq[Rule])] = Seq(
    "price" -> Seq(Rule.NumBetween(0, 10000)),
    "qty" -> Seq(Rule.NumBetween(1, 100)),
    "discount" -> Seq(Rule.NumBetween(0, 0.5)))

  /** The known answers, counted while the defects are planted. */
  final case class Manifest(custRows: Long, factRows: Long,
                            nulls: Map[String, Long], oof: Map[String, Long],
                            afterNulls: Map[String, Long], afterOof: Map[String, Long],
                            priceOutliers: Long, orphans: Long, dupRows: Long,
                            typoPairs: Seq[(Long, Long)]) {
    private def score(n: Long, o: Long): Double =
      BigDecimal((custRows - n - o) * 100.0 / custRows)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    def expectedScores(c: String): (Double, Double) =
      (score(nulls(c), oof(c)), score(afterNulls(c), afterOof(c)))
  }

  def rowDigest(r: Row): String = r.toSeq.map {
    case d: Double => f"$d%.6g"
    case x => String.valueOf(x)
  }.mkString("|")

  private val PhoneDummy = java.util.regex.Pattern.compile(Validators.phoneDummyPattern)
  // the typo'd-domain fragments `Validators.emailViolation` rejects anywhere
  private val TypoDomain = "windowlive|hotmil|hatmail|hotmial|gamil|gmmail|outlok|yaaho".r

  def tckn(r: java.util.SplittableRandom): String = {
    val d = Array.fill(11)(0)
    d(0) = 1 + r.nextInt(9)
    (1 to 8).foreach(i => d(i) = r.nextInt(10))
    val odd = d(0) + d(2) + d(4) + d(6) + d(8)
    val even = d(1) + d(3) + d(5) + d(7)
    d(9) = ((7 * odd - even) % 10 + 10) % 10
    d(10) = (odd + even + d(9)) % 10
    d.mkString
  }

  def taxNo(r: java.util.SplittableRandom): String = {
    val d = Array.fill(10)(r.nextInt(10))
    var total = 0
    (0 to 8).foreach { x =>
      val t1 = (d(x) + (9 - x)) % 10
      var t2 = (t1 * (1 << (9 - x))) % 9
      if (t1 != 0 && t2 == 0) t2 = 9
      total += t2
    }
    d(9) = (10 - total % 10) % 10
    d.mkString
  }

  private def flipLast(s: String): String =
    s.dropRight(1) + ((s.last - '0' + 1) % 10).toString

  def generate(seed: Long): (Array[Row], Array[Row], Manifest) = {
    val r = new java.util.SplittableRandom(seed * 7919L + 17L)
    val firsts = Gen.distinctWords(r, 1500, 2, 3).map(Gen.cap)
    val lasts = Gen.distinctWords(r, 20000, 2, 4).map(Gen.cap)
    val cities = Gen.distinctWords(r, 81, 2, 3).map(Gen.cap)
    val districts = Gen.distinctWords(r, 900, 2, 3).map(Gen.cap)
    val domains = Array("gmail.com", "hotmail.com", "yahoo.com", "outlook.com", "firma.com.tr")
    val n = CustRows
    val nTypo = n / 100
    val nBase = n - nTypo
    val names = new java.util.LinkedHashSet[(String, String)]
    while (names.size < nBase) names.add((firsts(r.nextInt(firsts.length)), lasts(r.nextInt(lasts.length))))
    val base = names.toArray(new Array[(String, String)](0))
    // typo'd duplicates: the same person re-entered with one letter of
    // the surname doubled
    val typoOf = Gen.sample(r, nBase, nTypo)
    val people = base ++ typoOf.map { i =>
      val (f, l) = base(i)
      val k = 1 + r.nextInt(l.length - 1)
      (f, l.substring(0, k) + l.charAt(k) + l.substring(k))
    }
    val typoPairs = typoOf.zipWithIndex.map { case (i, j) => (i + 1L, nBase + j + 1L) }.toSeq
    val protectedIds = (typoOf.map(_ + 1L) ++ (nBase + 1 to n).map(_.toLong)).toSet

    val nulls = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val oof = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val afterNulls = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val afterOof = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def null_(c: String): Null = { nulls(c) += 1; afterNulls(c) += 1; null }
    def bad(c: String, repaired: Boolean): Unit = { oof(c) += 1; if (!repaired) afterOof(c) += 1 }

    val cust: Array[Row] = (1 to n).map { i =>
      val (f, l) = people(i - 1)
      val id = i.toLong
      val u = r.nextDouble()
      val full =
        if (protectedIds(id)) s"$f $l"
        else if (u < 0.005) null_("full_name")
        else if (u < 0.025) { bad("full_name", repaired = true); s"  ${f.toLowerCase}   ${l.toUpperCase} " }
        else s"$f $l"
      val tk = { val v = r.nextDouble()
        if (v < 0.01) null_("tckn") else if (v < 0.03) { bad("tckn", false); flipLast(tckn(r)) } else tckn(r) }
      val tx = { val v = r.nextDouble()
        if (v < 0.01) null_("tax_no") else if (v < 0.03) { bad("tax_no", false); flipLast(taxNo(r)) } else taxNo(r) }
      // a name can spell one of the e-mail rule's typo'd domains
      // ("hotmil", "yaaho"): such a clean address gets a neutral local part
      val name = s"${f.toLowerCase}.${l.toLowerCase}"
      val local = (if (TypoDomain.findFirstIn(name).isDefined) s"user$id" else name) + r.nextInt(1000)
      val dom = domains(r.nextInt(domains.length))
      val email = { val v = r.nextDouble()
        if (v < 0.02) null_("email")
        else if (v < 0.05) (r.nextInt(4) match {
          case 0 => bad("email", false); s"$local$dom"
          case 1 => bad("email", true); s"${Gen.cap(local)}@$dom"
          case 2 => bad("email", false); s"$local@gamil.com"
          case _ => bad("email", false); s"$local@gmail.co"
        })
        else s"$local@$dom" }
      var digits = ""
      do digits = "5" + (1 to 9).map(_ => r.nextInt(10)).mkString
      while (PhoneDummy.matcher(digits).find())
      val phone = { val v = r.nextDouble()
        if (v < 0.02) null_("phone")
        else if (v < 0.04) { bad("phone", true); s"+90 ${digits.take(3)} ${digits.slice(3, 6)} ${digits.slice(6, 8)} ${digits.drop(8)}" }
        else if (v < 0.06) { bad("phone", true); s"0${digits.take(3)}-${digits.slice(3, 6)}-${digits.drop(6)}" }
        else if (v < 0.07) { bad("phone", false); digits.take(6) }
        else digits }
      val (yy, mm, dd) = (1950 + r.nextInt(55), 1 + r.nextInt(12), 1 + r.nextInt(28))
      val birth = { val v = r.nextDouble()
        if (v < 0.01) null_("birth_str")
        else if (v < 0.04) { bad("birth_str", true); f"$dd%02d.$mm%02d.$yy%04d" }
        else if (v < 0.06) { bad("birth_str", true); f"$dd%02d/$mm%02d/$yy%04d" }
        else if (v < 0.065) { oof("birth_str") += 1; afterNulls("birth_str") += 1; "unknown" }
        else f"$yy%04d-$mm%02d-$dd%02d" }
      Row(id, f, l, full, tk, tx, email, phone, birth, cities(r.nextInt(cities.length)),
        districts(r.nextInt(districts.length)), s"${Gen.word(r, 2, 3)} sk. ${1 + r.nextInt(200)}",
        Segments(r.nextInt(Segments.length)))
    }.toArray

    val day0 = java.time.LocalDate.of(2020, 1, 1).toEpochDay
    var priceOutliers = 0L
    val baseFact = (1 to FactRows).map { i =>
      val orphan = r.nextDouble() < 0.01
      val cid = if (orphan) n + 1L + r.nextInt(5000) else 1L + r.nextInt(n)
      val q = if (r.nextDouble() < 0.005) null_("qty") else Integer.valueOf(1 + r.nextInt(50))
      val pv = r.nextDouble()
      val p =
        if (pv < 0.01) null_("price")
        else if (pv < 0.015) { priceOutliers += 1; oof("price") += 1; java.lang.Double.valueOf(20000.0 + r.nextInt(900000)) }
        else java.lang.Double.valueOf(math.round((1.0 + r.nextDouble() * 4999) * 100) / 100.0)
      val disc = math.round(r.nextDouble() * 30) / 100.0
      val tax = math.round(r.nextDouble() * 8) / 100.0
      val amount = math.round((if (q == null || p == null) 0.0 else q.intValue * p.doubleValue) * (1 - disc) * 100) / 100.0
      val od = day0 + r.nextInt(1500)
      val sd = r.nextInt(31)
      Row(i.toLong, cid, q, p, disc, tax, amount, sd,
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(od)),
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(od + sd)),
        math.round(r.nextDouble() * 50000) / 1000.0, 1 + r.nextInt(5))
    }
    val dupIdx = Gen.sample(r, FactRows, FactRows / 200)
    val fact: Array[Row] = (baseFact ++ dupIdx.map(baseFact(_))).toArray
    // the duplicated rows repeat their defects
    dupIdx.foreach { i =>
      val row = baseFact(i)
      if (row.isNullAt(2)) { nulls("qty") += 1; afterNulls("qty") += 1 }
      if (row.isNullAt(3)) { nulls("price") += 1; afterNulls("price") += 1 }
      else if (row.getDouble(3) > 10000) { priceOutliers += 1; oof("price") += 1 }
    }
    // price nulls are filled by the repair
    afterNulls("price") = 0L
    afterOof("price") = oof("price")
    val orphans = fact.count(_.getLong(1) > n).toLong

    val cols = (CustomerSpecs ++ FactSpecs).map(_._1)
    def full(m: mutable.Map[String, Long]) = cols.map(c => c -> m(c)).toMap
    (cust, fact, Manifest(n, fact.length, full(nulls), full(oof), full(afterNulls), full(afterOof),
      priceOutliers, orphans, dupIdx.length, typoPairs))
  }
}
