package graft

import org.apache.spark.sql.functions._
import graft.profile.Profiler
import graft.quality.Detector

/** r11 wave-3 operators: referential integrity (B19), Benford digits
  * (B20), robust outliers (A17), functional dependencies (A18).
  */
class Wave3Spec extends SparkSpec {
  import spark.implicits._

  test("referentialIntegrity counts orphans, nulls, and tie-safe coverage") {
    val child = Seq(Some(1), Some(1), Some(2), None, Some(5)).toDF("fk")
    val parent = Seq(1, 2, 3).toDF("pk")
    val r = Detector.referentialIntegrity(
      Seq(("c->p", child, "fk", parent, "pk"))).collect()(0)
    assert(r.getAs[Long]("child_rows") == 5)
    assert(r.getAs[Long]("null_fk_rows") == 1)
    assert(r.getAs[Long]("orphan_rows") == 1)
    assert(r.getAs[Long]("orphan_keys") == 1)
    assert(r.getAs[Double]("coverage_pct") == 60.0)
  }

  test("referentialIntegrity: full coverage and empty child") {
    val child = Seq(1, 2).toDF("fk")
    val parent = Seq(1, 2).toDF("pk")
    val r = Detector.referentialIntegrity(
      Seq(("ok", child, "fk", parent, "pk"))).collect()(0)
    assert(r.getAs[Long]("orphan_rows") == 0)
    assert(r.getAs[Double]("coverage_pct") == 100.0)
    val e = Detector.referentialIntegrity(
      Seq(("empty", child.filter(lit(false)), "fk", parent, "pk"))).collect()(0)
    assert(e.getAs[Long]("child_rows") == 0)
    // ADVICE r11: getAs[Double] unboxes null to 0.0, which masked a
    // NULL coverage_pct on an empty child — assert non-null explicitly
    assert(!e.isNullAt(e.fieldIndex("coverage_pct")),
      "coverage_pct must be a real 0.0, not NULL")
    assert(e.getAs[Double]("coverage_pct") == 0.0)
  }

  test("orphanRows returns exactly the unparented child rows") {
    val child = Seq(Some(1), Some(9), None).toDF("fk")
    val parent = Seq(1).toDF("pk")
    val o = Detector.orphanRows(child, "fk", parent, "pk").collect()
    assert(o.map(_.getInt(0)).toSeq == Seq(9))
  }

  test("benfordDigits extracts first significant digits and micro shares") {
    val df = Seq(Some(1.0), Some(19.9), Some(2.5), Some(0.07), Some(-3.2),
      Some(0.004), None).toDF("v")
    val rows = Detector.benfordDigits(df, "v").collect()
    val byDigit = rows.map(r => r.getInt(0) -> r).toMap
    assert(byDigit.keySet == Set(1, 2, 3, 7))
    assert(byDigit(1).getAs[Long]("obs_cnt") == 2) // 1.0 and 19.9
    assert(byDigit(7).getAs[Long]("obs_cnt") == 1) // 0.07 -> digit 7
    assert(byDigit(1).getAs[Long]("obs_micro") == 400000L) // 2/5 tie-safe
    assert(byDigit(1).getAs[Long]("exp_micro") == 301030L)
    assert(byDigit(1).getAs[Long]("dev_micro") == 98970L)
  }

  test("benford expectation table sums to exactly 1e6 micro") {
    val df = Seq(1.0, 22.0, 33.0, 44.0, 55.0, 66.0, 77.0, 88.0, 99.0).toDF("v")
    val rows = Detector.benfordDigits(df, "v").collect()
    assert(rows.map(_.getAs[Long]("exp_micro")).sum == 1000000L)
  }

  test("outlierProfile: IQR fences and modified z-score from rounded stats") {
    val df = ((1 to 10).map(_.toDouble) :+ 100.0).toDF("v")
    val r = Profiler.outlierProfile(df, Seq("v")).collect()(0)
    assert(r.getAs[Double]("q1") == 3.5)
    assert(r.getAs[Double]("median") == 6.0)
    assert(r.getAs[Double]("q3") == 8.5)
    assert(r.getAs[Double]("lo_fence") == -4.0)
    assert(r.getAs[Double]("hi_fence") == 16.0)
    assert(r.getAs[Double]("mad") == 3.0)
    assert(r.getAs[Long]("iqr_outliers") == 1)    // 100
    assert(r.getAs[Long]("robust_outliers") == 1) // |100-6|*0.6745 > 10.5
  }

  test("outlierProfile: sort-based quantiles ≡ the percentile aggregate, bit-exact") {
    // r16 (the distributed-sort exact quantile): on a seeded random
    // frame with duplicates, negatives and nulls, the profile's
    // q1/median/q3/mad must equal the `percentile` aggregate's
    // rounded values EXACTLY — interpolated positions included
    // (n ≡ 1 mod 4 would dodge interpolation; 203 rows does not)
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val vals = (0 until 203).map { i =>
      if (i % 17 == 0) None
      else Some(math.floor(rnd.nextGaussian() * 500) / 8 - 3.0)
    }
    val df = vals.toDF("v")
    val r = Profiler.outlierProfile(df, Seq("v")).collect()(0)
    val ref = df.agg(
      round(element_at(percentile(col("v"),
        array(lit(0.25), lit(0.5), lit(0.75))), 1), 4).as("q1"),
      round(element_at(percentile(col("v"),
        array(lit(0.25), lit(0.5), lit(0.75))), 2), 4).as("med"),
      round(element_at(percentile(col("v"),
        array(lit(0.25), lit(0.5), lit(0.75))), 3), 4).as("q3")).head()
    assert(r.getAs[Double]("q1") == ref.getDouble(0))
    assert(r.getAs[Double]("median") == ref.getDouble(1))
    assert(r.getAs[Double]("q3") == ref.getDouble(2))
    val refMad = df.crossJoin(broadcast(
        spark.range(1).select(lit(ref.getDouble(1)).as("m"))))
      .agg(round(percentile(abs(col("v") - col("m")), lit(0.5)), 4)).head()
    assert(r.getAs[Double]("mad") == refMad.getDouble(0))
  }

  test("outlierProfile: clean uniform data has no outliers; nulls ignored") {
    val df = (1 to 100).map(i => if (i % 10 == 0) None else Some(i.toDouble))
      .toDF("v")
    val r = Profiler.outlierProfile(df, Seq("v")).collect()(0)
    assert(r.getAs[Long]("cnt") == 90)
    assert(r.getAs[Long]("iqr_outliers") == 0)
    assert(r.getAs[Long]("robust_outliers") == 0)
  }

  test("frequencySketch: exact in the no-purge range, nulls skipped") {
    val df = (Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq.fill(5)("c"))
      .map(Option(_)).padTo(86, None).toDF("v") // 85 values + 1 null
    val r = Profiler.mergeFrequentItems(
      Seq(Profiler.frequencySketch(df, "v", 64)), 64).collect()
      .map(x => x.getString(0) -> (x.getAs[Long]("est"), x.getAs[Long]("lb"),
        x.getAs[Long]("ub"), x.getAs[Long]("max_error"))).toMap
    assert(r("a") == ((50L, 50L, 50L, 0L)))
    assert(r("b") == ((30L, 30L, 30L, 0L)))
    assert(r("c") == ((5L, 5L, 5L, 0L)))
  }

  test("frequencySketch: split-sketch merge equals whole-corpus sketch (exact range)") {
    val data = (1 to 300).map(i => s"t${i % 7}").toDF("v")
    val whole = Profiler.mergeFrequentItems(
      Seq(Profiler.frequencySketch(data, "v", 64)), 64).collect()
      .map(x => x.getString(0) -> x.getAs[Long]("est")).toMap
    val split = Profiler.mergeFrequentItems(Seq(
      Profiler.frequencySketch(data.limit(100), "v", 64),
      Profiler.frequencySketch(data.offset(100), "v", 64)), 64).collect()
      .map(x => x.getString(0) -> x.getAs[Long]("est")).toMap
    assert(whole == split && whole.values.sum == 300L)
  }

  test("frequencySketch under purge: NFN + bound claims hold on synthetic skew") {
    // 5 hot items x 500 + 3000 singleton tail, M=32 -> heavy purging
    val rows = (1 to 5).flatMap(h => Seq.fill(500)(s"hot$h")) ++
      (1 to 3000).map(i => s"tail$i")
    val df = rows.toDF("v")
    val exact = rows.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val out = Profiler.mergeFrequentItems(
      Seq(Profiler.frequencySketch(df.repartition(8), "v", 32)), 32).collect()
    val maxErr = out.head.getAs[Long]("max_error")
    assert(out.head.getAs[Long]("stream_length") == 5500L)
    assert(maxErr > 0L) // purge genuinely happened
    // published bound: maxError <= 3.5 * n / maxMapSize
    assert(maxErr <= (3.5 * 5500 / 32).toLong + 1)
    // every returned item's bounds bracket its exact count
    out.foreach { x =>
      val e = exact(x.getString(0))
      assert(x.getAs[Long]("lb") <= e && e <= x.getAs[Long]("ub"))
    }
    // NO_FALSE_NEGATIVES: every item with exact > maxError is present
    val returned = out.map(_.getString(0)).toSet
    exact.filter(_._2 > maxErr).keys.foreach(k => assert(returned(k)))
  }

  test("canonicalUrl: case, ports, fragments, tracking params, slashes") {
    val cases = Seq(
      ("HTTPS://WWW.Example.COM:443/Path", "https://www.example.com/Path"),
      ("http://Example.com:80/", "http://example.com"),
      ("http://example.com:8080/a/", "http://example.com:8080/a"),
      ("http://e.com/p?utm_source=x&id=1#frag", "http://e.com/p?id=1"),
      ("http://e.com/p?id=1&gclid=z", "http://e.com/p?id=1"),
      ("http://e.com/p?utm_a=1&utm_b=2&id=3", "http://e.com/p?id=3"),
      ("http://e.com/p?utm_a=1&utm_b=2", "http://e.com/p"),
      ("http://e.com/p/?id=1", "http://e.com/p/?id=1"), // query'd: slash kept
      ("not a url", "not a url"))
    val r = cases.map(_._1).toDF("u")
      .select(graft.text.Urls.canonicalUrl(col("u"))).collect().map(_.getString(0))
    r.zip(cases.map(_._2)).foreach { case (got, want) => assert(got == want, s"got $got want $want") }
  }

  test("registeredDomain strips port and www, keeps last two labels") {
    val r = Seq("https://WWW.News.Site7.Example.COM:8443/x", "http://a.b.co/y")
      .toDF("u").select(graft.text.Urls.registeredDomain(col("u")))
      .collect().map(_.getString(0))
    assert(r.toSeq == Seq("example.com", "b.co"))
  }

  test("registeredDomainFromTable: longest PSL suffix wins; defaults and nulls") {
    // r13 (r12 verdict #6): the external-dim PSL contract — a
    // multi-level suffix table where the longest match must beat its
    // own sub-suffixes (co.uk over uk, github.io over io)
    val dim = Seq("com", "uk", "co.uk", "org", "github.io", "io", "kawasaki.jp", "jp")
      .toDF("suffix")
    val urls = Seq(
      (1L, "https://www.shop.example.co.uk/x"),   // co.uk beats uk
      (2L, "http://Blog.Example.COM:80/y"),       // simple com
      (3L, "https://user.github.io/repo"),        // github.io beats io
      (4L, "http://a.b.city.kawasaki.jp/z"),      // 2-label jp rule
      (5L, "https://co.uk/"),                     // host IS a suffix -> null
      (6L, "http://weird.internal.zz9/q"),        // unknown TLD -> last-2 default
      (7L, "not a url at all"),                   // empty host -> null
      (8L, "http://localhost/x"))                 // single unknown label -> null
      .toDF("id", "u")
    val got = graft.text.Urls.registeredDomainFromTable(urls, "u", dim)
      .select("id", "registered_domain").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == Map(
      1L -> Some("example.co.uk"), 2L -> Some("example.com"),
      3L -> Some("user.github.io"), 4L -> Some("city.kawasaki.jp"),
      5L -> None, 6L -> Some("internal.zz9"), 7L -> None, 8L -> None))
  }

  test("registeredDomainFromTable plans shuffle-free (broadcast suffix joins only)") {
    val dim = Seq("com", "co.uk", "uk").toDF("suffix")
    val urls = Seq((1L, "https://a.b.com/x")).toDF("id", "u")
    val plan = graft.text.Urls.registeredDomainFromTable(urls, "u", dim)
      .queryExecution.executedPlan.toString
    // the CORPUS side must ride broadcast joins only; the sole
    // permitted exchanges are the dim's own dedupe (dim-sized, keyed
    // on the suffix column)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"PSL matching must join by broadcast only:\n$plan")
    val badExchange = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .filterNot(_.contains("suffix#"))
    assert(badExchange.isEmpty,
      s"corpus-side shuffle in PSL matching:\n$plan")
  }

  test("parsePublicSuffixList: the documented PSL grammar (r14, r13 verdict #7)") {
    // the published file format: comments, blank lines, read-to-first-
    // whitespace, `!` exceptions, `*.` wildcards, case normalization
    val lines = Seq(
      "// ===BEGIN ICANN DOMAINS===",
      "",
      "com",
      "  uk.com   trailing junk ignored",
      "CK",
      "*.ck",
      "!www.ck",
      "*.sch.uk",
      "   ",
      "// a comment that mentions org",
      "JP",
      "kawasaki.jp",
      "*",   // bare default rule: implicit in the algorithm, dropped
      "com"  // duplicate collapses
    ).toDF("line")
    val got = graft.text.Urls.parsePublicSuffixList(lines)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(
      ("exact", "com"), ("exact", "uk.com"), ("exact", "ck"),
      ("wildcard", "ck"), ("exception", "www.ck"),
      ("wildcard", "sch.uk"), ("exact", "jp"), ("exact", "kawasaki.jp")))
  }

  test("registeredDomainPsl: the published checkPublicSuffix vectors") {
    // rules + expectations straight from the PSL project's public
    // test vectors (the *.ck / !www.ck and *.mm families, listed and
    // unlisted TLDs); URLs wrap the bare hostnames
    val rules = graft.text.Urls.parsePublicSuffixList(Seq(
      "com", "biz", "uk.com", "ac", "mm", "*.mm", "ck", "*.ck", "!www.ck"
    ).toDF("line"))
    val cases = Seq(
      ("example.COM", Some("example.com")),
      ("b.example.com", Some("example.com")),
      ("biz", None),
      ("domain.biz", Some("domain.biz")),
      ("uk.com", None),
      ("example.uk.com", Some("example.uk.com")),
      ("test.ac", Some("test.ac")),
      // TLD with a wildcard rule: c.mm is itself a public suffix
      ("mm", None), ("c.mm", None),
      ("b.c.mm", Some("b.c.mm")), ("a.b.c.mm", Some("b.c.mm")),
      // the ck family: wildcard + exception
      ("ck", None), ("test.ck", None),
      ("b.test.ck", Some("b.test.ck")), ("a.b.test.ck", Some("b.test.ck")),
      ("www.ck", Some("www.ck")), ("www.www.ck", Some("www.ck")),
      // unlisted TLD: the default * rule
      ("example", None),
      ("example.example", Some("example.example")),
      ("b.example.example", Some("example.example")))
    val df = cases.zipWithIndex
      .map { case ((h, _), i) => (i.toLong, s"https://$h/x") }
      .toDF("id", "u")
    val got = graft.text.Urls.registeredDomainPsl(df, "u", rules)
      .select("id", "registered_domain").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    cases.zipWithIndex.foreach { case ((h, want), i) =>
      assert(got(i.toLong) == want, s"host $h: got ${got(i.toLong)} want $want")
    }
  }

  test("registeredDomainPsl plans shuffle-free (broadcast rule joins only)") {
    val rules = graft.text.Urls.parsePublicSuffixList(
      Seq("com", "*.ck", "!www.ck").toDF("line"))
    val urls = Seq((1L, "https://a.b.com/x")).toDF("id", "u")
    val plan = graft.text.Urls.registeredDomainPsl(urls, "u", rules)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"PSL matching must join by broadcast only:\n$plan")
    val badExchange = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .filterNot(l => l.contains("suffix#") || l.contains("_r#") ||
        l.contains("kind#"))
    assert(badExchange.isEmpty,
      s"corpus-side shuffle in PSL matching:\n$plan")
  }

  test("capPerDomain keeps best-cap rows per domain with id tiebreak") {
    val df = Seq(
      (1L, "http://a.com/1", 10L), (2L, "http://a.com/2", 30L),
      (3L, "http://www.a.com/3", 30L), (4L, "http://a.com/4", 5L),
      (5L, "http://b.com/1", 1L))
      .toDF("id", "url", "score")
    val kept = graft.text.Urls.capPerDomain(df, "url", "score", "id", 2)
      .select("id").collect().map(_.getLong(0)).toSet
    // a.com: scores 30(id2), 30(id3), 10(id1), 5(id4) -> keep 2,3
    assert(kept == Set(2L, 3L, 5L))
  }

  test("domainStats counts pages and distinct canonical urls per domain") {
    val df = Seq("http://a.com/x?utm_source=1", "http://a.com/x",
      "http://a.com/y", "http://b.org/z").toDF("url")
    val m = graft.text.Urls.domainStats(df, "url").collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("pages"), r.getAs[Long]("distinct_urls"))).toMap
    assert(m == Map("a.com" -> ((3L, 2L)), "b.org" -> ((1L, 1L))))
  }

  test("riskGroups flags below-k cells with l-diversity; null QI is a group") {
    val df = Seq(
      (Some("a"), 1, "s1"), (Some("a"), 1, "s2"), (Some("a"), 1, "s1"),
      (Some("a"), 1, "s3"), // cell (a,1): size 4, not at risk (k=4)
      (Some("b"), 1, "s1"), (Some("b"), 1, "s1"), // cell (b,1): size 2, l=1
      (None, 2, "s2"), // null-QI cell: size 1
      (Some("c"), 3, null)) // cell (c,3): size 1, l_div 1 (null value)
      .toDF("qi1", "qi2", "sens")
    val r = graft.quality.Privacy.riskGroups(df, Seq("qi1", "qi2"), "sens", 4)
      .collect().map(x => (Option(x.getString(0)), x.getInt(1),
        x.getAs[Long]("grp_size"), x.getAs[Long]("l_div"))).toSet
    assert(r == Set(
      (Some("b"), 1, 2L, 1L), (None, 2, 1L, 1L), (Some("c"), 3, 1L, 1L)))
  }

  test("kAnonymityReport rolls up risk with tie-safe percentage") {
    val df = Seq(("a", 1), ("a", 1), ("a", 1), ("a", 1), ("b", 1), ("b", 1))
      .toDF("qi", "x")
    val r = graft.quality.Privacy.kAnonymityReport(df, Seq("qi"), 4).collect()(0)
    assert(r.getAs[Long]("total_rows") == 6)
    assert(r.getAs[Long]("qi_cells") == 2)
    assert(r.getAs[Long]("cells_below_k") == 1)
    assert(r.getAs[Long]("rows_at_risk") == 2)
    assert(r.getAs[Long]("min_cell_size") == 2)
    assert(r.getAs[Double]("risk_pct") == 33.33) // 2/6 tie-safe 2dp
  }

  test("rangeJoin matches the naive inequality join; boundaries inclusive") {
    val points = (0L to 200L by 7L).toDF("p").withColumn("pid", col("p"))
    val ivs = Seq((1L, 0L, 10L), (2L, 10L, 40L), (3L, 35L, 35L),
      (4L, 100L, 90L), // invalid: start > end, dropped
      (5L, 150L, 300L)).toDF("iv", "s", "e")
    val got = graft.operators.RangeJoin
      .pointInInterval(points, "p", ivs, "s", "e", 16L)
      .select("pid", "iv").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = points.join(ivs, col("p") >= col("s") && col("p") <= col("e"))
      .filter(col("s") <= col("e"))
      .select("pid", "iv").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == naive)
    assert(got.contains((0L, 1L)) && got.contains((35L, 3L))) // inclusive ends
    assert(!got.exists(_._2 == 4L))
  }

  test("rangeJoin result is bucket-width independent (no dup pairs)") {
    val points = (0L to 500L by 3L).toDF("p")
    val ivs = Seq((1L, 5L, 100L), (2L, 90L, 95L), (3L, 400L, 500L))
      .toDF("iv", "s", "e")
    def pairs(w: Long) = graft.operators.RangeJoin
      .pointInInterval(points, "p", ivs, "s", "e", w)
      .select("p", "iv").collect().map(r => (r.getLong(0), r.getLong(1)))
    val a = pairs(7L); val b = pairs(64L); val c = pairs(1000L)
    assert(a.length == a.toSet.size) // exactly-once: no dedup needed
    assert(a.toSet == b.toSet && b.toSet == c.toSet)
  }

  test("rangeJoin plans as an equi-join, never BroadcastNestedLoop") {
    val points = (0L to 100L).toDF("p")
    val ivs = Seq((1L, 5L, 50L)).toDF("iv", "s", "e")
    val plan = graft.operators.RangeJoin
      .pointInInterval(points, "p", ivs, "s", "e", 10L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop"), s"nested loop in plan:\n$plan")
  }

  test("inferTypes detects bool/int/double/date by policy order") {
    val df = Seq(
      ("true", "42", "42", "2020-01-01", "x"),
      ("false", "-7", "12.5", "2021-12-31", "9"),
      ("TRUE", "0", ".5", "1999-06-15", "z"),
      (null, "999", "1e3", null, "w"))
      .toDF("b", "i", "d", "dt", "s")
    val m = Profiler.inferTypes(df, Seq("b", "i", "d", "dt", "s"))
      .collect().map(r => r.getString(0) -> r.getAs[String]("inferred_type")).toMap
    assert(m == Map("b" -> "boolean", "i" -> "bigint", "d" -> "double",
      "dt" -> "date", "s" -> "string"))
  }

  test("inferTypes: int columns also report 100% double; threshold in integer space") {
    val df = Seq("1", "2", "3").toDF("v")
    val r = Profiler.inferTypes(df, Seq("v")).collect()(0)
    assert(r.getAs[Double]("int_pct") == 100.0)
    assert(r.getAs[Double]("double_pct") == 100.0)
    assert(r.getAs[String]("inferred_type") == "bigint") // policy order
    // 19/20 ints = 95% meets the default threshold exactly
    val df2 = ((1 to 19).map(_.toString) :+ "x").toDF("v")
    assert(Profiler.inferTypes(df2, Seq("v")).collect()(0)
      .getAs[String]("inferred_type") == "bigint")
    // 18/19 = 94.7% misses it
    val df3 = ((1 to 18).map(_.toString) :+ "x").toDF("v")
    assert(Profiler.inferTypes(df3, Seq("v")).collect()(0)
      .getAs[String]("inferred_type") == "string")
  }

  test("RowRule: implies/ordered/notBothNull/mustMatch with null semantics") {
    import graft.quality.RowRule
    val df = Seq(
      (Some(1), Some(5), Some("O"), Some(10.0), Some("x"), Some("y"), Some(1)),
      (Some(5), Some(1), Some("O"), Some(2000.0), None, Some("y"), Some(1)), // r1 viol
      (Some(1), Some(5), Some("O"), None, None, None, Some(2)),  // r3 viol; r2 NOT (null expected)
      (Some(1), Some(5), Some("F"), Some(1.0), Some("x"), None, None))  // none; r4: 1 vs null -> viol
      .toDF("lo", "hi", "st", "price", "a", "b", "k2")
      .withColumn("k", lit(1))
    val rules = Seq(
      RowRule.ordered("r1", col("lo"), col("hi")),
      RowRule.implies("r2", col("st") === "O", col("price") > 1000),
      RowRule.notBothNull("r3", col("a"), col("b")),
      RowRule.mustMatch("r4", col("k"), col("k2")))
    val m = RowRule.report(df, rules).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("violations")).toMap
    // r2: row1 price 10 <= 1000 -> viol; row3 price null -> unknown, NOT viol
    assert(m == Map("r1" -> 1L, "r2" -> 1L, "r3" -> 1L, "r4" -> 2L))
    val flagged = RowRule.flag(df, rules)
      .select(col("lo"), col("violated_rules")).collect()
      .map(r => r.getSeq[String](1).toSet)
    assert(flagged(0) == Set("r2"))
    assert(flagged(1) == Set("r1"))
    assert(flagged(2) == Set("r3", "r4"))
    assert(flagged(3) == Set("r4"))
  }

  test("localizedNumber parses EU and US styles with strict grouping") {
    import graft.corrector.Corrector
    val df = Seq("1.234,56", "123,45", "12", "1.234.567,8", "45,5%",
      "1.23,4", "12,34,5", "-9.876,1", "abc").toDF("v")
    val r = df.select(col("v"),
      Corrector.localizedNumber(col("v"), "eu").cast("string").as("eu"))
      .collect().map(x => x.getString(0) -> x.getString(1)).toMap
    assert(r("1.234,56") == "1234.56000000")
    assert(r("123,45") == "123.45000000")
    assert(r("12") == "12.00000000")
    assert(r("1.234.567,8") == "1234567.80000000")
    assert(r("45,5%") == "0.45500000")
    assert(r("1.23,4") == null)   // bad grouping
    assert(r("12,34,5") == null)  // two decimal seps
    assert(r("-9.876,1") == "-9876.10000000")
    assert(r("abc") == null)
    val us = Seq("1,234.56", "1.234,56").toDF("v")
      .select(Corrector.localizedNumber(col("v"), "us").cast("string"))
      .collect().map(_.getString(0))
    assert(us(0) == "1234.56000000" && us(1) == null)
  }

  test("canaryHits: Aho-Corasick matches overlapping and nested needles") {
    import graft.text.TextAnalysis
    val needles = Seq("he", "she", "his", "hers", "absent")
    val df = Seq("ushers", "nothing here ok", "his and hers", "").toDF("t")
    val r = df.select(TextAnalysis.canaryHits(col("t"), needles))
      .collect().map(_.getSeq[Int](0).toSet)
    assert(r(0) == Set(0, 1, 3)) // ushers: she, he, hers (overlapping!)
    assert(r(1) == Set(0))       // "here" contains he
    assert(r(2) == Set(0, 2, 3))
    assert(r(3) == Set.empty[Int])
  }

  test("canaryHits equals per-needle contains on random-ish text; utf8 safe") {
    import graft.text.TextAnalysis
    val needles = Seq("ab", "bc", "cab", "ça", "日本")
    val texts = Seq("abcabc", "xçay", "日本語テスト", "cabbage", "nothing")
    val df = texts.toDF("t")
    val got = df.select(TextAnalysis.canaryHits(col("t"), needles))
      .collect().map(_.getSeq[Int](0).toSet)
    texts.zip(got).foreach { case (txt, ids) =>
      val want = needles.zipWithIndex.filter(p => txt.contains(p._1)).map(_._2).toSet
      assert(ids == want, s"text '$txt': got $ids want $want")
    }
  }

  test("canaryScan emits tall (id, needle_id, needle) rows, clean docs omitted") {
    import graft.text.TextAnalysis
    val df = Seq((1L, "the hash join here"), (2L, "clean"), (3L, "merge it"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.canaryScan(df, "text", "doc_id",
      Seq("hash join", "merge")).collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getString(2))).toSet
    assert(r == Set((1L, 0, "hash join"), (3L, 1, "merge")))
  }

  test("pageRank: hand-computed star graph, integer-exact over 2 iterations") {
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "a"), ("c", "a"))
      .toDF("s", "t")
    val r = graft.graph.PageRank.rankMicro(edges, "s", "t", iterations = 2)
      .collect().map(x => x.getString(0) -> x.getAs[Long]("rank_micro")).toMap
    // n=3, r0=333333 each, base=50000
    // it1: a=50000+283333*2=616666, b=c=50000+141666=191666
    // it2: a=50000+162916*2=375832, b=c=50000+262083=312083
    assert(r == Map("a" -> 375832L, "b" -> 312083L, "c" -> 312083L))
  }

  test("pageRank: dangling mass decays, never inflates; partitioning-invariant") {
    val edges = Seq(("a", "b")).toDF("s", "t")
    val r = graft.graph.PageRank.rankMicro(edges, "s", "t", iterations = 1)
      .collect().map(x => x.getString(0) -> x.getAs[Long]("rank_micro")).toMap
    assert(r == Map("a" -> 75000L, "b" -> 500000L)) // b: 75000 + 425000
    // same graph, many partitions: bit-identical (integer sums)
    val big = Seq.tabulate(200)(i => (s"n${i % 20}", s"n${(i * 7 + 1) % 20}"))
      .toDF("s", "t").filter(col("s") =!= col("t"))
    val one = graft.graph.PageRank.rankMicro(big.coalesce(1), "s", "t", 3)
      .collect().map(x => x.getString(0) -> x.getAs[Long]("rank_micro")).toMap
    val many = graft.graph.PageRank.rankMicro(big.repartition(13), "s", "t", 3)
      .collect().map(x => x.getString(0) -> x.getAs[Long]("rank_micro")).toMap
    assert(one == many)
  }

  test("jsonKeyCensus counts top-level keys; malformed and null rows drop") {
    val df = Seq(Some("""{"a":1,"b":2}"""), Some("""{"a":3}"""),
      Some("not json"), None).toDF("j")
    val r = Profiler.jsonKeyCensus(df, "j").collect()
      .map(x => x.getString(0) -> (x.getAs[Long]("cnt"),
        x.getAs[Double]("presence_pct"))).toMap
    // total non-null = 3 (malformed counts in the denominator)
    assert(r == Map("a" -> ((2L, 66.67)), "b" -> ((1L, 33.33))))
  }

  test("jsonValueProfile runs the A19 grid on named scalar keys") {
    val df = Seq("""{"n":12,"s":"x","f":1.5}""", """{"n":-3,"s":"true"}""")
      .toDF("j")
    val m = Profiler.jsonValueProfile(df, "j", Seq("n", "s", "f")).collect()
      .map(x => x.getString(0) -> x.getAs[String]("inferred_type")).toMap
    assert(m == Map("n" -> "bigint", "s" -> "string", "f" -> "double"))
  }

  test("entropyProfile: constant=0, uniform=ln(k), nulls excluded") {
    val df = Seq(Some("a"), Some("a"), Some("a"), Some("a"), None).toDF("c")
      .withColumn("u", when(col("c").isNotNull, monotonically_increasing_id() % 2))
    val (prof, guard) = Profiler.entropyProfileAndGuard(
      Seq("x", "x", "y", "y").toDF("two"), Seq("two"))
    val r = prof.collect()(0)
    assert(r.getAs[Long]("n") == 4 && r.getAs[Long]("distinct_vals") == 2)
    // uniform over 2: H = ln 2 = 0.693147180... -> 693147181 nano (ln2*1e9 rounds)
    assert(r.getAs[Long]("entropy_nano") == 693147181L)
    assert(guard.collect()(0).getAs[Double]("min_term_dist") > 1e-7)
    val const = Profiler.entropyProfile(Seq("z", "z", "z").toDF("k"), Seq("k"))
      .collect()(0)
    assert(const.getAs[Long]("entropy_nano") == 0L)
  }

  test("zorder: morton interleave and bucket edges, hand-computed") {
    import graft.sources.Zorder
    val df = Seq((3L, 1L)).toDF("a", "b")
    val z = df.select(Zorder.interleave(col("a"), col("b"), 2)).collect()(0).getLong(0)
    assert(z == 7L) // a=11, b=01 -> bits (b1 a1 b0 a0) = 0111
    val edges = Seq((0L, 0L), (3L, 3L), (2L, 1L)).toDF("x", "y")
    val zs = Zorder.withZValue(edges, "x", "y", bits = 2)
      .select("x", "y", "z_value").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // buckets: v*4 DIV 4 = v for domain 0..3 -> z = interleave(x, y)
    assert(zs((0L, 0L)) == 0L)
    assert(zs((3L, 3L)) == 15L)
    assert(zs((2L, 1L)) == 6L) // x=10 -> bits 0,1=..; interleave(10,01)=0110
  }

  test("zorderWrite round-trips rows into z-disjoint files") {
    import graft.sources.Zorder
    val df = (1 to 400).map(i => (i.toLong * 17 % 401, i.toLong * 31 % 397))
      .toDF("u", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder").toFile
    try {
      Zorder.zorderWrite(df, "u", "v", dir.getAbsolutePath, numFiles = 4)
      val back = spark.read.parquet(dir.getAbsolutePath)
      assert(back.count() == 400)
      // per-file z ranges are disjoint (repartitionByRange guarantee)
      import org.apache.spark.sql.functions.{input_file_name, min => fmin, max => fmax}
      val ranges = back.withColumn("f", input_file_name())
        .groupBy("f").agg(fmin("z_value").as("lo"), fmax("z_value").as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      ranges.sliding(2).foreach {
        case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2)
        case _ =>
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(dir)
    }
  }

  // The q_d69 gate certifies the EXACT no-purge regime (31-token
  // driver vocab). The x10 corpus injects ~116k unique tokens — deep
  // purge territory, where raw estimates are insertion-order-dependent
  // and only the bound claims are checkable. This pins them at x10.
  test("frequencySketch at x10 (116k vocab, deep purge): NFN + bounds vs exact") {
    assume(new java.io.File("bigdata/x10/documents.parquet").exists,
      "bigdata/x10 not generated")
    val docs = spark.read.parquet("bigdata/x10/documents.parquet")
    def toks(h: org.apache.spark.sql.DataFrame) = h
      .select(explode(split(trim(col("text")), " +")).as("token"))
      .filter(length(col("token")) > 0)
    val m = 1024
    val out = Profiler.mergeFrequentItems(Seq(
      Profiler.frequencySketch(toks(docs.filter(col("doc_id") % 2 === 0)), "token", m),
      Profiler.frequencySketch(toks(docs.filter(col("doc_id") % 2 =!= 0)), "token", m)),
      m).collect()
    val exact = toks(docs).groupBy("token").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("c")).toMap
    val n = exact.values.sum
    val maxErr = out.head.getAs[Long]("max_error")
    assert(out.head.getAs[Long]("stream_length") == n)
    assert(maxErr > 0L, "expected genuine purging at 116k vocab")
    assert(maxErr <= (3.5 * n / m).toLong + 1)
    out.foreach { x =>
      val e = exact(x.getString(0))
      assert(x.getAs[Long]("lb") <= e && e <= x.getAs[Long]("ub"),
        s"bounds broken for ${x.getString(0)}")
    }
    val returned = out.map(_.getString(0)).toSet
    val mustHave = exact.filter(_._2 > maxErr).keys
    assert(mustHave.nonEmpty, "claim must be non-vacuous")
    mustHave.foreach(k => assert(returned(k), s"NFN violated: $k missing"))
  }

  test("ksStatistic: hand-computed integer gap; identical sides give 0") {
    val a = Seq(1.0, 2.0, 3.0).toDF("v")
    val b = Seq(3.0, 4.0).toDF("v")
    val r = graft.profile.Drift.ksStatistic(a, b, "v").collect()(0)
    assert(r.getAs[Long]("n_a") == 3 && r.getAs[Long]("n_b") == 2)
    // max |cuma*nb - cumb*na| = 4 at v=2 -> 4/6 tie-safe 4dp
    assert(r.getAs[Double]("ks") == 0.6667)
    val same = graft.profile.Drift.ksStatistic(a, a, "v").collect()(0)
    assert(same.getAs[Double]("ks") == 0.0)
  }

  test("KS on the KLL quantile grid approximates exact within 2*eps") {
    val a = (1 to 5000).map(_.toDouble).toDF("v")
    val b = (1 to 5000).map(i => i.toDouble + 1000).toDF("v")
    // exact KS = 1000/5000 = 0.2 (pure shift)
    val grid = (500 to 5500 by 250).map(_.toDouble).toArray
    // the rank argument must be foldable: the whole grid in one literal
    def ranks(df: org.apache.spark.sql.DataFrame): Seq[Double] =
      df.agg(kll_sketch_get_rank_double(kll_sketch_agg_double(col("v"), 200), lit(grid)))
        .head().getSeq[Double](0)
    val approx = ranks(a).zip(ranks(b)).map { case (x, y) => math.abs(x - y) }.max
    assert(math.abs(approx - 0.2) <= 2 * 0.0165, s"grid KS $approx vs exact 0.2")
  }

  test("trendProfile: exact slope/intercept on a hand-built line, negatives safe") {
    // y = 3x + 7 exactly -> slope_micro 3e6, intercept_micro 7e6
    val df = Seq((1L, 10L), (2L, 13L), (3L, 16L), (10L, 37L))
      .toDF("x", "y").withColumn("g", lit("a"))
    val r = Profiler.trendProfile(df, "g", "x", "y").collect()(0)
    assert(r.getAs[Long]("slope_micro") == 3000000L)
    assert(r.getAs[Long]("intercept_micro") == 7000000L)
    // negative slope: y = -2x + 100
    val neg = Seq((1L, 98L), (2L, 96L), (5L, 90L)).toDF("x", "y")
      .withColumn("g", lit("n"))
    val rn = Profiler.trendProfile(neg, "g", "x", "y").collect()(0)
    assert(rn.getAs[Long]("slope_micro") == -2000000L)
    assert(rn.getAs[Long]("intercept_micro") == 100000000L)
    // zero variance -> null slope
    val flat = Seq((4L, 1L), (4L, 2L)).toDF("x", "y").withColumn("g", lit("z"))
    assert(Profiler.trendProfile(flat, "g", "x", "y").collect()(0)
      .isNullAt(2))
  }

  test("funnel: first-touch ordering is strict; re-entries don't resurrect") {
    import graft.operators.Funnel
    val ev = Seq(
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "purchase"), // full
      (2L, 10L, "view"), (2L, 5L, "click"),                         // click BEFORE view
      (2L, 50L, "purchase"),                                        // no qualifying click
      (3L, 10L, "view"),                                            // view only
      (4L, 99L, "click"), (4L, 100L, "purchase"))                   // never viewed
      .toDF("user_id", "ts", "event_type")
    val r = Funnel.firstTouch(ev, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase")).collect()
      .map(x => x.getString(1) -> (x.getAs[Long]("users"),
        x.getAs[Double]("conversion_pct"))).toMap
    assert(r("view") == ((3L, 100.0)))
    assert(r("click") == ((1L, 33.33)))
    assert(r("purchase") == ((1L, 33.33)))
  }

  test("missingnessPatterns census and pairwise co-missingness") {
    val df = Seq(
      (Some(1), Some("a")), (None, None), (None, None), (Some(3), None))
      .toDF("x", "y")
    val pats = Profiler.missingnessPatterns(df, Seq("x", "y")).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("rows"),
        r.getAs[Double]("pct"))).toMap
    assert(pats == Map("00" -> ((1L, 25.0)), "11" -> ((2L, 50.0)),
      "01" -> ((1L, 25.0))))
    val co = Profiler.coMissingness(df, Seq("x", "y")).collect()(0)
    assert(co.getAs[Long]("both_null") == 2)
    assert(co.getAs[Long]("a_null") == 2 && co.getAs[Long]("b_null") == 3)
  }

  test("pseudonymize: stable per salt, unlinkable across salts, null-safe") {
    import graft.corrector.Corrector
    val df = Seq(Some("alice"), Some("alice"), Some("bob"), None).toDF("v")
    val toks = df.select(
      Corrector.pseudonymize(col("v"), "s1").as("t1"),
      Corrector.pseudonymize(col("v"), "s2").as("t2")).collect()
    assert(toks(0).getString(0) == toks(1).getString(0)) // stable
    assert(toks(0).getString(0) != toks(2).getString(0)) // distinct values
    assert(toks(0).getString(0) != toks(0).getString(1)) // salt unlinkable
    assert(toks(0).getString(0).length == 16)            // 64 bits -> 16 hex
    assert(toks(3).isNullAt(0))                          // null passthrough
  }

  test("pmiCollocations: perfect pair maxes PMI; independence near zero") {
    import graft.text.TokenStats
    // "new york" always adjacent (PMI = ln(N/cnt... high)); "the" pairs
    // with everything (PMI ~ 0 vs its margins)
    val docs = (1 to 50).map(i =>
      (i.toLong, s"the cat new york the dog new york token$i"))
      .toDF("doc_id", "text")
    val (top, guard) = TokenStats.pmiCollocationsAndGuard(
      docs, "text", "doc_id", minCount = 5, k = 5)
    val rows = top.collect().map(r => (r.getString(0), r.getString(1),
      r.getAs[Long]("cnt"), r.getAs[Long]("pmi_micro")))
    // N=400 pairs; (new,york): cxy=100, cx=100, cy=100 -> PMI =
    // ln(400·100/1e4) = ln 4; several deterministic-count pairs tie at
    // ln 4 and the tiebreak is (w1, w2) asc -> (cat,new) leads
    val ln4 = math.round(math.log(4.0) * 1e6)
    assert(rows.head._4 == ln4)
    assert(rows.head._1 == "cat" && rows.head._2 == "new")
    assert(rows.contains(("new", "york", 100L, ln4)))
    // ties are ordered lexically: every ln4 pair precedes lower-PMI rows
    val (ties, rest) = rows.partition(_._4 == ln4)
    assert(ties.map(r => (r._1, r._2)).sameElements(
      ties.map(r => (r._1, r._2)).sortBy(identity)))
    assert(rest.forall(_._4 < ln4))
    assert(guard.collect()(0).getAs[Double]("min_pmi_dist") > 1e-7)
  }

  test("duplicateColumns: null-safe pairwise equality in one scan") {
    val df = Seq((Some(1), Some(1), Some(2), None: Option[Int]),
      (Some(5), Some(5), Some(5), Some(5)),
      (None, None, None, None))
      .toDF("a", "b", "c", "d")
    val m = Profiler.duplicateColumns(df, Seq("a", "b", "c", "d")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("mismatch_rows"), r.getAs[Boolean]("identical"))).toMap
    assert(m(("a", "b")) == ((0L, true)))   // both-null rows agree
    assert(m(("a", "c")) == ((1L, false)))
    assert(m(("a", "d")) == ((1L, false)))  // null vs 1 mismatches
  }

  test("splitBalanceReport: shares and deviations from the cell frame") {
    val df = (1 to 400).map(i => (s"doc$i", if (i % 4 == 0) "tr" else "en"))
      .toDF("text", "lang")
    val rows = graft.pipeline.Pipeline.splitBalanceReport(df, "text", "lang")
      .collect()
    val bySplit = rows.groupBy(_.getString(0))
    assert(bySplit.keySet == Set("train", "val", "test"))
    rows.foreach { r =>
      assert(r.getAs[Long]("share_bp") >= 0 && r.getAs[Long]("share_bp") <= 10000)
      assert(r.getAs[Long]("dev_bp") ==
        math.abs(r.getAs[Long]("share_bp") - r.getAs[Long]("global_bp")))
    }
    // global shares: en 7500bp, tr 2500bp
    val g = rows.map(r => r.getString(1) -> r.getAs[Long]("global_bp")).toMap
    assert(g("en") == 7500L && g("tr") == 2500L)
    // per-split rows sum to the corpus
    assert(rows.map(_.getAs[Long]("rows")).sum == 400L)
  }

  test("volumeAnomalies: absent buckets densify to zero and get flagged") {
    // series A: buckets 0,1,2,4 populated (10 each), bucket 3 ABSENT
    val rows = for {
      b <- Seq(0L, 1L, 2L, 4L); i <- 1 to 10
    } yield ("A", b * 100L + i)
    val df = rows.toDF("series", "us")
    val r = graft.quality.Detector.volumeAnomalies(
      df, col("us"), "series", bucketMicros = 100L).collect()
      .map(x => x.getLong(1) / 100L -> (x.getAs[Long]("cnt"),
        x.getAs[Boolean]("anomaly"))).toMap
    assert(r.keySet == Set(0L, 1L, 2L, 3L, 4L)) // densified
    assert(r(3L) == ((0L, true)))   // the missing bucket flags
    assert(r(0L) == ((10L, false)))
    // zero-MAD series: any deviation flags (documented robust-z edge)
  }

  test("RangeJoinRule rewrites naive inequality joins; opt-in and result-equal") {
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ graft.plans.RangeJoinRule
    def naive() = (0L to 200L by 7L).toDF("p")
      .join(Seq((1L, 0L, 10L), (2L, 10L, 40L), (3L, 150L, 30L))
        .toDF("iv", "s", "e"), col("p") >= col("s") && col("p") <= col("e"))
    try {
      spark.conf.set("spark.graft.rangeJoin.bucketWidth", "0")
      val want = naive().select("p", "iv").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val planOff = naive().queryExecution.executedPlan.toString
      assert(planOff.contains("BroadcastNestedLoop"), "expected BNLJ when disabled")

      spark.conf.set("spark.graft.rangeJoin.bucketWidth", "16")
      val j = naive()
      val plan = j.queryExecution.executedPlan.toString
      // the hybrid plan: a bucketed EQUI-join branch carries the data;
      // the naive branch survives only as the oversized-interval
      // fallback (empty here — AQE's empty-relation propagation
      // eliminates it at runtime)
      assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
        s"rule did not rewrite to an equi-join:\n${plan.take(2000)}")
      assert(plan.contains("_graft_bkt"), "bucketed branch present")
      val got = j.select("p", "iv").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want) // incl. the inverted (3: 150>30) interval: no rows
      assert(!got.exists(_._2 == 3L))

      // mirrored shape: intervals on the left, point on the right
      val m = Seq((1L, 5L, 50L)).toDF("iv", "s", "e")
        .join((0L to 100L by 3L).toDF("p"),
          col("p") >= col("s") && col("p") <= col("e"))
      assert(m.queryExecution.executedPlan.toString.contains("_graft_bkt"))
      assert(m.count() == 15) // 6,9,...,48

      // ADVICE r11: an open-ended sentinel interval (e = Long.MaxValue
      // → ~2^59 buckets at width 16) used to make Sequence/Explode
      // throw at runtime under the rewrite. It must now route through
      // the naive fallback branch and the union must stay result-
      // equal — bounded intervals still get the equi-join plan.
      val sent = (0L to 200L by 7L).toDF("p")
        .join(Seq((1L, 0L, 10L), (2L, 100L, Long.MaxValue))
          .toDF("iv", "s", "e"),
          col("p") >= col("s") && col("p") <= col("e"))
      val sentGot = sent.select("p", "iv").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val sentWant = (for {
        p <- 0L to 200L by 7L
        (iv, st, en) <- Seq((1L, 0L, 10L), (2L, 100L, Long.MaxValue))
        if p >= st && p <= en
      } yield (p, iv)).toSet
      assert(sentGot == sentWant, "sentinel interval joins via the fallback branch")
      assert(sent.queryExecution.executedPlan.toString.contains("Union"),
        "hybrid plan: bucketed branch + naive fallback branch")
    } finally {
      spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
      spark.experimental.extraOptimizations = prev
    }
  }

  test("fdViolations: null dependent counts as a value, null det excluded") {
    val df = Seq(
      (Some(1), Some("a")), (Some(1), Some("a")), (Some(2), Some("a")),
      (Some(2), Some("b")), (Some(3), None: Option[String]),
      (Some(3), Some("c")), (None: Option[Int], Some("x")))
      .toDF("det", "dep")
    val r = Profiler.fdViolations(df, Seq(("det", "dep"))).collect()(0)
    assert(r.getAs[Long]("det_values") == 3)
    assert(r.getAs[Long]("violating_values") == 2) // det=2 (a,b), det=3 (null,c)
    assert(r.getAs[Long]("violating_rows") == 4)
    assert(!r.getAs[Boolean]("fd_holds"))
  }

  test("parseDatesMulti: first matching format wins; no match -> null") {
    val df = Seq("2023-05-03", "31/12/1999", "05-20-2001", "19970806",
      "24.12.2020", "junk", "2023-13-03").toDF("raw")
    val fmts = Seq("yyyy-MM-dd", "dd/MM/yyyy", "MM-dd-yyyy", "yyyyMMdd",
      "dd.MM.yyyy")
    val r = graft.corrector.Corrector.parseDatesMulti(df, "raw", fmts)
      .select(col("raw"), col("parsed_ts").cast("date").cast("string"),
        col("parsed_ts_format"))
      .collect().map(x => (x.getString(0), x.getString(1), x.getString(2)))
    assert(r.contains(("2023-05-03", "2023-05-03", "yyyy-MM-dd")))
    assert(r.contains(("31/12/1999", "1999-12-31", "dd/MM/yyyy")))
    assert(r.contains(("05-20-2001", "2001-05-20", "MM-dd-yyyy")))
    assert(r.contains(("19970806", "1997-08-06", "yyyyMMdd")))
    assert(r.contains(("24.12.2020", "2020-12-24", "dd.MM.yyyy")))
    assert(r.contains(("junk", null, null)))
    assert(r.contains(("2023-13-03", null, null))) // month 13: strict parse
  }

  test("parseDatesMulti: ambiguous value resolves by caller priority order") {
    val df = Seq("01/02/2000").toDF("raw")
    val ddFirst = graft.corrector.Corrector.parseDatesMulti(
      df, "raw", Seq("dd/MM/yyyy", "MM/dd/yyyy"))
      .select(col("parsed_ts").cast("date").cast("string")).collect()(0).getString(0)
    val mmFirst = graft.corrector.Corrector.parseDatesMulti(
      df, "raw", Seq("MM/dd/yyyy", "dd/MM/yyyy"))
      .select(col("parsed_ts").cast("date").cast("string")).collect()(0).getString(0)
    assert(ddFirst == "2000-02-01" && mmFirst == "2000-01-02")
  }

  test("dateFormatReport censuses winning formats and unparsed rows") {
    val df = Seq("2020-01-01", "2020-01-02", "02/03/2020", "nope").toDF("raw")
    val m = graft.corrector.Corrector.dateFormatReport(
      df, "raw", Seq("yyyy-MM-dd", "dd/MM/yyyy")).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("cnt")).toMap
    assert(m == Map("yyyy-MM-dd" -> 2L, "dd/MM/yyyy" -> 1L, "(unparsed)" -> 1L))
  }

  test("fdViolations: a held dependency reports fd_holds") {
    val df = Seq((1, "x"), (1, "x"), (2, "y")).toDF("det", "dep")
    val r = Profiler.fdViolations(df, Seq(("det", "dep"))).collect()(0)
    assert(r.getAs[Long]("violating_values") == 0)
    assert(r.getAs[Boolean]("fd_holds"))
  }
}
