package graft

import org.apache.spark.sql.functions._
import graft.profile.Profiler
import graft.quality.{Detector, Rule}

class ProfilerDetectorSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    (1, Some("aa"), Some(10.0)),
    (2, Some("bb"), Some(-5.0)),
    (3, None: Option[String], Some(0.0)),
    (4, Some("aa"), None),
    (5, Some("cc1"), Some(20.0))
  ).toDF("id", "s", "v")

  test("summary counts rows and numeric/nominal columns") {
    val r = Profiler.summary(df).collect()(0)
    assert(r.getAs[Long]("row_count") == 5)
    assert(r.getAs[Int]("column_count") == 3)
    assert(r.getAs[Int]("numeric_column_count") == 2) // id, v
    assert(r.getAs[Int]("nominal_column_count") == 1)
  }

  test("nullProfile reports per-column null counts in one pass") {
    val m = Profiler.nullProfile(df).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("null_count")).toMap
    assert(m == Map("id" -> 0L, "s" -> 1L, "v" -> 1L))
  }

  test("numericStats quartiles and std match expectations") {
    val r = Profiler.numericStats(df, Seq("v")).collect()(0)
    assert(r.getAs[Long]("cnt") == 4)
    assert(r.getAs[Double]("min") == -5.0 && r.getAs[Double]("max") == 20.0)
    assert(r.getAs[Double]("median") == 5.0) // interpolated between 0 and 10
  }

  test("frequencyTable and topK exclude nulls and order deterministically") {
    val f = Profiler.frequencyTable(df, "s").collect()
    assert(f(0).getString(0) == "aa" && f(0).getAs[Long]("cnt") == 2)
    assert(!f.exists(_.isNullAt(0)))
    val t = Profiler.topK(df, "s", 2).collect()
    assert(t.map(_.getString(0)).toSeq == Seq("aa", "bb"))
  }

  test("patternProfile masks letters and digits") {
    val p = Profiler.patternProfile(df, "s").collect()
      .map(r => r.getString(0) -> r.getAs[Long]("cnt")).toMap
    assert(p == Map("AA" -> 3L, "AA9" -> 1L))
  }

  test("signCounts splits positive/zero/negative") {
    val r = Profiler.signCounts(df, "v").collect()(0)
    assert(r.getAs[Long]("positive") == 2 && r.getAs[Long]("zero") == 1 &&
      r.getAs[Long]("negative") == 1)
  }

  test("histogram buckets anchored at zero") {
    val h = Profiler.histogram(df, "v", 10.0).collect()
      .map(r => r.getDouble(0) -> r.getAs[Long]("cnt")).toMap
    assert(h == Map(-10.0 -> 1L, 0.0 -> 1L, 10.0 -> 1L, 20.0 -> 1L))
  }

  test("moments compute skewness/kurtosis from raw moments") {
    // symmetric two-point distribution: skew 0, kurtosis -2
    val d = Seq(1.0, 1.0, 3.0, 3.0).toDF("x")
    val r = Profiler.moments(d, Seq("x")).collect()(0)
    assert(r.getAs[Double]("skewness") == 0.0)
    assert(r.getAs[Double]("kurtosis") == -2.0)
  }

  test("report unions every scalar profile into one tall frame (exact and approx)") {
    val exact = Profiler.report(df, approx = false).collect()
    val byKey = exact.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // no duplicate (column, metric) rows, sorted output
    assert(byKey.size == exact.length)
    assert(byKey(("*", "row_count")).getAs[Double]("value") == 5.0)
    assert(byKey(("s", "null_count")).getAs[Double]("value") == 1.0)
    assert(byKey(("v", "median")).getAs[Double]("value") == 5.0)
    assert(byKey(("v", "negative")).getAs[Double]("value") == 1.0)
    assert(byKey(("v", "distinct_cnt")).getAs[Double]("value") == 4.0)
    assert(byKey(("id", "pearson:v")) != null)
    assert(byKey(("s", "min_len")).getAs[Double]("value") == 2.0)
    assert(byKey(("s", "value_at_min_len")).getAs[String]("value_str") == "aa")
    assert(byKey(("s", "max_alpha")).getAs[String]("value_str") == "cc1")
    assert(!byKey.contains(("s", "mean")), "string columns get no numeric stats")
    // approx flavor: same row set except cardinality/quantile metrics
    // swap to sketches; on this tiny frame the sketches are exact
    val approx = Profiler.report(df).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(approx(("v", "approx_distinct")).getAs[Double]("value") == 4.0)
    assert(!approx.contains(("v", "distinct_cnt")))
    // approx_percentile returns an actual element (no interpolation)
    assert(Set(0.0, 10.0).contains(approx(("v", "median")).getAs[Double]("value")))
    assert(approx.size == byKey.size)
  }

  test("reportBy computes the report grid per group, excluding the group column") {
    val g = Seq((1, "x", 10.0), (2, "x", 20.0), (3, "y", 5.0))
      .toDF("id", "src", "v")
    val rep = Profiler.reportBy(g, "src", approx = false).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r).toMap
    assert(rep(("x", "*", "row_count")).getAs[Double]("value") == 2.0)
    assert(rep(("y", "*", "row_count")).getAs[Double]("value") == 1.0)
    assert(rep(("x", "v", "mean")).getAs[Double]("value") == 15.0)
    assert(rep(("y", "v", "min")).getAs[Double]("value") == 5.0)
    // the group column is not profiled; per-group column_count = 2
    assert(!rep.keys.exists(_._2 == "src"))
    assert(rep(("x", "*", "column_count")).getAs[Double]("value") == 2.0)
  }

  test("each standalone profile equals its rows of the report grid") {
    // nulls, negatives, zeros, constant columns, an empty string and
    // string-length ties ("ab"/"ba", "aa"/"bb"/"dd")
    val f = Seq(
      (Some(1L), Some(-2.5), Some(""), "k", Some("bb")),
      (Some(2L), Some(0.0), Some("ab"), "k", Some("aa")),
      (None, Some(3.25), Some("ba"), "k", None),
      (Some(4L), None, None, "k", Some("c")),
      (Some(-5L), Some(10.0), Some("xyz"), "k", Some("dd")),
      (Some(0L), Some(-0.5), Some("q"), "k", Some("ee"))
    ).toDF("i", "d", "s", "k", "t")
    val texts = agreeWithReport(f)
    assert(texts(("s", "value_at_min_len")).contains(""))
    assert(texts(("t", "value_at_min_len")).contains("c"))
    assert(texts(("t", "value_at_max_len")).contains("aa"))
    assert(texts(("k", "max_alpha")).contains("k"))
    // a constant numeric column: std 0, no shape (m2 = 0). It is the
    // only numeric column: a pearson pair with it divides by zero.
    val shape = agreeWithReport(f.select(col("s"), lit(7).as("seven")))
    assert(shape(("seven", "skewness")).isEmpty && shape(("seven", "std")).contains("0.0"))
  }

  /** Asserts that every standalone scalar profile of `f` equals its
    * rows of `report(f, approx = false)` (`approx = true` for the GK
    * quartiles and HLL counts), and returns the exact grid as
    * (column, metric) → value, as text.
    */
  private def agreeWithReport(f: org.apache.spark.sql.DataFrame): Map[(String, String), Option[String]] = {
    import org.apache.spark.sql.types.{NumericType, StringType}
    val nums = f.schema.fields.filter(_.dataType.isInstanceOf[NumericType]).map(_.name).toSeq
    val strs = f.schema.fields.filter(_.dataType == StringType).map(_.name).toSeq
    def grid(approx: Boolean) = Profiler.report(f, approx).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val exact = grid(approx = false)
    val approx = grid(approx = true)
    def value(g: Map[(String, String), org.apache.spark.sql.Row], c: String, m: String) =
      Option(g((c, m)).get(2)).map(_.asInstanceOf[Double])
    def text(c: String, m: String) = Option(exact((c, m)).getString(3))
    def num(r: org.apache.spark.sql.Row, k: String) =
      Option(r.get(r.fieldIndex(k))).map(_.asInstanceOf[Number].doubleValue)
    def agree(c: String, r: org.apache.spark.sql.Row, metrics: Seq[String],
              g: Map[(String, String), org.apache.spark.sql.Row] = exact): Unit =
      metrics.foreach { m =>
        assert(num(r, m) == value(g, c, m), s"$c.$m: ${num(r, m)} vs ${value(g, c, m)}")
      }

    // null/fill: counts exact; fill_pct is 2 dp standalone, 4 dp in the grid
    Profiler.nullProfile(f).collect().foreach { r =>
      val c = r.getString(0)
      agree(c, r, Seq("non_null", "null_count"))
      assert(num(r, "fill_pct") == value(exact, c, "fill_pct")
        .map(v => BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }
    val stats = Profiler.numericStats(f, nums).collect()
    assert(stats.map(_.getString(0)).toSeq == nums.sorted)
    stats.foreach(r => agree(r.getString(0), r,
      Seq("cnt", "mean", "std", "min", "q1", "median", "q3", "max")))
    Profiler.numericStatsApprox(f, nums).collect()
      .foreach(r => agree(r.getString(0), r, Seq("q1", "median", "q3"), approx))
    Profiler.moments(f, nums).collect()
      .foreach(r => agree(r.getString(0), r, Seq("cnt", "skewness", "kurtosis")))
    nums.foreach { c =>
      agree(c, Profiler.signCounts(f, c).collect()(0), Seq("positive", "zero", "negative"))
    }
    strs.foreach { c =>
      val r = Profiler.stringLengthStats(f, c).collect()(0)
      agree(c, r, Seq("min_len", "max_len"))
      Seq("value_at_min_len", "value_at_max_len", "min_alpha", "max_alpha").foreach { m =>
        assert(Option(r.getAs[String](m)) == text(c, m), s"$c.$m")
      }
    }
    Profiler.distinctProfile(f, f.columns.toSeq).collect().foreach { r =>
      agree(r.getString(0), r, Seq("distinct_cnt"))
      agree(r.getString(0), r, Seq("approx_distinct"), approx)
    }
    // (a pair list needs two columns)
    val corr = if (nums.size < 2) Array.empty[org.apache.spark.sql.Row]
               else Profiler.correlationMatrix(f, nums).collect()
    assert(corr.length == nums.size * (nums.size - 1) / 2)
    corr.foreach { r =>
      assert(num(r, "pearson") == value(exact, r.getString(0), s"pearson:${r.getString(1)}"))
    }
    exact.map { case (k, r) =>
      k -> Option(r.get(3)).orElse(Option(r.get(2))).map(_.toString)
    }
  }

  test("dqReport is dqSummary's row; windowedDqScore is windowedDqSummary's") {
    val rules = Seq(Rule.NumBetween(0, 15))
    val frames = Seq(
      df -> "v",
      Seq.empty[(Long, String)].toDF("doc_id", "text") -> "text",
      Seq((1L, None: Option[Double]), (2L, None)).toDF("id", "v") -> "v")
    frames.foreach { case (frame, c) =>
      val rs = if (c == "text") Seq(Rule.NoDigits) else rules
      assert(Detector.dqReport(frame, c, rs).collect().toSeq ==
        Detector.dqSummary(frame, Seq(c -> rs)).collect().toSeq, c)
    }
    val events = Seq(
      ("2024-01-01 00:00:10", Some(5.0)), ("2024-01-01 00:00:20", None),
      ("2024-01-01 00:00:30", Some(50.0)), ("2024-01-01 00:01:10", Some(1.0)),
      ("2024-01-01 00:02:05", None), ("2024-01-01 00:02:50", Some(-3.0))
    ).toDF("ts", "value").withColumn("ts", to_timestamp(col("ts")))
    val one = graft.streaming.StreamingDQ.windowedDqScore(events, "ts", "value", rules)
    val many = graft.streaming.StreamingDQ.windowedDqSummary(events, "ts", Seq("value" -> rules))
      .drop("column")
    assert(one.columns.toSeq == many.columns.toSeq)
    assert(one.orderBy("window_start").collect().toSeq ==
      many.orderBy("window_start").collect().toSeq)
    assert(one.count() == 3)
  }

  test("dot_product registers as a SQL function") {
    graft.functions.GraftFunctions.register(spark)
    val v = spark.sql("SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(v == 11.0)
  }

  test("tckn_valid / taxnum_valid register as SQL functions") {
    graft.functions.GraftFunctions.register(spark)
    // 10000000078: odd=1 even=0 -> d10 = 7*1-0 mod 10 = 7; d11 = (1+7) mod 10 = 8
    // 0000000001: nine zero digits give terms 9,5,5,6,7,1,6,8,2 = 49
    //             -> check digit (10-9)%10 = 1
    val r = spark.sql(
      """SELECT tckn_valid('10000000078') AS t1, tckn_valid('10000000079') AS t2,
        |       taxnum_valid('0000000001') AS x1, taxnum_valid('0000000002') AS x2,
        |       tckn_valid(CAST(NULL AS STRING)) AS tn""".stripMargin).collect()(0)
    assert(r.getBoolean(0) && !r.getBoolean(1))
    assert(r.getBoolean(2) && !r.getBoolean(3))
    assert(r.isNullAt(4))
  }

  test("uselessRows flags rows with more than half columns null") {
    val d = Seq((Some(1), None: Option[String], None: Option[Double]),
                (Some(2), Some("x"), Some(1.0))).toDF("a", "b", "c")
    val u = Detector.uselessRows(d).collect()
    assert(u.length == 1 && u(0).getAs[Int]("a") == 1 &&
      u(0).getAs[Int]("null_col_count") == 2)
  }

  test("duplicateRows returns multiplicity") {
    val d = Seq(("x", 1), ("x", 1), ("y", 2)).toDF("a", "b")
    val r = Detector.duplicateRows(d).collect()
    assert(r.length == 1 && r(0).getAs[Long]("dup_count") == 2)
  }

  test("dqReport computes score and band") {
    val r = Detector.dqReport(df, "v", Seq(Rule.NumBetween(0, 15))).collect()(0)
    // nulls=1, out of format: -5 and 20 => 2, proper=2, score=40
    assert(r.getAs[Long]("null_records") == 1)
    assert(r.getAs[Long]("out_of_format_records") == 2)
    assert(r.getAs[Double]("dq_score") == 40.0)
    assert(r.getAs[String]("dq_band") == "LOW")
  }

  test("beforeAfter reports score delta") {
    val before = Detector.dqSummary(df, Seq("v" -> Seq(Rule.NumBetween(0, 15))))
    val fixed = df.withColumn("v", coalesce(least(greatest(col("v"), lit(0.0)), lit(15.0)), lit(1.0)))
    val after = Detector.dqSummary(fixed, Seq("v" -> Seq(Rule.NumBetween(0, 15))))
    val r = Detector.beforeAfter(before, after).collect()(0)
    assert(r.getAs[Double]("before_score") == 40.0)
    assert(r.getAs[Double]("after_score") == 100.0)
    assert(r.getAs[Double]("delta") == 60.0)
  }
}
