package graft

import org.apache.spark.sql.functions._
import graft.operators.Merge
import graft.text.{Keywords, TokenStats}
import graft.ann.Ann

/** Specs for the r11 second-wave operators: CDC latest-wins merge
  * (C22), tf-idf keyword extraction (D60), token-distribution JS
  * divergence (D61), semantic decontamination (D62), and JL random
  * projection with the native MatVec expression (D63).
  */
class R11OpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- C22 latest-wins merge ----

  private def changes = Seq(
    // k1: upsert, superseded delete, later upsert -> latest upsert wins
    ("k1", 1L, 1L, "a", "U"),
    ("k1", 2L, 2L, "b", "D"),
    ("k1", 3L, 3L, "c", "U"),
    // k2: delete is the latest change -> key vanishes
    ("k2", 1L, 4L, "x", "U"),
    ("k2", 2L, 5L, "y", "D"),
    // k3: single upsert survives
    ("k3", 1L, 6L, "z", "U")
  ).toDF("k", "ver", "seq", "payload", "op")

  test("compactLatest keeps the newest upsert and honors only WINNING deletes") {
    val got = Merge.compactLatest(changes, Seq("k"), Seq("ver", "seq"), Some("op"))
      .select("k", "ver", "payload", "op")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(("k1", 3L, "c", "U"), ("k3", 1L, "z", "U")))
  }

  test("compactLatest without an op column is pure latest-wins") {
    val got = Merge.compactLatest(changes.drop("op"), Seq("k"), Seq("ver", "seq"))
      .select("k", "payload").as[(String, String)].collect().toMap
    assert(got == Map("k1" -> "c", "k2" -> "y", "k3" -> "z"))
  }

  test("compactLatest is deterministic on duplicate version tuples (full-row order)") {
    val dup = Seq(("k", 1L, "aaa"), ("k", 1L, "zzz")).toDF("k", "ver", "payload")
    val got = Merge.compactLatest(dup, Seq("k"), Seq("ver"))
      .select("payload").as[String].collect()
    assert(got.toSeq == Seq("zzz")) // greater payload wins the struct order
  }

  test("mergeLatest: batch supersedes store, wins version ties, deletes store keys") {
    val store = Seq(("k1", 1L, "old1"), ("k2", 1L, "old2"), ("k3", 1L, "old3"))
      .toDF("k", "ver", "payload")
    val batch = Seq(
      ("k1", 2L, "new1", "U"), // newer version -> supersedes
      ("k2", 1L, "tie2", "U"), // SAME version -> batch priority wins
      ("k3", 2L, "gone", "D")  // delete removes the store row
    ).toDF("k", "ver", "payload", "op")
    val got = Merge.mergeLatest(store, batch, Seq("k"), Seq("ver"), Some("op"))
      .select("k", "payload").as[(String, String)].collect().toMap
    assert(got == Map("k1" -> "new1", "k2" -> "tie2"))
  }

  test("compactLatest validates its column arguments") {
    intercept[IllegalArgumentException] {
      Merge.compactLatest(changes, Seq("k"), Seq("nope"))
    }
    intercept[IllegalArgumentException] {
      Merge.compactLatest(changes, Seq("k"), Seq("ver"), Some("nope"))
    }
  }

  test("streaming CDC upsert: foreachBatch mergeLatest converges to batch compaction") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(String, Long, String, String)]
    // the store is re-materialized per micro-batch (collect + recreate
    // — the spec-scale stand-in for a parquet/Delta store rewrite)
    var store = Seq.empty[(String, Long, String, String)]
      .toDF("k", "ver", "payload", "op").filter(lit(false))
    val q = mem.toDF().toDF("k", "ver", "payload", "op")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val merged = graft.operators.Merge
          .mergeLatest(store, batch, Seq("k"), Seq("ver"), Some("op"))
          .collect().toSeq
        store = spark.createDataFrame(
          spark.sparkContext.parallelize(merged), store.schema)
      }.start()
    try {
      mem.addData(("k1", 1L, "a", "U"), ("k2", 1L, "x", "U"))
      q.processAllAvailable()
      mem.addData(("k1", 2L, "b", "U"), ("k2", 2L, "y", "D"), ("k3", 1L, "z", "U"))
      q.processAllAvailable()
      val streamed = store.select("k", "ver", "payload")
        .as[(String, Long, String)].collect().toSet
      // the same change log compacted in ONE batch call
      val allChanges = Seq(("k1", 1L, "a", "U"), ("k2", 1L, "x", "U"),
        ("k1", 2L, "b", "U"), ("k2", 2L, "y", "D"), ("k3", 1L, "z", "U"))
        .toDF("k", "ver", "payload", "op")
      val batch = graft.operators.Merge
        .compactLatest(allChanges, Seq("k"), Seq("ver"), Some("op"))
        .select("k", "ver", "payload").as[(String, Long, String)].collect().toSet
      assert(streamed == batch)
      assert(streamed == Set(("k1", 2L, "b"), ("k3", 1L, "z")))
    } finally q.stop()
  }

  // ---- D60 tf-idf keywords ----

  test("tfIdfKeywords ranks rare terms above ubiquitous ones; scores match by hand") {
    val docs = Seq(
      (1L, "common rare1 rare1 filler"),
      (2L, "common rare2 filler"),
      (3L, "common other")
    ).toDF("doc_id", "text")
    val (kw, guard) = Keywords.tfIdfKeywordsAndGuard(docs, "text", "doc_id", k = 1)
    val got = kw.select("doc_id", "token", "tf", "score")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // idf_micro(df) = round(ln(4/(df+1))*1e6); "common" df=3 -> ln(1)=0,
    // rare1 df=1 -> ln(2), tf=2 -> score = 2*693147 micro = 1.3863 at 4dp
    assert(got(1L) == (("rare1", 2L, 1.3863)))
    // doc2: rare2 (df=1, tf=1, ln2) vs filler (df=2, tf=1, ln(4/3));
    // ln2 > ln(4/3) -> rare2
    assert(got(2L)._1 == "rare2" && got(2L)._3 == 0.6931)
    // doc3: other (df=1) beats common (idf 0)
    assert(got(3L)._1 == "other")
    val d = guard.collect().head.getDouble(0)
    assert(d > 1e-7 && d <= 0.5)
  }

  test("tfIdfKeywords breaks score ties on token ascending") {
    val docs = Seq((1L, "beta alpha")).toDF("doc_id", "text")
    // both tokens: tf=1, df=1 -> identical score; k=1 keeps 'alpha'
    val got = Keywords.tfIdfKeywords(docs, "text", "doc_id", k = 1)
      .select("token").as[String].collect()
    assert(got.toSeq == Seq("alpha"))
  }

  test("tfIdfKeywords on an empty corpus returns no rows and a vacuous guard") {
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val (kw, guard) = Keywords.tfIdfKeywordsAndGuard(docs, "text", "doc_id")
    assert(kw.count() == 0L)
    assert(guard.collect().head.getDouble(0) == 0.5)
  }

  // ---- D68 markup stripping ----

  test("stripMarkup: script/style bodies removed whole, tags stripped, " +
    "entities decoded in safe order") {
    val df = Seq(
      (1L, "<p>Hello <b>world</b></p>"),
      (2L, "<script>if (a < b) { x(); }</script>keep"),   // bare '<' inside script
      (3L, "<style>p { color: red }</style>text"),
      (4L, "a &amp;lt; b"),                                // &amp;lt; -> &lt;  NOT '<'
      (5L, "x &lt;tag&gt; &quot;q&quot; &#39;s&#39; &nbsp;y"),
      (6L, "<!-- hidden -->shown"),
      (7L, "no markup at all")
    ).toDF("id", "s")
    val got = df.select(col("id"),
      graft.text.Boilerplate.stripMarkup(col("s")).as("c"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "Hello world")
    assert(got(2L) == "keep")
    assert(got(3L) == "text")
    assert(got(4L) == "a &lt; b")
    assert(got(5L) == "x <tag> \"q\" 's' y")
    assert(got(6L) == "shown")
    assert(got(7L) == "no markup at all")
  }

  // ---- D61 JS divergence ----

  test("jsDivergence: identical corpora diverge by 0, disjoint by ~ln 2, symmetric") {
    val a = Seq((1L, "x y z"), (2L, "x q")).toDF("doc_id", "text")
    val b = Seq((1L, "p r"), (2L, "p s t")).toDF("doc_id", "text")
    def metrics(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
      TokenStats.jsDivergence(x, y, "text", "doc_id")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val same = metrics(a, a)
    assert(same("js_nats") == 0.0 && same("kl_pm_nats") == 0.0 && same("kl_qm_nats") == 0.0)
    assert(same("vocab") == 4.0 && same("total_a") == 5.0)
    val disj = metrics(a, b)
    // add-one smoothing over the joint vocab dominates a tiny corpus
    // (each side's real mass is 5 tokens vs 9 smoothing units), so the
    // divergence is small but strictly positive; ln 2 bounds it above
    assert(disj("js_nats") > 0.01 && disj("js_nats") <= 0.6932)
    val sym = metrics(b, a)
    assert(sym("js_nats") == disj("js_nats"))
    assert(sym("kl_pm_nats") == disj("kl_qm_nats") &&
      sym("kl_qm_nats") == disj("kl_pm_nats"))
    val g = TokenStats.jsDivergenceAndGuard(a, b, "text", "doc_id")._2
      .collect().head.getDouble(0)
    assert(g > 1e-7 && g <= 0.5)
  }

  // ---- D62 semantic decontamination ----

  test("semanticContamination flags exact semantic dups, ties pick the later bank row") {
    val corpus = Seq(
      (1L, Array(1f, 0f)),   // exact dup of bench 10 -> contaminated
      (2L, Array(0.7f, 0.7f)) // cos ~0.707 vs both benches -> clean; tie -> bench 20
    ).toDF("vec_id", "embedding")
    val bench = Seq((10L, Array(1f, 0f)), (20L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Ann.semanticContamination(corpus, "embedding", "vec_id",
      bench, "embedding", "vec_id", threshold = 0.9)
      .select("vec_id", "bench_id", "max_cosine", "contaminated")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3))))
      .toMap
    assert(got(1L) == ((10L, 1.0, true)))
    assert(got(2L)._1 == 20L && !got(2L)._3 && math.abs(got(2L)._2 - 0.7071) < 1e-9)
  }

  test("semanticContamination rejects an empty bench") {
    val corpus = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Ann.semanticContamination(corpus, "embedding", "vec_id",
        corpus.filter(col("vec_id") < 0), "embedding", "vec_id", 0.9)
    }
  }

  // ---- D62b blocked (unbounded-bank) semantic decontamination ----

  test("blocked decontam == bounded decontam under a single cell") {
    val corpus = (1L to 30L).map(i =>
      (i, Array.tabulate(6)(j => (((i * 31 + j * 7) % 17).toFloat - 8) / 8f)))
      .toDF("vec_id", "embedding")
    val bench = (101L to 112L).map(i =>
      (i, Array.tabulate(6)(j => (((i * 13 + j * 5) % 17).toFloat - 8) / 8f)))
      .toDF("vec_id", "embedding")
    val oneCell = Array(Array.fill(6)(1.0))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).sortBy(_._1).toSeq
    val bounded = rows(Ann.semanticContamination(corpus, "embedding",
      "vec_id", bench, "embedding", "vec_id", 0.9))
    val blocked = rows(Ann.semanticContaminationBlocked(corpus, "embedding",
      "vec_id", bench, "embedding", "vec_id", oneCell, 0.9))
    assert(bounded.nonEmpty && blocked == bounded)
  }

  test("blocked decontam: salt-invariant — S=4 results bit-equal S=1 (r14)") {
    val corpus = (1L to 30L).map(i =>
      (i, Array.tabulate(6)(j => (((i * 31 + j * 7) % 17).toFloat - 8) / 8f)))
      .toDF("vec_id", "embedding")
    val bench = (101L to 112L).map(i =>
      (i, Array.tabulate(6)(j => (((i * 13 + j * 5) % 17).toFloat - 8) / 8f)))
      .toDF("vec_id", "embedding")
    val cents = Array(Array(1.0, 0.0, 0.0, 0.0, 0.0, 0.0),
      Array(0.0, 1.0, 0.0, 0.0, 0.0, 0.0))
    def rows(s: Int) = Ann.semanticContaminationBlocked(corpus, "embedding",
      "vec_id", bench, "embedding", "vec_id", cents, 0.9, saltBuckets = s)
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)),
        r.getBoolean(3))).sortBy(_._1).toSeq
    val base = rows(1)
    assert(base.nonEmpty && rows(4) == base)
  }

  test("blocked decontam: bench-free cell rows come back uncontaminated nulls") {
    // two orthogonal clusters as centroids; bench lives only in cell 0
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val corpus = Seq(
      (1L, Array(0.9f, 0.1f)),  // cell 0 — bench present, exact dup
      (2L, Array(0.1f, 0.9f))   // cell 1 — no bench in cell
    ).toDF("vec_id", "embedding")
    val bench = Seq((10L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")
    val got = Ann.semanticContaminationBlocked(corpus, "embedding", "vec_id",
      bench, "embedding", "vec_id", cents, 0.9)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), r.getBoolean(3)))).toMap
    assert(got(1L) == ((Some(10L), Some(1.0), true)))
    assert(got(2L) == ((None, None, false)))
  }

  // ---- D63 JL random projection / MatVec ----

  test("jlSignMatrix is deterministic, ±1-valued, and seed-sensitive") {
    val m1 = Ann.jlSignMatrix(4, 8)
    val m2 = Ann.jlSignMatrix(4, 8)
    val m3 = Ann.jlSignMatrix(4, 8, seed = "other")
    assert(m1.map(_.toSeq).toSeq == m2.map(_.toSeq).toSeq)
    assert(m1.flatten.forall(v => v == 1.0 || v == -1.0))
    assert(m1.map(_.toSeq).toSeq != m3.map(_.toSeq).toSeq)
    // independent md5 re-derivation of entry (0, 0)
    val md = java.security.MessageDigest.getInstance("MD5")
    val nib = (md.digest("jl:jl:0:0".getBytes("UTF-8"))(0) >> 4) & 0xf
    assert(m1(0)(0) == (if (nib < 8) 1.0 else -1.0))
  }

  test("MatVec computes (matrix · vec) / divisor; nulls and short inputs are safe") {
    val df = Seq(
      (1L, Array(3.0, 4.0)),
      (2L, Array(3.0)),        // short: missing elements read 0
      (3L, null.asInstanceOf[Array[Double]])
    ).toDF("id", "v")
    val m = Array(Array(1.0, 0.0), Array(0.0, 2.0))
    val got = df.select(col("id"),
      graft.functions.MatVec(col("v"), m, 2.0).as("p"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Double](1).toSeq)).toMap
    assert(got(1L) == Seq(1.5, 4.0))
    assert(got(2L) == Seq(1.5, 0.0))
    assert(got(3L) == null)
  }

  // ---- C23 Unicode normalization ----

  test("normalizeUnicode: NFC composes, NFKC folds compatibility forms, null-safe") {
    val df = Seq(
      (1L, "cafe\u0301"),    // decomposed -> NFC composes to caf\u00e9
      (2L, "caf\u00e9"),     // already composed -> unchanged
      (3L, "\ufb01le"),      // fi ligature: NFC keeps, NFKC folds to "file"
      (4L, null.asInstanceOf[String])
    ).toDF("id", "s")
    val got = df.select(col("id"),
      graft.corrector.Corrector.normalizeUnicode(col("s")).as("nfc"),
      graft.corrector.Corrector.normalizeUnicode(col("s"), "NFKC").as("nfkc"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(got(1L) == (("caf\u00e9", "caf\u00e9")))
    assert(got(2L) == (("caf\u00e9", "caf\u00e9")))
    assert(got(3L) == (("\ufb01le", "file")))
    assert(got(4L) == ((null, null)))
    // normalization makes byte-different representations hash-equal
    val hashes = df.filter(col("id").isin(1L, 2L))
      .select(md5(graft.corrector.Corrector.normalizeUnicode(col("s"))))
      .as[String].collect()
    assert(hashes.distinct.length == 1)
    intercept[IllegalArgumentException] {
      graft.corrector.Corrector.normalizeUnicode(col("s"), "BOGUS")
    }
  }

  // ---- D64 mergeable HLL distinct sketches ----

  test("distinctSketches merge: estimate is exact in the sparse range and " +
    "independent of how the corpus was split") {
    val docs = (1 to 200).map(i => (i.toLong, s"lang${i % 7}", s"src${i % 13}"))
      .toDF("doc_id", "lang", "source")
    val cols = Seq("doc_id", "lang", "source")
    def est(parts: Seq[org.apache.spark.sql.DataFrame]) =
      graft.profile.Profiler.mergeDistinctEstimates(
        parts.map(p => graft.profile.Profiler.distinctSketches(p, cols)))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val whole = est(Seq(docs))
    // HLL is exact well below 2^lgK registers
    assert(whole == Map("doc_id" -> 200L, "lang" -> 7L, "source" -> 13L))
    val halves = est(Seq(docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0)))
    val thirds = est(Seq(docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 === 1), docs.filter(col("doc_id") % 3 === 2)))
    assert(halves == whole && thirds == whole)
    // idempotent: merging a snapshot with itself changes nothing
    val dup = est(Seq(docs, docs))
    assert(dup == whole)
  }

  // ---- C24 schema conformance ----

  test("conformSchema: pass/cast/add_null/drop; loud failures when disabled") {
    import org.apache.spark.sql.types._
    val df = Seq((1, "a", "2.5", "x")).toDF("id", "name", "score", "extra")
    val target = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType), StructField("added", IntegerType)))
    val out = graft.sources.Sources.conformSchema(df, target)
    assert(out.schema.map(f => (f.name, f.dataType)) ==
      target.map(f => (f.name, f.dataType)))
    val row = out.collect().head
    assert(row.getLong(0) == 1L && row.getString(1) == "a" &&
      row.getDouble(2) == 2.5 && row.isNullAt(3))
    intercept[IllegalArgumentException] {
      graft.sources.Sources.conformSchema(df, target, dropExtras = false)
    }
    intercept[IllegalArgumentException] {
      graft.sources.Sources.conformSchema(df, target, allowCast = false)
    }
    val report = graft.sources.Sources.conformReport(df, target)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(report == Map("id" -> "cast", "name" -> "pass", "score" -> "cast",
      "added" -> "add_null", "extra" -> "drop"))
  }

  test("unicode_normalize registers as a SQL function (literal form arg)") {
    graft.functions.GraftFunctions.register(spark)
    val got = spark.sql(
      "SELECT unicode_normalize('café'), unicode_normalize('ﬁle', 'NFKC')")
      .collect().head
    assert(got.getString(0) == "café" && got.getString(1) == "file")
  }

  // ---- D67 mergeable KLL quantile sketches ----

  test("quantileSketches merge: exact below compaction threshold, " +
    "independent of the split") {
    // n=100 per column < k=200: the sketch holds every value, so
    // quantiles are exact order statistics — deterministic despite
    // KLL's randomized compaction (which never engages here)
    val df = (1 to 100).map(i => (i.toLong, i.toDouble, (101 - i).toDouble))
      .toDF("id", "a", "b")
    val cols = Seq("a", "b")
    def est(parts: Seq[org.apache.spark.sql.DataFrame]) =
      graft.profile.Profiler.mergeQuantileEstimates(
        parts.map(p => graft.profile.Profiler.quantileSketches(p, cols)),
        Seq(0.25, 0.5, 0.75))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val whole = est(Seq(df))
    // DataSketches quantile (inclusive criterion): rank ceil(q*n)
    assert(whole(("a", "0.25")) == 25.0 && whole(("a", "0.50")) == 50.0 &&
      whole(("a", "0.75")) == 75.0)
    assert(whole(("b", "0.50")) == 50.0)
    val halves = est(Seq(df.filter(col("id") % 2 === 0), df.filter(col("id") % 2 =!= 0)))
    assert(halves == whole)
  }

  test("mergeQuantileEstimates: all-null column gives null; nulls are skipped") {
    import graft.profile.Profiler
    val df = Seq((Some(1.0), Option.empty[Double]), (None, None), (Some(3.0), None))
      .toDF("v", "e")
    val got = Profiler.mergeQuantileEstimates(
        Seq(Profiler.quantileSketches(df, Seq("v", "e"))), Seq(0.5))
      .collect().map(r => r.getString(0) -> r).toMap
    // the KLL median of {1, 3}: the null row is not a value
    assert(!got("v").isNullAt(2) && got("v").getDouble(2) == 1.0)
    // an empty sketch has no quantile (kll_sketch_get_quantile_double
    // would throw on it)
    assert(got("e").isNullAt(2))
  }

  test("a DataSketches KllDoublesSketch merges with kll_sketch_agg_double to exact n") {
    // snapshot sketches persisted from KllDoublesSketch bytes must keep
    // merging with sketches Spark builds
    val direct = org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(200)
    (1 to 1000).foreach(i => direct.update(i.toDouble))
    val fresh = (1 to 500).map(_.toDouble).toDF("v")
      .agg(kll_sketch_agg_double(col("v"), 200).as("sketch"))
    val n = Seq(direct.toByteArray).toDF("sketch").unionByName(fresh)
      .agg(kll_sketch_get_n_double(kll_merge_agg_double(col("sketch"), 200)))
      .head().getLong(0)
    assert(n == 1500L)
  }

  // ---- D65 Bloom ingest guard ----

  test("Bloom guard: every store member is flagged (no false negatives); " +
    "novel keys mostly pass; nulls stay null") {
    val store = (1 to 500).map(i => s"key-$i").toDF("k")
    val bits = graft.dedup.Bloom.buildFilter(store, col("k"), 1000, fpp = 0.001)
    val probe = ((1 to 500).map(i => s"key-$i") ++
      (1 to 500).map(i => s"novel-$i")).toDF("k")
      .unionByName(Seq.empty[String].toDF("k")
        .unionByName(spark.sql("SELECT CAST(NULL AS STRING) AS k")))
    val got = graft.dedup.Bloom.screenBatch(probe, col("k"), bits).collect()
    val members = got.filter(r => !r.isNullAt(0) && r.getString(0).startsWith("key-"))
    assert(members.length == 500 && members.forall(_.getBoolean(1)))
    val novel = got.filter(r => !r.isNullAt(0) && r.getString(0).startsWith("novel-"))
    // fpp=0.001 over 500 probes -> expect ~0.5 false positives; allow slack
    assert(novel.count(_.getBoolean(1)) <= 5)
    assert(got.filter(_.isNullAt(0)).forall(_.isNullAt(1)))
  }

  test("Bloom.buildFilter validates its parameters") {
    val df = Seq("a").toDF("k")
    intercept[IllegalArgumentException] {
      graft.dedup.Bloom.buildFilter(df, col("k"), 0)
    }
    intercept[IllegalArgumentException] {
      graft.dedup.Bloom.buildFilter(df, col("k"), 10, fpp = 1.5)
    }
  }

  // ---- D66 k-NN label assignment ----

  test("knnClassify: majority label wins, vote ties take the smaller label, " +
    "self excluded") {
    // 2-d corpus: cluster A (label 1) near (1,0), cluster B (label 2)
    // near (0,1); query 100 sits AT (1,0) and has label 2 itself — if
    // self leaked into the vote, label 2 could win
    val corpus = Seq(
      (1L, Array(1f, 0f), 1), (2L, Array(0.99f, 0.1f), 1), (3L, Array(0.98f, 0.2f), 1),
      (4L, Array(0f, 1f), 2), (5L, Array(0.1f, 0.99f), 2),
      (100L, Array(1f, 0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val q = Array((100L, Array(1.0, 0.0)))
    val got3 = Ann.knnClassify(corpus, "embedding", "vec_id", "label", q, k = 3)
      .collect().head
    assert(got3.getLong(0) == 100L && got3.getInt(1) == 1 && got3.getLong(2) == 3L)
    // k=4: brings in one label-2 vote -> 3 vs 1, label 1 still wins
    val got4 = Ann.knnClassify(corpus, "embedding", "vec_id", "label", q, k = 4)
      .collect().head
    assert(got4.getInt(1) == 1 && got4.getLong(2) == 3L)
    // vote tie: k=2 over one of each -> smaller label wins
    val tieCorpus = Seq(
      (1L, Array(1f, 0f), 7), (2L, Array(1f, 0f), 3)
    ).toDF("vec_id", "embedding", "label")
    val tied = Ann.knnClassify(tieCorpus, "embedding", "vec_id", "label",
      Array((99L, Array(1.0, 0.0))), k = 2)
      .collect().head
    assert(tied.getInt(1) == 3 && tied.getLong(2) == 1L)
  }

  test("knnNeighbors ranks by cosine with id tie-break and respects k") {
    val corpus = Seq(
      (1L, Array(1f, 0f)), (2L, Array(1f, 0f)), (3L, Array(0f, 1f))
    ).toDF("vec_id", "embedding")
    val nb = Ann.knnNeighbors(corpus, "embedding", "vec_id",
      Array((50L, Array(1.0, 0.0))), k = 2)
      .select("rank", "vec_id").collect().map(r => (r.getInt(0), r.getLong(1)))
    // identical cosines 1.0 for ids 1,2 -> tie broken on id ascending
    assert(nb.sorted.toSeq == Seq((1, 1L), (2, 2L)))
  }

  test("randomProject output has outDim components and preserves exact duplicates") {
    val docs = Seq(
      (1L, Array.tabulate(16)(i => i.toFloat)),
      (2L, Array.tabulate(16)(i => i.toFloat)), // identical vector
      (3L, Array.tabulate(16)(i => (16 - i).toFloat))
    ).toDF("vec_id", "embedding")
    val p = Ann.randomProject(docs, "embedding", "vec_id", inDim = 16, outDim = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    assert(p(1L).size == 4)
    assert(p(1L) == p(2L))   // projection is a pure function of the vector
    assert(p(1L) != p(3L))
  }

  test("snapshotDiff: added/removed/changed/unchanged + per-column drill-down, null-safe") {
    val before = Seq(
      (1L, Some("a"), Some(10.0)), (2L, Some("b"), Some(20.0)),
      (3L, None: Option[String], Some(30.0)), (4L, Some("d"), None: Option[Double]))
      .toDF("k", "s", "v")
    val after = Seq(
      (1L, Some("a"), Some(10.0)),               // unchanged
      (2L, Some("b"), Some(21.0)),               // changed: v
      (3L, Some("c"), Some(30.0)),               // changed: s (null -> c, null-safe)
      (5L, Some("e"), Some(50.0)))               // added; 4 removed
      .toDF("k", "s", "v")
    val m = Merge.snapshotDiff(before, after, Seq("k")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map(
      "rows_added" -> 1L, "rows_removed" -> 1L, "rows_changed" -> 2L,
      "rows_unchanged" -> 1L, "changed_s" -> 1L, "changed_v" -> 1L))
    // empty after: everything removed, zero everything else
    val e = Merge.snapshotDiff(before, after.filter(lit(false)), Seq("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(e("rows_removed") == 4L && e("rows_added") == 0L
      && e("rows_changed") == 0L && e("changed_s") == 0L)
    // BOTH empty (r12 review): sum over a zero-row join is null —
    // the census must still be real zeros
    val z = Merge.snapshotDiff(before.filter(lit(false)),
      after.filter(lit(false)), Seq("k")).collect()
    assert(z.forall(r => !r.isNullAt(1) && r.getLong(1) == 0L),
      "both-empty census must be all-zero, never NULL")
    // schema drift fails at plan time with the conform pointer
    val ex = intercept[IllegalArgumentException] {
      Merge.snapshotDiff(before, after.withColumnRenamed("v", "w"), Seq("k"))
    }
    assert(ex.getMessage.contains("conform"))
  }
}
