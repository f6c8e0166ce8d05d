package graft

import org.apache.spark.sql.functions._
import graft.ann.{Ann, Pq}

/** Round-15 operator specs: IVF-PQ index maintenance (D99b) and the
  * coarse-bank drift report (D99c).
  */
class R15OpsSpec extends SparkSpec {
  import spark.implicits._

  // 8 vectors, 4 dims, crafted so cells are stable
  private def emb = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
    (3L, Array(0.1f, 0.9f, 0.1f, 0.0f)),
    (4L, Array(0.95f, 0.05f, 0.0f, 0.1f)),
    (5L, Array(0.0f, 0.8f, 0.2f, 0.0f)),
    (6L, Array(1.1f, -0.1f, 0.0f, 0.0f)),
    (7L, Array(-0.1f, 1.1f, 0.0f, 0.1f))).toDF("vec_id", "embedding")

  private def banks = {
    val store = emb.filter(col("vec_id") % 3 =!= 2)
    (Ann.trainCentroidsBySample(store, "embedding", "vec_id", 2),
      Pq.codebooksBySample(store, "embedding", "vec_id", m = 2, k = 2, dim = 4))
  }

  test("mergeIvfPqIndexes ≡ full rebuild, row for row") {
    val (coarse, cb) = banks
    val store = emb.filter(col("vec_id") % 3 =!= 2)
    val inc = emb.filter(col("vec_id") % 3 === 2)
    val merged = Pq.mergeIvfPqIndexes(
      Pq.ivfPqIndexStamped(store, "embedding", "vec_id", coarse, cb),
      Pq.ivfPqIndexStamped(inc, "embedding", "vec_id", coarse, cb))
    val rebuild = Pq.ivfPqIndexStamped(emb, "embedding", "vec_id", coarse, cb)
    assert(merged.exceptAll(rebuild).unionAll(rebuild.exceptAll(merged)).count() == 0)
    assert(merged.count() == 8)
  }

  test("mergeIvfPqIndexes raises loudly on a bank-fingerprint mismatch") {
    val (coarse, cb) = banks
    val otherCoarse = coarse.map(_.map(_ + 0.5))
    val a = Pq.ivfPqIndexStamped(emb.limit(4), "embedding", "vec_id", coarse, cb)
    val b = Pq.ivfPqIndexStamped(emb, "embedding", "vec_id", otherCoarse, cb)
    val e = intercept[Exception] { Pq.mergeIvfPqIndexes(a, b).collect() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("incompatible bank fingerprints")))
    // unstamped inputs refused before any job runs
    intercept[IllegalArgumentException] {
      Pq.mergeIvfPqIndexes(
        Pq.ivfPqIndex(emb, "embedding", "vec_id", coarse, cb), b)
    }
  }

  test("serving through the merged index equals serving through the rebuild") {
    val (coarse, cb) = banks
    val store = emb.filter(col("vec_id") % 3 =!= 2)
    val inc = emb.filter(col("vec_id") % 3 === 2)
    val merged = Pq.mergeIvfPqIndexes(
      Pq.ivfPqIndexStamped(store, "embedding", "vec_id", coarse, cb),
      Pq.ivfPqIndexStamped(inc, "embedding", "vec_id", coarse, cb))
    val rebuild = Pq.ivfPqIndexStamped(emb, "embedding", "vec_id", coarse, cb)
    val q = Array(1.0, 0.0, 0.0, 0.0)
    val a = Pq.ivfPqTopKIndexed(merged, emb, "embedding", "vec_id", coarse, cb,
      q, k = 3, nprobe = 2, rerank = 8).collect().toSeq
    val b = Pq.ivfPqTopKIndexed(rebuild, emb, "embedding", "vec_id", coarse, cb,
      q, k = 3, nprobe = 2, rerank = 8).collect().toSeq
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("D99b at rest: the upsert IS a partitioned parquet append; probes stay partition-pruned") {
    val (coarse, cb) = banks
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_upsert").toString + "/idx"
    val store = emb.filter(col("vec_id") % 3 =!= 2)
    val inc = emb.filter(col("vec_id") % 3 === 2)
    Pq.ivfPqIndexStamped(store, "embedding", "vec_id", coarse, cb)
      .write.partitionBy("cell").parquet(dir)
    Pq.ivfPqIndexStamped(inc, "embedding", "vec_id", coarse, cb)
      .write.mode("append").partitionBy("cell").parquet(dir)
    val atRest = spark.read.parquet(dir)
    val rebuild = Pq.ivfPqIndexStamped(emb, "embedding", "vec_id", coarse, cb)
    // same rows (column order differs under partitionBy — compare by name)
    val cols = rebuild.columns.sorted.map(col).toIndexedSeq
    assert(atRest.select(cols: _*).exceptAll(rebuild.select(cols: _*))
      .unionAll(rebuild.select(cols: _*).exceptAll(atRest.select(cols: _*)))
      .count() == 0)
    // serving through the appended at-rest index still partition-prunes
    val q = Array(1.0, 0.0, 0.0, 0.0)
    val served = Pq.ivfPqTopKIndexed(atRest, emb, "embedding", "vec_id",
      coarse, cb, q, k = 3, nprobe = 1, rerank = 8)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"), plan)
    val inMem = Pq.ivfPqTopKIndexed(rebuild, emb, "embedding", "vec_id",
      coarse, cb, q, k = 3, nprobe = 1, rerank = 8)
    assert(served.collect().toSeq == inMem.collect().toSeq)
  }

  test("cellStats: counts partition the corpus; residual of an exact centroid hit is 0") {
    val coarse = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0))
    val stats = Pq.cellStats(emb, "embedding", coarse)
      .orderBy("cell").collect()
    assert(stats.map(_.getLong(1)).sum == 8)
    // vec 0 IS centroid 0 → contributes exactly 0 micro-residual; all
    // residuals are squared distances, so sums are non-negative
    assert(stats.forall(_.getLong(2) >= 0L))
    val one = Pq.cellStats(emb.filter(col("vec_id") === 0), "embedding", coarse)
      .collect()
    assert(one.length == 1 && one(0).getInt(0) == 0 && one(0).getLong(2) == 0L)
  }

  test("cellDriftReport full-outer semantics: appeared/drained cells zero-filled") {
    val before = Seq((0, 5L, 100L), (1, 3L, 50L)).toDF("cell", "n", "resid_sum_micro")
    val after = Seq((0, 9L, 300L), (2, 4L, 80L)).toDF("cell", "n", "resid_sum_micro")
    val r = Pq.cellDriftReport(before, after).orderBy("cell")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))
    assert(r.toSeq == Seq(
      (0L, 5L, 9L, 100L, 300L),
      (1L, 3L, 0L, 50L, 0L),   // drained
      (2L, 0L, 4L, 0L, 80L)))  // appeared — mass the bank never saw
  }

  // ---------------- D70c (r15): PSL refresh contract ----------------

  test("PSL refresh: monthly snapshot delta via the D85 census, incl. kind flips") {
    import graft.text.Urls
    import graft.operators.Merge
    val jan = Seq("// header comment", "com", "co.uk", "*.ck", "!www.ck", "jp", "")
      .toDF("line")
    val feb = Seq("com", "co.uk", "*.ck", "!www.ck", "*.jp", "dev", "// note")
      .toDF("line")
    val d = Merge.snapshotDiff(
      Urls.parsePublicSuffixList(jan), Urls.parsePublicSuffixList(feb),
      keyCols = Seq("suffix"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d("rows_added") == 1L)      // dev
    assert(d("rows_removed") == 0L)    // jp's suffix survives as the wildcard tail
    assert(d("rows_changed") == 1L)    // jp: exact -> wildcard (the subtle churn class)
    assert(d("changed_kind") == 1L)
    assert(d("rows_unchanged") == 4L)  // com, co.uk, ck, www.ck
  }

  // ---------------- C34 (r15): mojibake beyond cp1252 ----------------

  test("FixMojibake repairs cp1251 (Cyrillic) and latin-2 (CE) damage classes") {
    import java.nio.charset.StandardCharsets.UTF_8
    val cases = Seq(
      ("привет мир", "windows-1251"),
      ("Привет, Москва!", "windows-1251"),
      ("žluťoučký kůň", "ISO-8859-2"),
      ("Dobrý večer, přátelé", "ISO-8859-2"))
    cases.foreach { case (orig, codec) =>
      val damaged = new String(orig.getBytes(UTF_8), codec)
      assert(damaged != orig, s"damage must change the text ($codec)")
      val fixed = Seq(Tuple1(damaged)).toDF("s")
        .select(graft.functions.FixMojibake(col("s")).as("f")).head.getString(0)
      assert(fixed == orig, s"$codec: '$damaged' -> '$fixed' != '$orig'")
    }
  }

  test("clean Cyrillic and Central-European text survives untouched") {
    val clean = Seq("привет мир", "Привет, Москва!", "žluťoučký kůň",
      "Dobrý večer, přátelé", "Łódź, Kraków", "café", "hello")
    clean.foreach { t0 =>
      val out = Seq(Tuple1(t0)).toDF("s")
        .select(graft.functions.FixMojibake(col("s")).as("f")).head.getString(0)
      assert(out == t0, s"clean '$t0' was rewritten to '$out'")
    }
  }

  test("cp1252 damage still wins the priority order (r14 behavior unchanged)") {
    val out = Seq(("donâ€™t", 1), ("cafÃ©", 2), ("ÃƒÂ©", 3)).toDF("s", "i")
      .select(graft.functions.FixMojibake(col("s")).as("f"), col("i"))
      .orderBy("i").collect().map(_.getString(0)).toSeq
    assert(out == Seq("don’t", "café", "é"))
  }

  // ---------------- D104: main-content extraction ----------------

  test("mainContent drops semantic chrome, link farms, and short blocks; keeps the article") {
    import graft.text.MainContent
    val body = "This is the actual article body with enough words to clear the minimum length."
    val page = "<html><header><h1>Site</h1></header>" +
      "<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a></nav>" +
      "<div id=\"m\">" + body + "</div>" +
      "<div><a href=\"/p1\">Related article one</a> <a href=\"/p2\">Related article two</a></div>" +
      "<p>ok</p>" +
      "<aside>Sidebar promo text that is plenty long but lives in an aside element.</aside>" +
      "<footer>(c) 2026 Example Corp - All rights reserved</footer></html>"
    val out = Seq((1L, page)).toDF("doc_id", "html")
      .select(MainContent.mainContent(col("html")).as("c")).head.getString(0)
    assert(out == body)
  }

  test("mainContent keeps a long block with a small inline link; <= boundary is kept") {
    import graft.text.MainContent
    // inline link is a small fraction of the text -> content
    val page = "<div>A paragraph mentioning <a href=\"/x\">one link</a> inside sixty " +
      "characters of otherwise ordinary running prose text.</div>"
    val out = Seq((1L, page)).toDF("doc_id", "html")
      .select(MainContent.mainContent(col("html")).as("c")).head.getString(0)
    assert(out.contains("A paragraph mentioning one link inside"))
    // exactly at the boundary: link_len*100 == maxLinkPct*text_len -> kept
    // text len 100, link len 33 => 3300 <= 3300
    val link = "x" * 33
    val rest = "y" * 66
    val bPage = s"<div><a href=!>$link</a> $rest</div>" // 33 + 1 + 66 = 100 chars
    val bOut = Seq((1L, bPage)).toDF("doc_id", "html")
      .select(MainContent.mainContent(col("html")).as("c")).head.getString(0)
    assert(bOut.nonEmpty, "boundary block must be kept under <=")
  }

  test("extractMainContent frame form: kept-block count and multi-block join order") {
    import graft.text.MainContent
    val page = "<div>First real paragraph with clearly sufficient length here.</div>" +
      "<div>tiny</div>" +
      "<div>Second real paragraph, also clearly long enough to keep around.</div>"
    val r = MainContent.extractMainContent(
      Seq((7L, page)).toDF("doc_id", "html"), "html", "doc_id").head
    assert(r.getLong(1) == 2L)
    assert(r.getString(2) ==
      "First real paragraph with clearly sufficient length here.\n" +
        "Second real paragraph, also clearly long enough to keep around.")
  }

  test("mainContent plan is map-only (no Exchange)") {
    import graft.text.MainContent
    val df = Seq((1L, "<div>x</div>")).toDF("doc_id", "html")
      .select(MainContent.mainContent(col("html")))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  // ---------------- D103b: n-D Hilbert ----------------

  test("HilbertIndexN at n=3, bits=4: bijection over the 16^3 grid + unit-step adjacency") {
    val pts = for (x <- 0 until 16; y <- 0 until 16; z <- 0 until 16)
      yield (x.toLong, y.toLong, z.toLong)
    val df = pts.toDF("x", "y", "z")
    val got = df.select(col("x"), col("y"), col("z"),
        graft.sources.HilbertIndexN(Seq(col("x"), col("y"), col("z")), 4).as("h"))
      .collect().map(r => (r.getLong(3), (r.getLong(0), r.getLong(1), r.getLong(2))))
    // bijection: every index 0..4095 exactly once
    assert(got.map(_._1).sorted.toSeq == (0L until 4096L))
    // adjacency: consecutive indexes are grid neighbors (the curve never jumps)
    val byH = got.sortBy(_._1).map(_._2).toSeq
    byH.sliding(2).foreach { w =>
      if (w.length == 2) {
        val ((x1, y1, z1), (x2, y2, z2)) = (w(0), w(1))
        assert(math.abs(x1 - x2) + math.abs(y1 - y2) + math.abs(z1 - z2) == 1,
          s"jump at ($x1,$y1,$z1)->($x2,$y2,$z2)")
      }
    }
  }

  test("withHilbertValueN: nulls propagate, wide int ranges don't overflow, guard rails") {
    val df = Seq((Some(0), Some(5L), 1), (Some(1000000000), Some(7L), 2),
      (None, Some(9L), 3), (Some(-2000000000), None, 4))
      .toDF("a", "b", "c")
    val out = graft.sources.Hilbert.withHilbertValueN(df, Seq("a", "b", "c"), bits = 8)
    assert(out.filter(col("h_value").isNull).count() == 2)
    assert(out.filter(col("h_value").isNotNull).count() == 2)
    intercept[IllegalArgumentException] {
      graft.sources.Hilbert.withHilbertValueN(df, Seq("a"), bits = 8)
    }
    intercept[IllegalArgumentException] {
      graft.sources.Hilbert.withHilbertValueN(df, Seq("a", "b", "c"), bits = 22)
    }
  }

  test("codebooksKMeans: means recover planted subspace clusters; iters=0 = sampled seed") {
    // 2 subspaces of 2 dims; subspace 0 has two tight planted clusters
    // around (0,0) and (10,10); subspace 1 likewise around (5,0)/(0,5)
    val rows = (0 until 40).map { i =>
      val e = if (i % 2 == 0) Array(0.1f * (i % 4), 0.1f, 10f, 10.1f)
      else Array(10f, 10.1f, 0.1f * (i % 4), 0.1f)
      (i.toLong, e)
    }
    val df = rows.toDF("vec_id", "embedding")
    val seed = Pq.codebooksBySample(df, "embedding", "vec_id", m = 2, k = 2, dim = 4)
    val zero = Pq.codebooksKMeans(df, "embedding", "vec_id", m = 2, k = 2, dim = 4, iters = 0)
    assert(zero.flatten.flatten.toSeq == seed.flatten.flatten.toSeq)
    val trained = Pq.codebooksKMeans(df, "embedding", "vec_id", m = 2, k = 2, dim = 4, iters = 3)
    // subspace 0 centroids land near the planted (0.x, 0.1) and (10, 10.1)
    val c0 = trained(0).map(_.toSeq).sortBy(_.head)
    assert(c0(0)(0) < 1.0 && c0(1)(0) > 9.0, c0.toSeq.toString)
    // trained codebooks quantize with strictly lower (or equal) total
    // squared error than the sampled seed
    def sqErr(cbs: Array[Array[Array[Double]]]): Double =
      rows.map { case (_, e) =>
        (0 until 2).map { j =>
          cbs(j).map(c => (0 until 2).map(d =>
            math.pow(e(j * 2 + d) - c(d), 2)).sum).min
        }.sum
      }.sum
    assert(sqErr(trained) <= sqErr(seed) + 1e-9)
  }

  test("bankFingerprint is order/shape/value sensitive") {
    val (coarse, cb) = banks
    val f0 = Pq.bankFingerprint(coarse, cb)
    assert(f0 == Pq.bankFingerprint(coarse.map(_.clone), cb.map(_.map(_.clone))))
    assert(f0 != Pq.bankFingerprint(coarse.reverse, cb))
    assert(f0 != Pq.bankFingerprint(coarse.map(_.map(_ + 1e-12)), cb))
  }
}
