package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.quality.Validators
import graft.corrector.Corrector

/** Property-style specs: ScalaCheck generators produce the inputs
  * (fixed seed — deterministic), a single Spark job evaluates the
  * Column expression over all of them, and every output is compared
  * to a plainly re-implemented reference function.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int): Seq[A] = {
    val params = Gen.Parameters.default
    (0 until n).flatMap(i => g.apply(params, Seed(i.toLong)))
  }

  private def tcknRef(v: String): Boolean = {
    if (v.length != 11 || !v.forall(_.isDigit) || v(0) == '0') return false
    val d = v.map(_.asDigit)
    val odd = d(0) + d(2) + d(4) + d(6) + d(8)
    val even = d(1) + d(3) + d(5) + d(7)
    (((7 * odd - even) % 10 + 10) % 10 == d(9)) && (d.take(10).sum % 10 == d(10))
  }

  test("tcknValid equals reference on random digit strings incl. valid constructions") {
    val digits11 = Gen.listOfN(11, Gen.numChar).map(_.mkString)
    // construct strings that satisfy the checksum so the true branch is hit
    val valid = Gen.listOfN(9, Gen.choose(0, 9)).map { ds0 =>
      val ds = if (ds0.head == 0) 1 :: ds0.tail else ds0
      val odd = ds(0) + ds(2) + ds(4) + ds(6) + ds(8)
      val even = ds(1) + ds(3) + ds(5) + ds(7)
      val d10 = ((7 * odd - even) % 10 + 10) % 10
      val d11 = (ds.sum + d10) % 10
      (ds :+ d10 :+ d11).mkString
    }
    val junk = Gen.alphaNumStr.map(_.take(15))
    val inputs = (sample(digits11, 400) ++ sample(valid, 200) ++ sample(junk, 200)).distinct
    val got = inputs.toDF("s")
      .select(col("s"), Validators.tcknValid(col("s")).as("v"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    inputs.foreach(s => assert(got(s) == tcknRef(s), s"tckn '$s'"))
    assert(inputs.count(tcknRef) >= 150) // constructed valids really are valid
  }

  test("taxNumValid equals reference on random 10-digit strings") {
    def taxRef(t: String): Boolean = {
      if (t.length != 10 || !t.forall(_.isDigit)) return false
      val d = t.map(_.asDigit)
      var total = 0
      for (x <- 0 to 8) {
        val t1 = (d(x) + (9 - x)) % 10
        var t2 = (t1 * (1 << (9 - x))) % 9
        if (t1 != 0 && t2 == 0) t2 = 9
        total += t2
      }
      d(9) == (if (total % 10 == 0) 0 else 10 - (total % 10))
    }
    val inputs = sample(Gen.listOfN(10, Gen.numChar).map(_.mkString), 600).distinct
    val got = inputs.toDF("s")
      .select(col("s"), Validators.taxNumValid(col("s")).as("v"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    inputs.foreach(s => assert(got(s) == taxRef(s), s"tax '$s'"))
    assert(inputs.exists(taxRef)) // ~10% of random strings are valid
  }

  test("normalizePhone always yields only digits, at most 10 unless input is short") {
    val messy = Gen.listOfN(14,
      Gen.oneOf(Gen.numChar, Gen.oneOf(' ', '-', '(', ')', '+', '/'))).map(_.mkString)
    val inputs = sample(messy, 500).distinct
    val got = inputs.toDF("p")
      .select(col("p"), Corrector.normalizePhone(col("p")).as("n"))
      .collect().map(r => r.getString(0) -> r.getString(1))
    got.foreach { case (in, out) =>
      val digits = in.filter(_.isDigit)
      val expected = if (digits.length >= 10) digits.takeRight(10) else digits
      assert(out == expected, s"phone '$in'")
    }
  }

  test("stripBoilerplate is idempotent on random line corpora") {
    val linePool = Vector("footer", "subscribe now", "alpha", "beta", "gamma",
      "delta", "content line", "another line")
    val docGen = Gen.chooseNum(1, 5).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(linePool)).map(_.mkString("\n")))
    val docs = sample(docGen, 60).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    def strip(df: org.apache.spark.sql.DataFrame) =
      graft.text.Boilerplate.stripBoilerplate(df, "text", "doc_id", minRepeatDocs = 10)
    val once = strip(docs)
    val onceMap = once.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val twiceMap = strip(once).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(onceMap == twiceMap, "second strip must be a no-op")
    // survivors' lines each appear in <= threshold distinct docs
    val dfs = graft.text.Boilerplate.lineDocFreq(once.filter(length(col("text")) > 0),
      "text", "doc_id").collect().map(r => r.getString(0) -> r.getLong(1))
    dfs.filter(_._1.nonEmpty).foreach { case (l, c) =>
      assert(c <= 10, s"surviving line '$l' repeats in $c docs") }
  }

  test("epochShuffle is a permutation; samplePerStratum respects quotas on random data") {
    val rows = sample(Gen.zip(Gen.chooseNum(1L, 10000L), Gen.oneOf("a", "b", "c")), 300).distinct
    val df = rows.toDF("id", "src")
    val shuffled = graft.pipeline.Pipeline.epochShuffle(df, col("id"), "p1")
      .collect().map(_.getLong(0))
    assert(shuffled.sorted.toSeq == rows.map(_._1).sorted, "must be a permutation")
    val bySrc = rows.groupBy(_._2).view.mapValues(_.size).toMap
    val picked = graft.pipeline.Pipeline.samplePerStratum(df, col("src"), col("id"), 7)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val pickedBySrc = picked.groupBy(_._2).view.mapValues(_.size).toMap
    bySrc.foreach { case (src, n) =>
      assert(pickedBySrc.getOrElse(src, 0) == math.min(7, n), s"quota for $src") }
    assert(picked.toSet.subsetOf(rows.map(t => (t._1, t._2)).toSet))
  }

  test("capped jaccardJoin is a sound subset of exact with identical scores (random corpora)") {
    // vocabulary mixes ubiquitous tokens (over any relative cap) with
    // rare ones, so the cap actually prunes on most draws
    val hot = Gen.oneOf("h1", "h2")
    val cold = Gen.oneOf((1 to 40).map(i => s"c$i"))
    val docGen = for {
      nh <- Gen.chooseNum(1, 2); nc <- Gen.chooseNum(0, 6)
      hs <- Gen.listOfN(nh, hot); cs <- Gen.listOfN(nc, cold)
    } yield (hs ++ cs).distinct.mkString(" ")
    val docs = sample(docGen, 60).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    def run(rel: Double) = graft.dedup.Dedup
      .jaccardJoin(docs, "text", "doc_id", 0.6, relDfCap = rel, allPairsMaxDocs = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = run(Double.NaN)
    val capped = run(0.5)
    // soundness: every capped pair exists in exact WITH THE SAME score
    capped.foreach { case (pair, score) =>
      assert(exact.get(pair).contains(score), s"capped mis-scored $pair") }
    // completeness modulo the documented loss: a pair missing from
    // capped must share ONLY over-cap tokens
    val sets = docs.collect().map(r => r.getLong(0) -> r.getString(1).split(" +").toSet).toMap
    val n = sets.size
    val df_ = sets.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    (exact.keySet -- capped.keySet).foreach { case (a, b) =>
      val shared = sets(a).intersect(sets(b))
      assert(shared.forall(t => df_(t) > n / 2),
        s"pair ($a,$b) lost despite sharing a sub-cap token") }
  }

  test("guard-degraded plans stay sound subsets with identical scores (random corpora)") {
    // same corpus shape as the capped-subset property, but the cap is
    // tightened by CandidateGuard (tiny candidateBudget forces a
    // ladder rung) rather than by the caller — the guard must never
    // mis-score a surviving pair, only lose pairs whose every shared
    // gram/token is above the tightened cap
    val hot = Gen.oneOf("h1", "h2")
    val cold = Gen.oneOf((1 to 40).map(i => s"c$i"))
    val docGen = for {
      nh <- Gen.chooseNum(1, 2); nc <- Gen.chooseNum(0, 6)
      hs <- Gen.listOfN(nh, hot); cs <- Gen.listOfN(nc, cold)
    } yield (hs ++ cs).distinct.mkString(" ")
    val docs = sample(docGen, 60).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val exactJ = graft.dedup.Dedup
      .jaccardJoin(docs, "text", "doc_id", 0.6, relDfCap = Double.NaN, allPairsMaxDocs = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val degradedJ = graft.dedup.Dedup
      .jaccardJoin(docs, "text", "doc_id", 0.6, relDfCap = 1.0, allPairsMaxDocs = 0L,
        candidateBudget = 1000L) // forces a ladder rung (requested ~3.2k rows) without tripping the no-rung-fits failure (rung-16 volume ~730)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    degradedJ.foreach { case (pair, score) =>
      assert(exactJ.get(pair).contains(score), s"guard-degraded jaccard mis-scored $pair") }

    val exactS = graft.similarity.StringSim
      .similarPairs(docs, "text", "doc_id", 0.6, relDfCap = Double.NaN)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val degradedS = graft.similarity.StringSim
      .similarPairs(docs, "text", "doc_id", 0.6, relDfCap = 1.0, candidateBudget = 3000L) // char-3-gram dfs run higher than word dfs: rung-16 volume ~2.2k
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    degradedS.foreach { case (pair, score) =>
      assert(exactS.get(pair).contains(score), s"guard-degraded stringsim mis-scored $pair") }
    // the degrade must have actually engaged on at least one family
    // (otherwise this property tested nothing) — with budget 1000 and
    // hot-token df ~ 30-60, the requested volume always exceeds it
    assert(degradedJ.size <= exactJ.size && degradedS.size <= exactS.size)
  }

  test("jaccardJoin and nearDupMatches equal a brute-force Jaccard reference, capped and uncapped") {
    // hot tokens sit in most documents, past any cap below, and sort
    // before every cold token lexically: a prefix taken in token order
    // instead of (df, token) order starts with tokens the cap drops.
    // Every fifth document gets a near-duplicate (one cold token
    // swapped, or one added), so every threshold has pairs.
    val hot = Seq("a1", "a2", "a3")
    val cold = (1 to 40).map(i => s"w$i")
    val docGen = for {
      nh <- Gen.chooseNum(1, 3); nc <- Gen.chooseNum(1, 6)
      hs <- Gen.pick(nh, hot); cs <- Gen.pick(nc, cold)
    } yield (hs ++ cs).mkString(" ")
    val base = sample(docGen, 70)
    val texts = base ++ base.indices.filter(_ % 5 == 0).map { i =>
      val ws = base(i).split(" ")
      if (i % 10 == 0) (ws :+ "w99").mkString(" ")
      else (ws.init :+ cold((i * 7) % cold.size)).distinct.mkString(" ")
    }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val (store, batch) = docs.partition(_._1 % 3 == 0)
    def rows(d: Seq[(Long, String)]) = d.toDF("doc_id", "text")
    def got(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val D = graft.dedup.Dedup
    val dfCap = 6L
    assert(JaccardRef.selfPairs(docs, 0.3, dfCap) != JaccardRef.selfPairs(docs, 0.3),
      "the absolute cap must bind on this corpus")
    for (t <- Seq(0.3, 0.6, 0.9, 1.0)) {
      // (label, relDfCap, dfCap) -> the cap the reference applies
      val settings = Seq(
        ("uncapped", Double.NaN, Long.MaxValue, (_: Int) => Long.MaxValue),
        ("relDfCap 0.5", 0.5, Long.MaxValue, (n: Int) => n / 2L),
        ("dfCap", Double.NaN, dfCap, (_: Int) => dfCap))
      for ((label, rel, cap, refCap) <- settings) {
        val self = got(D.jaccardJoin(rows(docs), "text", "doc_id", t, dfCap = cap,
          relDfCap = rel, allPairsMaxDocs = 0L, candidateBudget = Long.MaxValue))
        assert(self == JaccardRef.selfPairs(docs, t, refCap(docs.size)), s"self-join, $label, t $t")
        val near = got(D.nearDupMatches(rows(batch), rows(store), "text", "doc_id", t,
          dfCap = cap, relDfCap = rel, allPairsMaxDocs = 0L, candidateBudget = Long.MaxValue))
        assert(near == JaccardRef.storePairs(batch, store, t, refCap(store.size)),
          s"store join, $label, t $t")
      }
      // a budget only the rungs at or below 16 fit: compare the
      // reference at the cap the guard recorded
      val cg = graft.similarity.CandidateGuard
      def guarded(opName: String)(join: => org.apache.spark.sql.DataFrame) = {
        cg.clearEvents()
        val out = got(join)
        val ev = cg.drainEvents().filter(_.opName == opName)
        assert(ev.size == 1 && ev.head.degradedCap.isDefined, s"$opName at t $t: $ev")
        (out, ev.head.degradedCap.get)
      }
      val (sdf, bdf, stdf) = (JaccardRef.df(docs), JaccardRef.df(batch), JaccardRef.df(store))
      val (selfG, selfCap) = guarded("Dedup.jaccardJoin")(D.jaccardJoin(rows(docs), "text",
        "doc_id", t, relDfCap = 1.0, allPairsMaxDocs = 0L,
        candidateBudget = sdf.values.filter(_ <= 16).map(d => d * d).sum))
      assert(selfG == JaccardRef.selfPairs(docs, t, math.min(selfCap, docs.size)),
        s"guarded self-join, t $t")
      val (nearG, nearCap) = guarded("Dedup.nearDupMatches")(D.nearDupMatches(rows(batch),
        rows(store), "text", "doc_id", t, relDfCap = 1.0, allPairsMaxDocs = 0L,
        candidateBudget = stdf.collect { case (k, d) if d <= 16 => d * bdf.getOrElse(k, 0L) }.sum))
      assert(nearG == JaccardRef.storePairs(batch, store, t, math.min(nearCap, store.size)),
        s"guarded store join, t $t")
    }
    CacheScope.clear()
  }

  test("similarPairs equals a brute-force all-pairs tf-idf reference, capped and uncapped") {
    // hot words sit in most strings, so their grams' df runs past the
    // relative cap floor(0.5·N); strings made only of hot words have
    // prefixes that run into those grams. Hot grams also sort before
    // the cold ones lexically, so a prefix taken in gram order instead
    // of df order starts with grams the cap then drops. Every fifth
    // string gets a near-duplicate so every threshold has pairs; 1.0
    // gives the shortest prefixes.
    val word = Gen.chooseNum(4, 7).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf("kmnorstu".toSeq)).map(_.mkString))
    val cold = sample(word, 12).distinct
    val docGen = for {
      nh <- Gen.chooseNum(1, 4); nc <- Gen.chooseNum(0, 2)
      hs <- Gen.listOfN(nh, Gen.oneOf("abad", "ebal"))
      cs <- Gen.listOfN(nc, Gen.oneOf(cold))
    } yield (hs ++ cs).mkString(" ")
    val texts = sample(docGen, 80)
    val docs = (texts ++ texts.grouped(5).map(_.head + "x")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val ref = TfIdfRef.pairs(docs)
    val cap = docs.size / 2
    val df = docs.toDF("id", "s")
    def got(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val dropped = Seq(0.3, 0.6, 0.9, 1.0).map { t =>
      val exact = ref.collect { case (k, (c, _)) if TfIdfRef.round4(c) >= t => k -> TfIdfRef.round4(c) }
      val capped = exact.filter { case (k, _) => ref(k)._2 <= cap }
      assert(exact.nonEmpty, s"no pairs at $t")
      assert(got(graft.similarity.StringSim.similarPairs(df, "s", "id", t,
        relDfCap = Double.NaN)) == exact, s"uncapped at $t")
      assert(got(graft.similarity.StringSim.similarPairs(df, "s", "id", t,
        candidateBudget = Long.MaxValue)) == capped, s"capped at $t")
      exact.size - capped.size
    }
    assert(dropped.sum > 0, "the cap dropped no pair: the capped case tested nothing")
    CacheScope.clear()
  }

  test("crossEntropy is positive and PSI is zero against self on random corpora") {
    val wordGen = Gen.oneOf("w1", "w2", "w3", "w4", "w5", "w6")
    val docGen = Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    val docs = sample(docGen, 80).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val lm = graft.text.TokenStats.unigramCounts(docs, "text", "doc_id")
    val scores = graft.text.TokenStats.crossEntropy(docs, "text", "doc_id", lm)
      .collect().map(_.getDouble(2))
    assert(scores.nonEmpty && scores.forall(_ > 0.0), "-ln p > 0 for p < 1")
    val psi = graft.profile.Drift.categoricalPsi(docs, docs, Seq("text"))
      .collect().map(_.getDouble(2))
    assert(psi.forall(_ == 0.0))
  }

  test("span/winnow invariants on random corpora: counts, containment, guarantee") {
    val gen = Gen.listOfN(30, Gen.chooseNum(3, 20).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd", "ee")).map(_.mkString(" "))))
    val texts = gen(Gen.Parameters.default, Seed(4242L)).get
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val spans = graft.dedup.Spans.spanHashes(docs, "text", "doc_id", spanLen = 4)
    // span count per doc == max(n_tokens - 3, 0 when < 4)
    val expect = texts.zipWithIndex.map { case (t, i) =>
      val n = t.split(" ").length
      i.toLong -> (if (n >= 4) (n - 3).toLong else 0L)
    }.filter(_._2 > 0).toMap
    val got = spans.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    // stats conserve the span multiset: sum(span_count) == total spans
    val stats = graft.dedup.Spans.duplicatedSpanStats(docs, "text", "doc_id", 4)
    assert(stats.agg(sum("span_count")).collect()(0).getLong(0) == spans.count())
    assert(stats.collect().forall { r =>
      r.getLong(2) >= 0 && r.getLong(2) <= r.getLong(1)
    })
    // winnow fingerprints are a subset of the doc's span hashes
    val fps = graft.dedup.Spans.winnowFingerprints(docs, "text", "doc_id", k = 4,
      window = 3)
    val bad = fps.as("f").join(spans.as("s"),
      col("f.doc_id") === col("s.doc_id") &&
        col("f.fingerprint") === col("s.span_hash"), "left_anti")
    assert(bad.count() == 0, "every fingerprint must be one of the doc's span hashes")
  }

  test("DSIR self-target degenerates to smoothing-only weights; resample is a subset") {
    // target == raw -> tcnt == rcnt per bucket and T == R, so
    // λ_b = ln((c+1)/(T+B)) − ln((c+1)/(T+B)) = 0 for every bucket:
    // all documents get lr_micro == 0 and selection is pure Gumbel
    val docs = (1L to 30L).map(i => (i, s"t$i u$i v${i % 5}")).toDF("doc_id", "text")
    val w = graft.pipeline.Dsir.importanceWeights(docs, docs, "text", "doc_id",
      buckets = 1000)
    assert(w.collect().forall(_.getAs[Long]("lr_micro") == 0L))
    val sel = graft.pipeline.Dsir.resampleTopK(w, "doc_id", k = 7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sel.size == 7 && sel.subsetOf((1L to 30L).toSet))
  }

  // ---- r11 third/fourth-wave properties

  test("canonicalUrl is idempotent and equals a reference on generated URLs") {
    val gen = for {
      scheme <- Gen.oneOf("http", "HTTP", "https", "HTTPS")
      host <- Gen.oneOf("Example.COM", "www.Site.org", "A.b.C.net")
      port <- Gen.oneOf("", ":80", ":443", ":8080")
      path <- Gen.oneOf("", "/", "/Path/Item", "/x/")
      query <- Gen.oneOf("", "?id=1", "?utm_source=a", "?utm_a=1&id=2",
        "?id=2&gclid=z", "?utm_a=1&utm_b=2", "?utm_a=1&utm_b=2&id=3")
      frag <- Gen.oneOf("", "#f", "#Sec-2")
    } yield s"$scheme://$host$port$path$query$frag"
    val inputs = sample(gen, 600).distinct
    val once = inputs.toDF("u")
      .select(col("u"), graft.text.Urls.canonicalUrl(col("u")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val twice = once.values.toSeq.distinct.toDF("u")
      .select(col("u"), graft.text.Urls.canonicalUrl(col("u")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    once.values.foreach(c => assert(twice(c) == c, s"not idempotent: $c"))
    // canonical invariants: lowercase scheme/host, no default port, no
    // fragment, no tracking params, no dangling separators
    once.values.foreach { c =>
      val scheme = c.takeWhile(_ != ':')
      assert(scheme == scheme.toLowerCase)
      assert(!c.contains("#") && !c.contains("utm_") && !c.contains("gclid"))
      // only the SCHEME'S OWN default strips (:443 on http is a real,
      // non-default port and must survive — the generator found this)
      assert(!c.matches("^http://[^/?#]*:80([/?].*|$)"), s"http :80 kept: $c")
      assert(!c.matches("^https://[^/?#]*:443([/?].*|$)"), s"https :443 kept: $c")
      assert(!c.endsWith("?") && !c.endsWith("&"), s"dangling separator: $c")
    }
  }

  test("zorder interleave is a bijection: de-interleaving recovers the buckets") {
    import graft.sources.Zorder
    val gen = for {
      a <- Gen.choose(0L, 255L); b <- Gen.choose(0L, 255L)
    } yield (a, b)
    val pts = sample(gen, 400).distinct
    val got = pts.toDF("a", "b")
      .select(col("a"), col("b"), Zorder.interleave(col("a"), col("b"), 8).as("z"))
      .collect()
    got.foreach { r =>
      val (a, b, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val da = (0 until 8).map(i => ((z >> (2 * i)) & 1L) << i).sum
      val db = (0 until 8).map(i => ((z >> (2 * i + 1)) & 1L) << i).sum
      assert(da == a && db == b, s"($a,$b) -> $z -> ($da,$db)")
    }
  }

  test("pseudonymize is injective-in-practice and stable on generated values") {
    val inputs = sample(Gen.alphaNumStr.suchThat(_.nonEmpty), 500).distinct
    val toks = inputs.toDF("v")
      .select(col("v"), Corrector.pseudonymize(col("v"), "prop-salt").as("t"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(toks.values.toSet.size == toks.size, "64-bit token collision at n=500")
    val again = inputs.toDF("v")
      .select(col("v"), Corrector.pseudonymize(col("v"), "prop-salt").as("t"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(again == toks)
  }

  test("rangeJoin equals the naive inequality join on generated intervals") {
    val ivGen = for {
      s <- Gen.choose(0L, 1000L); len <- Gen.choose(0L, 120L)
    } yield (s, s + len)
    val ivs = sample(ivGen, 60).distinct.zipWithIndex
      .map { case ((s, e), i) => (i.toLong, s, e) }
    val points = (0L to 1100L by 3L).toDF("p").withColumn("pid", col("p"))
    val ivDf = ivs.toDF("iv", "s", "e")
    val got = graft.operators.RangeJoin
      .pointInInterval(points, "p", ivDf, "s", "e", 64L)
      .select("pid", "iv").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      (i, s, e) <- ivs; p <- 0L to 1100L by 3L if p >= s && p <= e
    } yield (p, i)).toSet
    assert(got == want)
  }

  test("localizedNumber eu/us agree with a reference parser on generated inputs") {
    val euGen = for {
      neg <- Gen.oneOf("", "-")
      groups <- Gen.choose(1, 3)
      head <- Gen.choose(1, 999)
      tail <- Gen.listOfN(groups - 1, Gen.choose(0, 999))
      dec <- Gen.oneOf(None, Some(Gen.choose(0, 99).sample.getOrElse(5)))
      pct <- Gen.oneOf("", "%")
    } yield neg + (head.toString +: tail.map(t => f"$t%03d")).mkString(".") +
      dec.map(d => s",$d").getOrElse("") + pct
    val inputs = sample(euGen, 400).distinct
    def ref(s: String): Option[BigDecimal] = {
      val isPct = s.endsWith("%")
      val t = s.stripSuffix("%").replace(".", "").replace(",", ".")
      val v = BigDecimal(t)
      Some(if (isPct) v * BigDecimal("0.01") else v)
    }
    val got = inputs.toDF("v")
      .select(col("v"),
        (Corrector.localizedNumber(col("v")) * 1000000).cast("long").as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    inputs.foreach { s =>
      val want = (ref(s).get * 1000000).toLong
      assert(got(s) == want, s"'$s': got ${got(s)} want $want")
    }
  }

  // ---- r12 wave properties ------------------------------------------------

  test("snapshotDiff equals a brute-force reference on random keyed tables") {
    val rowGen = for {
      k <- Gen.choose(0L, 40L)
      s <- Gen.option(Gen.oneOf("a", "b", "c"))
      v <- Gen.option(Gen.choose(0, 5).map(_.toDouble))
    } yield (k, s, v)
    for (seedBase <- Seq(0, 1000, 2000)) {
      val before = sample(rowGen, 60).zipWithIndex
        .map { case ((k, s, v), i) => (k, s, v) }.distinctBy(_._1)
      val after = (0 until 60).flatMap(i =>
        rowGen.apply(Gen.Parameters.default, Seed((seedBase + i + 500).toLong)))
        .distinctBy(_._1)
      val got = graft.operators.Merge.snapshotDiff(
          before.toDF("k", "s", "v"), after.toDF("k", "s", "v"), Seq("k"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val bm = before.map(r => r._1 -> (r._2, r._3)).toMap
      val am = after.map(r => r._1 -> (r._2, r._3)).toMap
      val boths = bm.keySet intersect am.keySet
      assert(got("rows_added") == (am.keySet -- bm.keySet).size)
      assert(got("rows_removed") == (bm.keySet -- am.keySet).size)
      assert(got("rows_changed") == boths.count(k => bm(k) != am(k)))
      assert(got("rows_unchanged") == boths.count(k => bm(k) == am(k)))
      assert(got("changed_s") == boths.count(k => bm(k)._1 != am(k)._1))
      assert(got("changed_v") == boths.count(k => bm(k)._2 != am(k)._2))
    }
  }

  private def bpeRef(words: Seq[(String, Long)],
                     n: Int): Seq[(String, String, Long)] = {
    var cur = words.map { case (w, c) => (w.map(_.toString).toVector, c) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var k = 0
    while (k < n) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      cur.foreach { case (v, c) =>
        v.iterator.zip(v.iterator.drop(1)).foreach(p => pc(p) += c)
      }
      if (pc.isEmpty) k = n
      else {
        val ((l, r), c) = pc.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        out += ((l, r, c))
        cur = cur.map { case (v, cnt) =>
          val acc = scala.collection.mutable.ArrayBuffer.empty[String]
          v.foreach { s =>
            if (acc.nonEmpty && acc.last == l && s == r)
              acc(acc.size - 1) = l + r
            else acc += s
          }
          (acc.toVector, cnt)
        }
        k += 1
      }
    }
    out.toSeq
  }

  test("learnMerges equals the reference BPE on random corpora") {
    val wordGen = Gen.listOfN(4, Gen.oneOf("a", "b", "c", "d")).map(_.mkString)
    for (seed <- Seq(7, 17, 27)) {
      val words = (0 until 120).flatMap(i =>
        wordGen.apply(Gen.Parameters.default, Seed((seed * 1000 + i).toLong)))
      val text = words.mkString(" ")
      val got = graft.text.Bpe.learnMerges(Seq(text).toDF("text"), "text", 5)
        .collect().map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
      val want = bpeRef(
        words.groupBy(identity).view.mapValues(_.size.toLong).toSeq, 5)
      assert(got == want, s"seed $seed: $got != $want")
    }
  }

  test("thetaSourceAlgebra exact regime equals Scala set arithmetic on random assignments") {
    val rowGen = for {
      src <- Gen.oneOf("s1", "s2", "s3")
      txt <- Gen.choose(0, 80).map(i => s"doc number $i")
    } yield (src, txt)
    val rows = sample(rowGen, 300)
    val got = graft.dedup.Sketch.thetaSourceAlgebra(
        rows.toDF("source", "text"), "text", "source", lgK = 12)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val sets = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for {
      a <- sets.keys; b <- sets.keys if a < b
    } {
      val (sa, sb) = (sets(a), sets(b))
      assert(got((a, b)) == ((sa.size.toLong, sb.size.toLong,
        (sa ++ sb).size.toLong, (sa intersect sb).size.toLong)),
        s"pair ($a,$b)")
    }
    assert(got(("__all__", "__all__"))._3 == sets.values.reduce(_ ++ _).size.toLong)
  }

  test("weightedSampleTopK equals an independent md5/ln re-implementation") {
    def keyRef(id: Long, w: Double): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"wsample:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val u = (java.lang.Long.parseLong(hex, 16).toDouble + 0.5) / 4294967296.0
      math.round(math.log(w) * 1e6) + math.round(-math.log(-math.log(u)) * 1e6)
    }
    val rows = (1L to 150L).map(i => (i, (i % 9 + 1).toDouble))
    val got = graft.pipeline.Pipeline.weightedSampleTopK(
        rows.toDF("id", "w"), "id", "w", 25)
      .select("id", "sample_key").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    val want = rows.map { case (i, w) => (i, keyRef(i, w)) }
      .sortBy { case (i, k) => (-k, i) }.take(25).sortBy(_._1)
    assert(got == want)
  }

  test("batched BPE ≡ sequential on random corpora (full merge tables, all batch sizes)") {
    // r13: the learnMergesBatched soundness rule (disjoint contiguous
    // prefix + strict-count cut) pinned property-style — random
    // small-alphabet corpora MAXIMIZE pair-count ties and symbol
    // collisions, exactly the regimes where an unsound batch rule
    // would diverge from sequential induction
    val word = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val corpus = Gen.choose(5, 30).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    for ((text, i) <- sample(corpus, 12).zipWithIndex) {
      val df = Seq(text).toDF("text")
      val seqM = graft.text.Bpe.learnMerges(df, "text", 10).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4))).toSeq
      for (bs <- Seq(2, 5, 16)) {
        val batM = graft.text.Bpe.learnMergesBatched(df, "text", 10, batchSize = bs)
          .collect()
          .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4))).toSeq
        assert(batM == seqM,
          s"corpus#$i bs=$bs diverged on '${text.take(40)}':\n$batM\n!=\n$seqM")
      }
    }
  }
}
