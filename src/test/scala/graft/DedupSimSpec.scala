package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.similarity.StringSim

class DedupSimSpec extends SparkSpec {
  import spark.implicits._

  /** Small corpus with engineered near-dups; vocabulary > 64 words so
    * the general (non-bitmap) verification path is exercised too.
    */
  private lazy val corpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 120).map(i => s"w$i")
    val base = (0L until 40L).map { i =>
      i -> Seq.fill(12)(vocab(rnd.nextInt(vocab.size))).distinct.mkString(" ")
    }
    // near-dups: shuffled copies of docs 0..4 with ids 100..104
    val dups = (0L until 5L).map { i =>
      (100L + i) -> rnd.shuffle(base(i.toInt)._2.split(" ").toSeq).mkString(" ")
    }
    base ++ dups
  }

  private def bruteJaccard(t: Double): Set[(Long, Long, Double)] = {
    val sets = corpus.map { case (id, s) => id -> s.split(" +").toSet }
    (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      jr = BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if jr >= t
    } yield (ia, ib, jr)).toSet
  }

  test("minhashPairs (general path) finds exactly the brute-force pairs at high threshold") {
    val df = corpus.toDF("doc_id", "text")
    val got = Dedup.minhashPairs(df, "text", "doc_id", 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == bruteJaccard(0.9))
    assert(got.size >= 5) // the engineered dups must be found
  }

  test("minhashPairs (bitmap path, vocab<=64) matches brute force") {
    val vocab = (0 until 40).map(i => s"v$i")
    val rnd = new scala.util.Random(3)
    val docs = (0L until 30L).map { i =>
      i -> Seq.fill(10)(vocab(rnd.nextInt(vocab.size))).distinct.mkString(" ")
    }
    val withDups = docs ++ docs.take(3).map { case (id, s) => (id + 500) -> s }
    val df = withDups.toDF("doc_id", "text")
    val sets = withDups.map { case (id, s) => id -> s.split(" +").toSet }
    val brute = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble >= 0.95
    } yield (ia, ib)).toSet
    val got = Dedup.minhashPairs(df, "text", "doc_id", 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute && got.size >= 3)
    // same corpus through the LSH-candidate + bitmap-verify plan
    // (all-pairs cutoff forced to 0): identical result set
    val gotLsh = Dedup.minhashPairs(df, "text", "doc_id", 0.95, allPairsMaxSets = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotLsh == brute)
  }

  test("minhashPairs LSH path matches brute force on a 500-doc random corpus") {
    // big enough that a banding bug (wrong slice offsets, hash reuse
    // across bands) shows up as missing/extra pairs; 32x4 banding has
    // miss probability ~1e-15 at J >= 0.9, so equality is expected
    val rnd = new scala.util.Random(23)
    val vocab = (0 until 200).map(i => s"u$i")
    val base = (0L until 450L).map { i =>
      i -> Seq.fill(25)(vocab(rnd.nextInt(vocab.size))).distinct.mkString(" ")
    }
    val dups = (0L until 50L).map { i =>
      // near-dup: drop one word from doc i and shuffle
      val words = rnd.shuffle(base(i.toInt)._2.split(" ").toSeq)
      (1000L + i) -> words.drop(1).mkString(" ")
    }
    val corpus = base ++ dups
    val sets = corpus.map { case (id, s) => id -> s.split(" +").toSet }
    val brute = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble >= 0.9
    } yield (ia, ib)).toSet
    val got = Dedup.minhashPairs(corpus.toDF("doc_id", "text"), "text", "doc_id", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.size >= 40, s"corpus must contain engineered near-dups, got ${brute.size}")
    assert(got == brute)
  }

  test("shingleN=2 is word-order sensitive where word sets are not") {
    val df = Seq(
      (1L, "the quick brown fox jumps high"),
      (2L, "the quick brown fox jumps high"),   // identical
      (3L, "high jumps fox brown quick the"))   // same words, reversed
      .toDF("doc_id", "text")
    val set1 = Dedup.minhashPairs(df, "text", "doc_id", 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(set1 == Set((1L, 2L), (1L, 3L), (2L, 3L))) // word sets all equal
    val set2 = Dedup.minhashPairs(df, "text", "doc_id", 0.9, shingleN = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(set2 == Set((1L, 2L))) // reversal shares no 2-shingle
  }

  test("shingleN=2 minhash equals brute-force shingle jaccard") {
    // order-preserving copies guarantee true shingle-level pairs
    val withCopies = corpus ++ (0 until 5).map(i => (300L + i) -> corpus(i)._2)
    val df = withCopies.toDF("doc_id", "text")
    def shingles(s: String): Set[String] =
      s.split(" +").toSeq.sliding(2).map(_.mkString(" ")).toSet
    val brute = (for {
      (ia, sa0) <- withCopies; (ib, sb0) <- withCopies if ia < ib
      sa = shingles(sa0); sb = shingles(sb0)
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble >= 0.8
    } yield (ia, ib)).toSet
    val got = Dedup.minhashPairs(df, "text", "doc_id", 0.8, shingleN = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.size >= 5 && got == brute)
  }

  test("dedupAgainstStore drops exactly the already-fingerprinted content") {
    val store = Dedup.fingerprints(
      Seq((10L, "seen before"), (11L, "also seen")).toDF("id", "text"), "text")
    val batch = Seq((1L, "seen before"), (2L, "brand new"), (3L, "also seen"),
      (4L, "brand new")).toDF("id", "text")
    val kept = Dedup.dedupAgainstStore(batch, "text", store, "fingerprint")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L)) // in-batch dups survive; store handles only history
  }

  test("exactDedup keeps one row per content, min id wins") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("id", "text")
    val kept = Dedup.exactDedup(df, "text", "id").select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
    val stats = Dedup.exactDedupStats(df, "text").collect()(0)
    assert(stats.getAs[Long]("total_docs") == 3 && stats.getAs[Long]("distinct_docs") == 2)
  }

  test("simhashPairs finds identical docs and respects hamming bound") {
    val df = corpus.toDF("doc_id", "text")
    val got = Dedup.simhashPairs(df, "text", "doc_id", 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // shuffled word-set-identical docs have identical simhash (hamming 0)
    (0L until 5L).foreach { i => assert(got.contains((i, 100L + i)), s"pair $i") }
  }

  test("simhashPairs output is invariant to the chunks dial (generalized pigeonhole)") {
    val df = corpus.toDF("doc_id", "text")
    def pairs(chunks: Int) =
      Dedup.simhashPairs(df, "text", "doc_id", 3, chunks).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val base = pairs(4) // minimal banding: 4 keys/doc, 2^15 buckets
    // wider bucket spaces (5 -> C(5,2)=10 keys over 2^24; 6 ->
    // C(6,3)=20 keys over 2^30) must find the SAME verified pair set
    assert(base == pairs(5))
    assert(base == pairs(6))
    // sanity: the engineered shuffled dups are in the set at hamming 0
    (0L until 5L).foreach(i => assert(base.contains((i, 100L + i, 0))))
    assertThrows[IllegalArgumentException](Dedup.simhashPairs(df, "text", "doc_id", 3, 3))
  }

  test("jaccardJoin equals brute force at threshold") {
    val df = corpus.toDF("doc_id", "text")
    val got = Dedup.jaccardJoin(df, "text", "doc_id", 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == bruteJaccard(0.5))
  }

  test("jaccardJoin dfCap drops stop tokens but keeps qualifying pairs sharing rare tokens") {
    val df = Seq((1L, "stop a b c"), (2L, "stop a b c"), (3L, "stop x y z"))
      .toDF("doc_id", "text")
    // 'stop' appears in all 3 docs; cap=2 removes it from the index,
    // pair (1,2) still shares a/b/c (allPairsMaxDocs=0 forces the
    // capped inverted-index plan; the small vocab would otherwise
    // route to bitmap all-pairs)
    // relDfCap = NaN isolates the ABSOLUTE cap (the default relative
    // cap floor(0.5*3)=1 would otherwise also drop a/b/c at df=2)
    val got = Dedup.jaccardJoin(df, "text", "doc_id", 0.9, dfCap = 2,
      relDfCap = Double.NaN, allPairsMaxDocs = 0L).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("jaccardJoin relDfCap resolves the cap in-plan as a fraction of N") {
    val df = Seq((1L, "stop a b c"), (2L, "stop a b c"), (3L, "stop x y z"))
      .toDF("doc_id", "text")
    // relDfCap 0.9 of N=3 => cap floor(2.7)=2: same pruning as the
    // absolute dfCap=2 test, but N comes from a broadcast-scalar
    // cross join, never a driver-side count action
    val got = Dedup.jaccardJoin(df, "text", "doc_id", 0.9, relDfCap = 0.9,
      allPairsMaxDocs = 0L).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(got.head.getDouble(2) == 1.0, "score counts the capped token (full-set jaccard)")
  }

  test("jaccardJoin DEFAULT is capped: over-cap tokens generate no candidates; NaN opts into exact") {
    // 'stop' is in ALL 6 docs (df = N > 0.5N, over the default
    // relDfCap); docs 1 and 2 share ONLY 'stop'. The default plan
    // must drop 'stop' from candidate generation, so the (1,2) pair
    // — jaccard 1.0, well above threshold — is never formed. Exact
    // recall is the explicit opt-in (relDfCap = NaN). Pair (3,4)
    // shares rare tokens and must survive both plans with the SAME
    // exact score. allPairsMaxDocs = 0 pins the inverted-index plan
    // (the tiny vocab would otherwise route to bitmap all-pairs,
    // where caps are documented as ignored).
    val df = Seq(
      (1L, "stop"), (2L, "stop"),
      (3L, "stop a b c"), (4L, "stop a b c"),
      (5L, "stop p q r"), (6L, "stop u v w"))
      .toDF("doc_id", "text")
    def pairs(rel: Double) =
      Dedup.jaccardJoin(df, "text", "doc_id", 0.9, relDfCap = rel,
        allPairsMaxDocs = 0L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = Dedup.jaccardJoin(df, "text", "doc_id", 0.9,
      allPairsMaxDocs = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped == Set((3L, 4L, 1.0)), "default drops the stop-token-only pair")
    assert(capped == pairs(0.5), "default equals explicit relDfCap=0.5")
    assert(pairs(Double.NaN) == Set((1L, 2L, 1.0), (3L, 4L, 1.0)),
      "relDfCap=NaN opts into exact recall")
  }

  test("nearDupMatches DEFAULT is capped against the store; NaN opts into exact") {
    // 'stop' is in all 4 store docs; batch doc 1 shares ONLY 'stop'
    // with store doc 10 (jaccard 1.0). Default must not surface it;
    // batch doc 2 shares rare tokens with store doc 11 and survives.
    val store = Seq((10L, "stop"), (11L, "stop a b c"),
      (12L, "stop p q r"), (13L, "stop u v w")).toDF("doc_id", "text")
    val batch = Seq((1L, "stop"), (2L, "stop a b c")).toDF("doc_id", "text")
    def run(rel: Double) =
      Dedup.nearDupMatches(batch, store, "text", "doc_id", 0.9,
        relDfCap = rel, allPairsMaxDocs = 0L).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.nearDupMatches(batch, store, "text", "doc_id", 0.9,
      allPairsMaxDocs = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((2L, 11L)), "default drops the stop-token-only match")
    assert(capped == run(0.5))
    assert(run(Double.NaN) == Set((1L, 10L), (2L, 11L)))
  }

  test("minhashMatchesAgainstStore equals exact bipartite jaccard; clusters expand") {
    // r13 (q_d34b): the banded batch-vs-store path must reproduce the
    // EXACT uncapped nearDupMatches result at a high threshold
    // (banding can only miss; 64x2 at J>=0.7 effectively can't), and
    // identical-content clusters on BOTH sides must expand to the
    // full member cross product
    val store0 = corpus.take(20).map { case (id, s) => (1000L + id, s) }
    val store = (store0 :+ (2000L -> store0.head._2)).toDF("doc_id", "text")
    val batch = corpus.toDF("doc_id", "text")
    val got = Dedup.minhashMatchesAgainstStore(batch, store, "text", "doc_id",
      0.7, bands = 64, rowsPerBand = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = Dedup.nearDupMatches(batch, store, "text", "doc_id", 0.7,
      relDfCap = Double.NaN, allPairsMaxDocs = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"banded != exact:\nextra=${got -- want}\nmissing=${want -- got}")
    // the duplicated store doc (2000) must mirror every match of its
    // cluster representative (1000)
    val m1000 = got.collect { case (b, 1000L, j) => (b, j) }
    val m2000 = got.collect { case (b, 2000L, j) => (b, j) }
    assert(m1000.nonEmpty && m1000.toSet == m2000.toSet)
    // keep-set variant: anti join of the matched batch ids
    val kept = Dedup.dedupNearAgainstStoreBanded(batch, store, "text",
      "doc_id", 0.7, bands = 64, rowsPerBand = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == corpus.map(_._1).toSet -- got.map(_._1))
  }

  test("minhashIndex round-trips through parquet (the materialized-store contract)") {
    val store = corpus.take(10).toDF("doc_id", "text")
    val batch = corpus.toDF("doc_id", "text")
    val dir = "/tmp/graft_test/minhash_store_idx"
    Dedup.minhashIndex(store, "text", "doc_id", bands = 64, rowsPerBand = 2)
      .write.mode("overwrite").parquet(dir)
    val live = Dedup.minhashMatchesAgainstStore(batch, store, "text", "doc_id",
      0.7, bands = 64, rowsPerBand = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fromDisk = Dedup.minhashMatchesIndexed(
      Dedup.minhashIndex(batch, "text", "doc_id", bands = 64, rowsPerBand = 2),
      spark.read.parquet(dir), 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromDisk == live && live.nonEmpty)
  }

  test("nearDupMatches guard degrade: event pins the rung, result equals the manual cap") {
    // The q_d34 gate contract (r11 verdict #6): the guarded
    // PRODUCTION plan is graded, so its ladder decision must be (a)
    // observable (GuardEvent) and (b) bit-equal to the explicit
    // manually-capped plan the oracle mirrors. Corpus: >64-token
    // vocabulary (defeats the bitmap branch), two hot tokens in >16
    // store docs each whose batchDf·storeDf volume blows a 500-row
    // budget, rare tokens that fit any rung → the guard must land on
    // the 16 rung. A jaccard-1.0 pair sharing ONLY hot tokens is the
    // recall trade: dropped when degraded, found uncapped.
    val store = ((0 until 80).map(i => (1000L + i, s"m${i / 20} s$i")) :+
      (1080L, "m0 m1")).toDF("doc_id", "text")
    val batch = ((0 until 40).map(i => (i.toLong, s"m${i % 4} s$i")) :+
      (40L, "m0 m1")).toDF("doc_id", "text")
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    graft.similarity.CandidateGuard.clearEvents()
    val guarded = collect(Dedup.nearDupMatches(batch, store, "text", "doc_id",
      0.9, candidateBudget = 500L))
    val ev = graft.similarity.CandidateGuard.lastEvent
    assert(ev.exists(_.degradedCap.contains(16L)), s"expected rung 16, got $ev")
    val manual = collect(Dedup.nearDupMatches(batch, store, "text", "doc_id",
      0.9, dfCap = 16L, relDfCap = Double.NaN, candidateBudget = Long.MaxValue))
    assert(guarded == manual, "degraded plan == explicit dfCap=16 plan")
    assert(guarded.contains((0L, 1000L, 1.0)) && guarded.contains((21L, 1021L, 1.0)),
      "rare-token pairs survive the degrade with exact scores")
    assert(!guarded.exists(p => p._1 == 40L),
      "the hot-token-only pair is the documented recall trade")
    val uncapped = collect(Dedup.nearDupMatches(batch, store, "text", "doc_id",
      0.9, relDfCap = Double.NaN, candidateBudget = Long.MaxValue))
    assert(uncapped.contains((40L, 1080L, 1.0)), "uncapped recall includes it")
    assert(guarded.subsetOf(uncapped), "degrade only ever LOSES pairs")
  }

  test("jaccardJoin bitmap all-pairs plan (vocab<=64) equals brute force") {
    val vocab = (0 until 20).map(i => s"t$i")
    val rnd = new scala.util.Random(11)
    val docs = (0L until 25L).map { i =>
      i -> Seq.fill(8)(vocab(rnd.nextInt(vocab.size))).distinct.mkString(" ")
    }
    val df = docs.toDF("doc_id", "text")
    val sets = docs.map { case (id, s) => id -> s.split(" +").toSet }
    val brute = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      jr = BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if jr >= 0.5
    } yield (ia, ib, jr)).toSet
    val got = Dedup.jaccardJoin(df, "text", "doc_id", 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == brute)
  }

  test("decontaminate drops docs sharing an n-gram shingle with the benchmark") {
    val bench = Seq((100L, "the quick brown fox jumps over the dog")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "something with the quick brown fox inside it"), // shares 3-gram "the quick brown"
      (2L, "entirely different words here now"),
      (3L, "quick brown fox jumps appears again")) // shares "quick brown fox"
      .toDF("doc_id", "text")
    val bad = Dedup.contaminatedIds(docs, "text", "doc_id", bench, "text", n = 3)
      .collect().map(_.getLong(0)).toSet
    assert(bad == Set(1L, 3L))
    val kept = Dedup.decontaminate(docs, "text", "doc_id", bench, "text", n = 3)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L))
  }

  test("connectedComponents: chains, triangles, isolated pairs; log-depth convergence") {
    // component {1..6} as a pure CHAIN (worst case for plain
    // propagation — pointer jumping must still converge within
    // maxIters), a triangle {10,11,12}, and an isolated pair {20,21}
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("id_a", "id_b")
    // BOTH plans must agree: the driver union-find (small-graph
    // short-circuit) and the distributed propagation loop (forced by
    // smallGraphMaxEdges = 0)
    for (cap <- Seq(500000L, 0L)) {
      val got = graft.dedup.Components
        .connectedComponents(pairs, "id_a", "id_b", smallGraphMaxEdges = cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((1L to 6L).forall(got(_) == 1L), s"chain(cap=$cap): $got")
      assert(Seq(10L, 11L, 12L).forall(got(_) == 10L))
      assert(got(20L) == 20L && got(21L) == 20L)
      assert(got.size == 11)
    }
  }

  test("connectedComponents paths agree on random, chain and clique graphs") {
    val rnd = new scala.util.Random(7)
    // 300-node random graph (sparse => many nontrivial components) +
    // a 40-node chain + a 12-clique + an isolated pair
    val randomEdges = Seq.fill(260)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
    val chain = (1000L until 1039L).map(i => (i, i + 1))
    val clique = (for (a <- 2000L until 2012L; b <- a + 1 until 2012L) yield (a, b)).toSeq
    val edges = randomEdges ++ chain ++ clique :+ (5000L, 5001L)
    // reference: min node id per component by repeated relaxation
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    var lbl = nodes.map(n => n -> n).toMap
    var moved = true
    while (moved) {
      val next = edges.foldLeft(lbl) { case (m, (a, b)) =>
        val lo = math.min(m(a), m(b)); m.updated(a, lo).updated(b, lo)
      }
      moved = next != lbl
      lbl = next
    }
    val pairs = edges.toDF("id_a", "id_b")
    // the driver union-find and the distributed label loop (forced by
    // smallGraphMaxEdges = 0)
    for (cap <- Seq(500000L, 0L)) {
      val got = graft.dedup.Components
        .connectedComponents(pairs, "id_a", "id_b", smallGraphMaxEdges = cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == lbl, s"cap=$cap")
    }
  }

  test("connectedComponents fails loud when the round budget is exhausted") {
    // a 40-node chain cannot converge in 1 round — the valve must
    // throw (round count in the message), never return unconverged
    // labels (distributed path forced; the union-find needs no rounds)
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      graft.dedup.Components.connectedComponents(chain, "id_a", "id_b",
        maxIters = 1, smallGraphMaxEdges = 0).collect()
    }
    assert(e.getMessage.contains("did not converge in 1"))
  }

  test("dedupByPairs keeps the canonical doc per component plus untouched docs") {
    val docs = (1L to 8L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = graft.dedup.Components.dedupByPairs(docs, "doc_id", pairs, "id_a", "id_b")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 5L, 7L, 8L)) // 2,3 lose to 1; 6 loses to 5
  }

  test("dedupByPairsBest keeps the highest-scoring doc per component, tie -> smallest id") {
    val docs = Seq(
      (1L, 1.0), (2L, 9.0), (3L, 9.0),  // component {1,2,3}: 2 and 3 tie at 9 -> keep 2
      (4L, 0.5),                         // untouched
      (5L, 3.0), (6L, 7.0),              // component {5,6}: keep 6
      (7L, 2.0)).toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = graft.dedup.Components.dedupByPairsBest(
      docs, "doc_id", pairs, "id_a", "id_b", col("quality"))
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 6L, 7L))
    // degenerate: no pairs -> everything kept
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(graft.dedup.Components.dedupByPairsBest(
      docs, "doc_id", noPairs, "id_a", "id_b", col("quality")).count() == 7)
  }

  test("string similarity finds near-identical strings via tf-idf 3-grams") {
    val df = Seq(
      (1L, "Johnson & Johnson Ltd"),
      (2L, "Johnson & Johnson Ltd."),
      (3L, "Acme Corporation"),
      (4L, "Acme Corp"),
      (5L, "Zebra Unrelated Industries")).toDF("id", "s")
    val pairs = StringSim.similarPairs(df, "s", "id", 0.3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) > 0.9)
    assert(pairs.contains((3L, 4L)))
    assert(!pairs.keys.exists { case (a, b) => a == 5L || b == 5L })
  }

  test("StringSim df-cap: candidates skip stop-grams, surviving scores stay bit-exact") {
    // 'qqq ' prefixes docs 4-7: its grams have df = 4 of N = 7, above
    // the default cap floor(0.5 * 7) = 3 but below N, so they carry
    // idf > 0 — hot grams that DO contribute similarity yet must not
    // generate candidate pairs under the cap
    val df = Seq(
      (1L, "Johnson & Johnson Ltd"),
      (2L, "Johnson & Johnson Ltd."),
      (3L, "Acme Corporation"),
      (4L, "qqq Alpha"),
      (5L, "qqq Beta"),
      (6L, "qqq Gamma"),
      (7L, "qqq Delta")).toDF("id", "s")
    def toMapOf(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exact = toMapOf(StringSim.similarPairs(df, "s", "id", 0.02, relDfCap = Double.NaN))
    val capped = toMapOf(StringSim.similarPairs(df, "s", "id", 0.02)) // default relDfCap
    // every capped pair carries the exact full-tf-idf score
    capped.foreach { case (k, sim) => assert(exact(k) == sim, s"pair $k rescored wrong") }
    assert(capped.contains((1L, 2L)), "rare-gram pair must survive the cap")
    // docs 4-7 pair up ONLY through the hot 'qqq ' grams: visible to
    // the exact plan at this tiny threshold, but the capped plan
    // never generates their candidate — the hot-gram join rows are
    // genuinely dropped, not rescored to zero
    assert(exact.contains((4L, 5L)))
    assert(!capped.contains((4L, 5L)))
  }
}
