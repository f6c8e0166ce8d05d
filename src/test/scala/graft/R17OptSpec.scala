package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** r17 optimization-round specs: the size-bound candidate prefilter
  * (J(A,B) <= min|A|,|B| / max|A|,|B|) must be output-invisible on
  * every path that gained it — including the one adversarial corner,
  * a pair whose exact Jaccard sits BELOW the threshold but whose
  * round(j, 4) rounds UP across it (the half-up slack the filter's
  * 1e-4 margin exists for). The same corner is pinned for the tf-idf
  * cosine prefix filter of `StringSim.similarPairs`.
  */
class R17OptSpec extends SparkSpec {
  import spark.implicits._

  /** A pair engineered onto the rounding boundary WITH maximal size
    * skew for its Jaccard: |A∩B| = 6000, |A∪B| = 6667 → J =
    * 0.8999550... < 0.9, round(J,4) = 0.9 — the pair must be KEPT at
    * threshold 0.9, and its size bound min/max = 6000/6667 = J is the
    * loosest the corpus allows, so any prefilter cut tighter than
    * t − 5e-5 would wrongly drop it.
    */
  private lazy val boundaryDocs: Seq[(Long, String)] = {
    val common = (0 until 6000).map(i => s"c$i")
    val extra = (0 until 667).map(i => s"x$i")
    Seq(1L -> common.mkString(" "),
      2L -> (common ++ extra).mkString(" "))
  }

  test("rounding-boundary pair survives the size-bound prefilter: jaccardJoinExact") {
    val df = boundaryDocs.toDF("doc_id", "text")
    val got = Dedup.jaccardJoinExact(df, "text", "doc_id", 0.9).collect()
    assert(got.length == 1)
    assert(got(0).getLong(0) == 1L && got(0).getLong(1) == 2L)
    assert(got(0).getDouble(2) == 0.9)
  }

  test("rounding-boundary pair survives the size-bound prefilter: capped jaccardJoin") {
    val df = boundaryDocs.toDF("doc_id", "text")
    // a non-binding ABSOLUTE cap exercises the capped candidate path
    // (the default relative cap on a 2-doc corpus is 1, which drops
    // every shared token by design — that's cap semantics, not the
    // prefilter's)
    val got = Dedup.jaccardJoin(df, "text", "doc_id", 0.9,
      dfCap = 1000000000L, relDfCap = Double.NaN).collect()
    assert(got.length == 1 && got(0).getDouble(2) == 0.9)
  }

  test("rounding-boundary pair survives the size-bound prefilter: minhashPairs") {
    val df = boundaryDocs.toDF("doc_id", "text")
    // 2 docs, vocab > 64 -> general LSH path; J^r band collision odds
    // at J~0.9, 32x4 make a miss ~1.4e-15 — deterministic in practice
    val got = Dedup.minhashPairs(df, "text", "doc_id", 0.9).collect()
    assert(got.length == 1 && got(0).getDouble(2) == 0.9)
  }

  test("rounding-boundary pair survives the size-bound prefilter: minhashMatchesIndexed") {
    val batch = boundaryDocs.take(1).toDF("doc_id", "text")
    val store = boundaryDocs.drop(1).toDF("doc_id", "text")
    val got = Dedup.minhashMatchesAgainstStore(batch, store, "text", "doc_id", 0.9)
      .collect()
    assert(got.length == 1 && got(0).getDouble(2) == 0.9)
    CacheScope.clear()
  }

  test("rounding-boundary pair survives the size-bound prefilter: nearDupMatches (capped + uncapped)") {
    val batch = boundaryDocs.take(1).toDF("doc_id", "text")
    val store = boundaryDocs.drop(1).toDF("doc_id", "text")
    // pin the inverted-index plan (allPairsMaxDocs = 0) so the capped
    // and uncapped token-join paths are the ones exercised; the capped
    // flavor uses a non-binding absolute cap (see the jaccardJoin test)
    val capped = Dedup.nearDupMatches(batch, store, "text", "doc_id", 0.9,
      dfCap = 1000000000L, relDfCap = Double.NaN,
      allPairsMaxDocs = 0L).collect()
    assert(capped.length == 1 && capped(0).getDouble(2) == 0.9)
    val exact = Dedup.nearDupMatches(batch, store, "text", "doc_id", 0.9,
      relDfCap = Double.NaN, allPairsMaxDocs = 0L).collect()
    assert(exact.length == 1 && exact(0).getDouble(2) == 0.9)
    CacheScope.clear()
  }

  test("rounding-boundary pair survives the cosine prefix filter: similarPairs (capped + uncapped)") {
    // y's grams are a subset of x's with equal weights, so cos(x, y) =
    // ‖y‖/‖x‖, and x's rarer (df 1) grams rank before every shared
    // (df 2) gram: the shared grams are x's suffix, whose norm is
    // exactly cos·‖x‖. At threshold round(cos, 4) > cos an unmargined
    // prefix bound puts no shared gram in x's prefix and drops the
    // pair; one-gram digit fillers only raise N so shared grams keep
    // idf > 0.
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val family = for {
      l <- 4 to 16; e <- 1 to 6; f <- 1 to 6
      docs = Seq(1L -> letters.take(l), 2L -> letters.take(l + e)) ++
        (1 to f).map(i => (10L + i) -> i.toString * 3)
      c = TfIdfRef.pairs(docs)((1L, 2L))._1
      if TfIdfRef.round4(c) - c > 1e-6
    } yield (docs, c)
    val (docs, c) = family.head
    val m = TfIdfRef.round4(c)
    val df = docs.toDF("id", "s")
    def at12(d: org.apache.spark.sql.DataFrame) = d.collect()
      .filter(r => r.getLong(0) == 1L && r.getLong(1) == 2L).map(_.getDouble(2)).toSeq
    assert(at12(graft.similarity.StringSim.similarPairs(df, "s", "id", m,
      dfCap = 1000000000L, relDfCap = Double.NaN)) == Seq(m), s"capped, cos $c")
    assert(at12(graft.similarity.StringSim.similarPairs(df, "s", "id", m,
      relDfCap = Double.NaN)) == Seq(m), s"uncapped, cos $c")
    CacheScope.clear()
  }

  test("size-bound prefilter is output-invisible on a random mixed-size corpus") {
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 200).map(i => s"w$i")
    // sizes 3..20 so the bound actually fires on most pairs
    val docs = (0L until 60L).map { i =>
      i -> rnd.shuffle(vocab).take(3 + rnd.nextInt(18)).mkString(" ")
    }
    val brute = {
      val sets = docs.map { case (id, s) => id -> s.split(" +").toSet }
      (for {
        (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
        j = sa.intersect(sb).size.toDouble / sa.union(sb).size
        jr = BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        if jr >= 0.5
      } yield (ia, ib, jr)).toSet
    }
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.jaccardJoinExact(df, "text", "doc_id", 0.5,
      allPairsMaxDocs = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == brute)
    CacheScope.clear()
  }
}
