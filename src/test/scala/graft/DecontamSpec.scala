package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** `Dedup.contaminatedIds` against a plain-Scala n-gram overlap
  * reference: a document's shingles are the length-`n` windows of its
  * text split on runs of spaces (the whole word sequence when it has
  * fewer than `n` words; null text has none), and a document is
  * contaminated when one of its shingles equals a benchmark shingle.
  */
class DecontamSpec extends SparkSpec {
  import spark.implicits._

  private def shingles(text: String, n: Int): Set[String] =
    if (text == null) Set.empty
    else text.split(" +", -1).toSeq.sliding(n).map(_.mkString(" ")).toSet

  private def reference(docs: Seq[(Long, String)], bench: Seq[String], n: Int): Set[Long] = {
    val b = bench.flatMap(shingles(_, n)).toSet
    docs.collect { case (id, t) if shingles(t, n).exists(b) => id }.toSet
  }

  private def check(docs: Seq[(Long, String)], bench: Seq[String], n: Int): Set[Long] = {
    val got = Dedup.contaminatedIds(docs.toDF("doc_id", "text").repartition(3), "text",
      "doc_id", bench.toDF("text"), "text", n).collect().map(_.getLong(0))
    assert(got.length == got.distinct.length, s"n=$n: repeated ids in ${got.toSeq}")
    val want = reference(docs, bench, n)
    assert(got.toSet == want, s"n=$n")
    want
  }

  test("edge cases: short docs, empty and null text, repeated shingles; n = 1, 5, 8") {
    val docs = Seq(
      1L -> "a b",                         // shorter than n: one whole-sequence shingle
      2L -> "",                            // empty text: the empty shingle
      3L -> null,                          // null text: no shingles
      4L -> "x y x y x y x y x y x y",     // repeated shingles
      5L -> "p q r s t u v w",             // exactly 8 words
      6L -> "c d e f g h i j k",
      7L -> "  lead and  inner   spaces here now ok")
    val bench = Seq("a b", "", null, "y x y x y x y x y", "q r s t u v w z",
      "zz c d e f g h i j k", "lead and inner spaces")
    assert(check(docs, bench, 1) == Set(1L, 2L, 4L, 5L, 6L, 7L))
    assert(check(docs, bench, 5) == Set(1L, 2L, 4L, 5L, 6L))
    assert(check(docs, bench, 8) == Set(1L, 2L, 4L, 6L))
  }

  test("random corpora over a small vocabulary match the reference") {
    val rnd = new scala.util.Random(23)
    def text(): String =
      if (rnd.nextInt(20) == 0) null
      else Seq.fill(rnd.nextInt(12))(s"w${rnd.nextInt(6)}").mkString(" ")
    val docs = (0L until 200L).map(_ -> text())
    val bench = Seq.fill(15)(text())
    for (n <- Seq(1, 2, 5, 8)) check(docs, bench, n)
  }

  test("an idCol named like a reserved column is refused") {
    val docs = Seq((1L, "a b c")).toDF("_sh", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.contaminatedIds(docs, "text", "_sh", docs, "text", 2)
    }
    assert(e.getMessage.contains("reserved"))
  }
}
