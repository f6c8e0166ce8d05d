package graft.tools

import org.apache.spark.sql.functions._

/** BPE-depth corpus generator (r15, r14 verdict next-round #4): the
  * driver's synthetic documents draw words from a 31-token vocabulary
  * whose pair structure runs dry at 89 merges — so the ≥1k-merge
  * viability of [[graft.text.Bpe.learnMergesBatched]] was
  * extrapolated, never measured. This generator restores the property
  * real text has that makes BPE merges KEEP PAYING: compositional
  * morphology. Words are `[prefix] stem [suffix]` with stems built
  * from a 95-syllable CV inventory (two syllables each) and 16/16
  * productive affixes — so the learner must first assemble syllables
  * from characters (~hundreds of merges), then stems from syllables,
  * then affixes, then affixed forms: thousands of productive merges
  * with a real frequency gradient, exactly the learning curve a
  * 32k-vocab tokenizer walks.
  *
  * Fully deterministic (index arithmetic, no RNG), pure Column
  * expressions (no UDF). Usage:
  *   runMain graft.tools.GenBpeCorpus [outDir] [nDocs] [wordsPerDoc]
  * writes `<outDir>/documents.parquet` in the standard documents
  * schema, then sweep with
  *   runMain graft.tools.BpeSweep <outDir> 64,256,1024
  */
object GenBpeCorpus {

  val Consonants = "bcdfghjklmnpqrstvwz" // 19
  val Vowels = "aeiou" // 5 → 95 syllables
  val Prefixes = Seq("un", "re", "pre", "over", "under", "out", "mis", "non",
    "anti", "semi", "sub", "inter", "trans", "super", "extra", "ultra")
  val Suffixes = Seq("ing", "ed", "er", "est", "ly", "ness", "ment", "tion",
    "able", "ible", "ful", "less", "ish", "ity", "ous", "ive")

  def main(args: Array[String]): Unit = {
    val out = if (args.length > 0) args(0) else "bigdata/bpe"
    val nDocs = if (args.length > 1) args(1).toInt else 5000
    val wordsPerDoc = if (args.length > 2) args(2).toInt else 200
    val spark = graft.Session.local()

    val sylls = for (c <- Consonants; v <- Vowels) yield s"$c$v"
    val sylArr = array(sylls.map(lit(_)): _*)
    val preArr = array(Prefixes.map(lit(_)): _*)
    val sufArr = array(Suffixes.map(lit(_)): _*)

    // word k: affix attachment keyed off k so forms with and without
    // each affix co-occur (the frequency gradient BPE feeds on);
    // stem index mixing spreads the syllable bigram space
    def word(k: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val stem = concat(
        element_at(sylArr, (pmod(k, lit(95)) + 1).cast("int")),
        element_at(sylArr, (pmod(k / 7, lit(95)) + 1).cast("int")))
      val pre = when(pmod(k, lit(3)) === 0,
        element_at(preArr, (pmod(k / 3, lit(16)) + 1).cast("int")))
        .otherwise(lit(""))
      val suf = when(pmod(k, lit(2)) === 0,
        element_at(sufArr, (pmod(k / 2, lit(16)) + 1).cast("int")))
        .otherwise(lit(""))
      concat(pre, stem, suf)
    }

    // HEAD + TAIL mixture (r15): a uniform draw ties every pair count
    // and the batch rule's strictness shrink — load-bearing for
    // bit-exactness — correctly degrades to sequential on ties; a
    // pure Zipf head de-duplicates into a few thousand words and the
    // vocabulary runs dry before 1k merges. Real corpora have BOTH: a
    // Zipfian head (distinct counts → clash-free batch prefixes) and
    // a long uniform tail (hapax-rich — merges keep paying). Even
    // positions draw the quadratic head (h²·K/H² — rank-r frequency
    // ∝ 1/√r), odd positions draw the uniform tail over the full
    // 200k word space.
    val H = 8192L
    val docs = spark.range(nDocs.toLong)
      .select(col("id").as("doc_id"),
        array_join(
          transform(sequence(lit(0), lit(wordsPerDoc - 1)), { j =>
            val jl = j.cast("long")
            val mix = col("id") * 31 + jl * 17 + (col("id") + jl) * (col("id") + jl)
            val h = pmod(mix, lit(H))
            val head = (h * h * 200000L) / lit(H * H)
            val tail = pmod(mix * 2654435761L, lit(200000L))
            word(when(pmod(jl, lit(2)) === 0, head).otherwise(tail))
          }),
          " ").as("text"),
        lit("xx").as("lang"),
        lit("synthetic-morph").as("source"))
      .withColumn("n_chars", length(col("text")).cast("int"))
    docs.repartition(16).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")
    println(s"wrote $nDocs docs x $wordsPerDoc words to $out/documents.parquet")
    spark.stop()
  }
}
