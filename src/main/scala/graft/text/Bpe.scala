package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE merge induction (SURVEY §2 D84) — bootstrap a
  * byte-pair-encoding tokenizer from the corpus itself (Sennrich,
  * Haddow & Birch, "Neural Machine Translation of Rare Words with
  * Subword Units", ACL 2016): repeatedly merge the most frequent
  * adjacent symbol pair, starting from characters. The step every
  * from-scratch training-data pipeline runs before it can even COUNT
  * tokens in its own tokenizer.
  *
  * Scale shape (the practical distributed-BPE factorization): the
  * corpus is scanned ONCE — a single map-side-combined word-count
  * groupBy. All `numMerges` iterations then run on the WORD-FREQUENCY
  * frame (vocabulary-sized, persisted; millions of rows for a web
  * corpus, never corpus-sized): per iteration one pair-count groupBy
  * + a TakeOrdered-1 argmax (bounded driver action) + one codegen'd
  * `replace` projection. Applying learned merges back to the corpus
  * ([[applyMerges]]) is a chain of N `replace` expressions in ONE
  * map-only projection — no join, no shuffle, no UDF.
  *
  * Determinism: each symbol rides wrapped in its own U+0001
  * delimiters — "abc" is ␁a␁␁b␁␁c␁ (a DOUBLE delimiter between
  * symbols, single at the ends) — so the pair pattern ␁l␁␁r␁ never
  * shares a character with an adjacent occurrence, and standard
  * non-overlapping left-to-right `replace` is EXACTLY the greedy
  * BPE merge: a·a·a·a → (aa)·(aa), a·a·a → (aa)·a, ab·ab merges
  * both. (With a SHARED middle delimiter — the r12 code-review
  * catch — the second of two adjacent occurrences lost its leading
  * delimiter to the first match and under-merged.) The
  * argmax tie-breaks on (count DESC, left ASC, right ASC) — a total
  * order, so the merge table is bit-identical across engines,
  * partitionings, and runs. Words are whitespace tokens of the raw
  * text; characters are the initial symbols (no end-of-word marker —
  * document-internal BPE; the delimiter char itself must not occur
  * in the text, which holds for any sane corpus).
  */
object Bpe {

  private val D = "\u0001"

  /** chars of `w` each wrapped in delimiters:
    * "abc" -> ␁a␁␁b␁␁c␁
    */
  private def delimited(w: Column): Column =
    concat(lit(D), array_join(
      filter(split(w, ""), s => length(s) > 0), D + D), lit(D))

  /** One merge-table row. */
  final case class Merge(rank: Int, left: String, right: String, cnt: Long)

  /** Learn the top-`numMerges` BPE merges. Returns (rank, left,
    * right, merged, pair_count) rows, rank 1..N in learn order;
    * stops early (fewer rows) if no adjacent pair remains. Every
    * round's word frame is a [[graft.CacheScope.persist]] pin, whose
    * plan is one checkpoint leaf, so a deep run never nests one plan
    * per merge (the driver would OOM on plan bookkeeping long before
    * the data).
    */
  def learnMerges(df: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    // ONE corpus scan: word frequencies (map-side combined)
    var words = graft.CacheScope.persist(
      df.select(explode(split(trim(col(textCol)), " +")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .select(delimited(col("w")).as("s"), col("cnt")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var rank = 1
    while (rank <= numMerges) {
      // adjacent symbol pairs of each word, weighted by word count
      val syms = split(regexp_replace(col("s"), s"^$D|$D$$", ""), D + D)
      val top = words
        .select(col("cnt"), syms.as("y"))
        .filter(size(col("y")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(0, size(y) - 2)," +
            " i -> struct(y[i] AS l, y[i + 1] AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) rank = numMerges + 1
      else {
        val m = Merge(rank, top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        merges += m
        words = graft.CacheScope.persist(words.select(
          call_function("replace", col("s"),
            lit(s"$D${m.left}$D$D${m.right}$D"),
            lit(s"$D${m.left}${m.right}$D")).as("s"),
          col("cnt")))
        rank += 1
      }
    }
    merges.toSeq
      .map(m => (m.rank, m.left, m.right, m.left + m.right, m.cnt))
      .toDF("rank", "left", "right", "merged", "pair_count")
  }

  /** [[learnMerges]] with BATCHED induction (r12 verdict #2): instead
    * of one driver round-trip per merge (32k sequential Spark jobs
    * for a real tokenizer vocabulary), each iteration takes the top-m
    * pairs that are PROVABLY the next m sequential merges and applies
    * them in one projection — result bit-identical to the sequential
    * algorithm (ranks, pairs, AND counts), at ~m× fewer jobs.
    *
    * Soundness of the batch rule (why batched ≡ sequential): the
    * selected batch is a CONTIGUOUS PREFIX p1..pm of the pair list
    * sorted by the total order (count DESC, left ASC, right ASC),
    * cut at the first pair that shares a symbol — left, right, or
    * the merged concatenation — with an earlier selection, and then
    * shrunk until count(pm) is STRICTLY greater than the count of
    * the first excluded pair. Under that rule, at sequential step j:
    * (a) every pair ranked above pj is p1..p(j-1), already applied,
    * its adjacencies consumed; (b) pairs disjoint from all applied
    * merges keep their exact count and order, so none beats pj;
    * (c) pairs touching an applied symbol — including NEW pairs
    * involving a merged symbol — have count ≤ the first excluded
    * pair's count < count(pm) ≤ count(pj), so they cannot beat pj
    * even after retying. If the strictness shrink reaches zero, the
    * batch degrades to m = 1, which IS the sequential step. The
    * equivalence is additionally pinned by property specs
    * (batched ≡ sequential on the classic and adversarial corpora).
    *
    * Scale shape: identical to [[learnMerges]] (one corpus scan,
    * vocab-frame iterations) with the driver round-trips divided by
    * the realized batch size; every iteration's word frame is a
    * pinned checkpoint leaf, so a 32k-merge run never builds a
    * 32k-deep plan.
    */
  def learnMergesBatched(df: DataFrame, textCol: String, numMerges: Int,
                         batchSize: Int = 16,
                         maxBatchSize: Int = 256): DataFrame =
    learnMergesBatchedWithStats(df, textCol, numMerges, batchSize,
      maxBatchSize)._1

  /** [[learnMergesBatched]] plus the realized batch size of every
    * driver round-trip — the measurement surface for the ≥1k-merge
    * viability sweep (r13 verdict #3): jobs = stats.length, merges =
    * stats.sum, amortization = merges/jobs.
    */
  def learnMergesBatchedWithStats(df: DataFrame, textCol: String,
                                  numMerges: Int, batchSize: Int = 16,
                                  maxBatchSize: Int = 256)
      : (DataFrame, Seq[Int]) = {
    val spark = df.sparkSession
    import spark.implicits._
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    require(maxBatchSize >= batchSize,
      s"maxBatchSize ($maxBatchSize) must be >= batchSize ($batchSize)")
    var words = graft.CacheScope.persist(
      df.select(explode(split(trim(col(textCol)), " +")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .select(delimited(col("w")).as("s"), col("cnt")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    val realized = scala.collection.mutable.ArrayBuffer.empty[Int]
    var done = false
    // ADAPTIVE batch growth (r13 verdict #3): the per-iteration floor
    // (~one vocab-frame job) dominates a real 32k-vocab induction, so
    // when the corpus delivers a full clash-free batch — its top
    // pairs were disjoint, telling us the next request can be more
    // ambitious — the next `want` doubles (capped); a clashed or
    // strictness-shrunk batch resets to the realized size. Soundness
    // is the batch RULE (contiguous disjoint strict prefix), which
    // holds for every m — the adaptation only changes how many jobs
    // the same bit-identical merge sequence costs.
    var curBatch = batchSize
    while (!done && merges.length < numMerges) {
      val want = math.min(curBatch, numMerges - merges.length)
      val syms = split(regexp_replace(col("s"), s"^$D|$D$$", ""), D + D)
      // TakeOrdered: want+1 rows reach the driver (the +1 row is the
      // strictness witness — the best EXCLUDED pair)
      val top = words
        .select(col("cnt"), syms.as("y"))
        .filter(size(col("y")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(0, size(y) - 2)," +
            " i -> struct(y[i] AS l, y[i + 1] AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(want + 1).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (top.isEmpty) done = true
      else {
        // contiguous disjoint prefix, cut at the first symbol clash
        val used = scala.collection.mutable.Set.empty[String]
        var m = 0
        var clash = false
        while (m < math.min(want, top.length) && !clash) {
          val (l, r, _) = top(m)
          if (used(l) || used(r) || used(l + r)) clash = true
          else { used += l; used += r; used += (l + r); m += 1 }
        }
        // strictness shrink: count(pm) must beat the first excluded
        // pair strictly, else a changed-count pair could retie into
        // the order; degrade to 1 (= the sequential step) if needed
        while (m > 1 && m < top.length && top(m - 1)._3 <= top(m)._3) m -= 1
        val batch = top.take(math.max(m, 1))
        batch.foreach { case (l, r, c) =>
          merges += Merge(merges.length + 1, l, r, c)
        }
        realized += batch.length
        curBatch = if (batch.length == want) math.min(maxBatchSize, curBatch * 2)
                   else math.max(batch.length, 1)
        words = graft.CacheScope.persist(words.select(
          batch.foldLeft(col("s")) { case (acc, (l, r, _)) =>
            call_function("replace", acc,
              lit(s"$D$l$D$D$r$D"), lit(s"$D$l$r$D"))
          }.as("s"), col("cnt")))
      }
    }
    (merges.toSeq
      .map(m => (m.rank, m.left, m.right, m.left + m.right, m.cnt))
      .toDF("rank", "left", "right", "merged", "pair_count"),
      realized.toSeq)
  }

  /** Tokenize `textCol` with a learned merge table: per word, start
    * from characters and apply every merge in rank order — a chain of
    * codegen'd `replace`s inside a map-only projection (the
    * corpus-side cost of a trained BPE is a single scan). Adds
    * `bpe_text` (the delimited symbol stream, words joined by ' ')
    * and `bpe_tokens` (per-document symbol count).
    *
    * Merge tables longer than `segmentSize` are folded through
    * SEGMENTED projections (r12 verdict #2): each segment is one
    * map-only projection of `segmentSize` replaces, with a
    * localCheckpoint between segments as the projection-collapse
    * barrier — a real 32k-merge vocabulary costs ⌈N/segmentSize⌉
    * linear passes instead of compiling one 32k-deep expression.
    */
  def applyMerges(df: DataFrame, textCol: String,
                  merges: Seq[(String, String)],
                  segmentSize: Int = 64): DataFrame = {
    require(segmentSize >= 1, s"segmentSize must be >= 1, got $segmentSize")
    def chunkFold(e: Column, chunk: Seq[(String, String)]): Column =
      chunk.foldLeft(e) { case (acc, (l, r)) =>
        call_function("replace", acc, lit(s"$D$l$D$D$r$D"), lit(s"$D$l$r$D"))
      }
    // null text encodes as the EMPTY document (0 tokens, '' stream) —
    // without the coalesce, transform/aggregate over the null split
    // array yields NULL bpe_text/bpe_tokens (ADVICE r12), an API
    // surprise on corpora with nullable text
    val seeded = df.withColumn("_enc", transform(
      filter(coalesce(split(trim(col(textCol)), " +"),
        typedlit(Seq.empty[String])), s => length(s) > 0),
      w => chunkFold(delimited(w), merges.take(segmentSize))))
    val encoded = merges.drop(segmentSize).grouped(segmentSize)
      .foldLeft(seeded) { (acc, chunk) =>
        // barrier first: without it Catalyst collapses the chained
        // projections back into one N-deep expression
        acc.localCheckpoint()
          .withColumn("_enc", transform(col("_enc"), e => chunkFold(e, chunk)))
      }
    encoded
      .withColumn("bpe_text", array_join(col("_enc"), " "))
      // symbols per encoded word = segments between DOUBLE delimiters
      // (the single outer delimiters ride inside the end segments)
      .withColumn("bpe_tokens", aggregate(
        transform(col("_enc"), e => size(split(e, D + D)).cast("long")),
        lit(0L), (a, x) => a + x))
      .drop("_enc")
  }
}
