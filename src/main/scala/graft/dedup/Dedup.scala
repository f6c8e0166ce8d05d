package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, exact n-gram Jaccard join, embedding-cosine
  * near-dup.
  *
  * Scale design: nothing here is O(n²) in the corpus —
  *  - exact dedup is a hash group-by on a 128-bit content hash;
  *  - MinHash signatures are pure array expressions (codegen) and
  *    candidate generation is one aggregate keyed on the long hash of
  *    (band, band rows), i.e. a shuffle on the bucket key, linear +
  *    output-sized;
  *  - the exact Jaccard joins are inverted-index joins keyed on the
  *    tokens of each set's df-ordered prefix, with a
  *    document-frequency cap to kill stop-token skew;
  *  - verification always recomputes the exact measure on candidate
  *    pairs only.
  */
object Dedup {

  /** Normalized word-set of a text column (order/count-insensitive —
    * the right granule for shuffled-word near-dups).
    */
  def wordSet(c: Column): Column = array_distinct(split(c, " +"))

  /** ≤64-token vocabulary witness AND dict source in ONE bounded job
    * (r12 review: the previous split ran the full token-distinct
    * aggregation twice — once for a limit-65 count, once for the
    * dict collect): a map-side-combined distinct cut off at 65 rows
    * collects to the driver; 65 rows disproves the tiny vocabulary
    * (None), ≤64 rows IS the whole vocabulary (the limit can only
    * truncate past it). Replaces the unpartitioned row_number window
    * the r11 verdict flagged — no single-partition WindowExec on any
    * vocab path, at any corpus size.
    */
  private def tinyVocab(tokens: DataFrame): Option[Array[String]] = {
    val toks = tokens.distinct().limit(65).collect()
      .map(_.getString(0)).filter(_ != null).sorted
    if (toks.length <= 64) Some(toks) else None
  }

  /** Distinct word n-gram shingles — the canonical MinHash granule
    * for texts where local word ORDER matters (wordSet is the n=1
    * special case). Built once per row as a native codegen'd
    * expression ([[graft.functions.WordShingles]]): the equivalent
    * `transform(sequence(...))` formulation runs interpreted per row
    * and dominated decontamination scans. Documents shorter than `n`
    * words contribute their whole word sequence as one shingle.
    */
  def shingleSet(c: Column, n: Int): Column =
    if (n <= 1) wordSet(c)
    else graft.functions.WordShingles(c, n)

  /** Canonical 128-bit content hash for exact dedup. */
  def contentKey(c: Column): Column = md5(c.cast("string"))

  /** Exact dedup stats: total vs distinct-by-content, single agg. */
  def exactDedupStats(df: DataFrame, textCol: String): DataFrame =
    df.agg(
        count(lit(1)).as("total_docs"),
        countDistinct(contentKey(col(textCol))).as("distinct_docs"))
      .withColumn("removed", col("total_docs") - col("distinct_docs"))

  /** Exact dedup: keep one row per content hash (min doc id wins —
    * deterministic). Aggregation, not window, so it map-side
    * combines.
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = df.groupBy(contentKey(col(textCol)).as("_ck"))
      .agg(min(col(idCol)).as(idCol))
      .drop("_ck")
    df.join(keep, idCol)
  }

  /** Soft (weighted) dedup: instead of REMOVING exact duplicates,
    * down-weight them — every copy of a content class with `occ`
    * occurrences gets sampling weight 1/occ, so the class contributes
    * one document's worth of mass in expectation (the standard
    * duplicate-aware loss/sampling reweighting when hard removal is
    * too aggressive, e.g. legitimately repeated licenses or FAQs).
    * Output: input rows + (occ, weight, eff_tokens) where weight =
    * 1/occ and eff_tokens = token_count/occ, both 4-dp via
    * integer-space rounding (x·10000 ties land on exact integers +
    * .5, which Spark and DuckDB round identically — the
    * [[graft.pipeline.Dsir]] rounding policy). Shape: one
    * fingerprint-keyed map-side-combined groupBy (bounded by the
    * number of DISTINCT contents) joined back — corpus-linear, no
    * window.
    */
  def softDedupWeights(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val occ = df.groupBy(contentKey(col(textCol)).as("_ck"))
      .agg(count(lit(1)).as("occ"))
    df.withColumn("_ck", contentKey(col(textCol)))
      .join(occ, "_ck")
      .drop("_ck")
      .withColumn("weight", round(lit(10000.0) / col("occ")).cast("long") / 10000.0)
      .withColumn("eff_tokens",
        round(graft.text.TextAnalysis.wordCount(col(textCol)) * 10000.0 / col("occ"))
          .cast("long") / 10000.0)
  }

  /** Distinct content fingerprints of a corpus — the build side of an
    * incremental dedup store (one narrow column, distinct-aggregated).
    */
  def fingerprints(df: DataFrame, textCol: String): DataFrame =
    df.select(contentKey(col(textCol)).as("fingerprint")).distinct()

  /** Drop rows whose content already exists in a fingerprint store:
    * hash left-anti join on the 128-bit content key — THE shape for
    * deduping a new ingest batch against an existing 100 TB corpus.
    * The store side is a single pruned column; the join shuffles both
    * sides by fingerprint (or broadcasts the batch side under AQE
    * when the batch is small), never materializing corpus text.
    */
  def dedupAgainstStore(df: DataFrame, textCol: String,
                        store: DataFrame, fpCol: String): DataFrame =
    df.join(store.select(col(fpCol).as("_fp")).distinct(),
      contentKey(col(textCol)) === col("_fp"), "left_anti")

  /** NEAR-dup matches of a new ingest batch against an existing
    * corpus: exact token-set Jaccard ≥ threshold, computed through a
    * BIPARTITE inverted index — batch tokens join store tokens on the
    * token, and every distinct candidate pair is re-scored on its two
    * full sets. Exact, and linear in tokens + candidate pairs: a
    * batch×store cross product never forms. Candidates come from the
    * [[jaccardJoin]] prefix filter with df counted on the STORE (a
    * batch-only token has df 0); its proof carries over, so the output
    * equals the all-tokens result under the same cap. `dfCap`
    * (absolute) and `relDfCap` (fraction of the STORE, resolved
    * in-plan) drop tokens present in more than that many STORE
    * documents from candidate generation (same contract as
    * [[jaccardJoin]]); recall then requires sharing one sub-cap token.
    * The DEFAULT is capped (`relDfCap = 0.5`) — an uncapped bipartite
    * index lets a store-side stop-token join every batch doc to every
    * store doc that contains it. Pass `relDfCap = Double.NaN` (and
    * leave `dfCap` at its default) for exact recall.
    *
    * CONTRACT NOTE — dfCap and the tiny-vocabulary plan: when the
    * probe selects the ≤64-word bitmap plan, `dfCap` is IGNORED. That
    * plan is recall-complete without pruning, so relative to the
    * capped inverted-index plan it can only ADD pairs (ones whose
    * every shared token is over-cap), never lose or mis-score any —
    * the cap is a candidate-generation knob, not a semantic filter.
    * Callers that need cap-pruned semantics regardless of vocabulary
    * size should pass `allPairsMaxDocs = 0` to pin the inverted-index
    * plan.
    */
  def nearDupMatches(batch: DataFrame, store: DataFrame, textCol: String,
                     idCol: String, threshold: Double,
                     dfCap: Long = Long.MaxValue,
                     relDfCap: Double = 0.5,
                     allPairsMaxDocs: Long = 10000L,
                     candidateBudget: Long =
                       graft.similarity.CandidateGuard.DefaultBudget,
                     guardStrict: Boolean = false): DataFrame = {
    // tokenized sides are re-read by the probe, the df table and the
    // scoring plan — pin them for the call (CacheScope-tracked, the
    // host clears between units of work) instead of re-tokenizing the
    // corpus on every branch
    val bd = graft.CacheScope.persist(
      batch.select(col(idCol).as("batch_id"), wordSet(col(textCol)).as("ws_b")))
    val sd = graft.CacheScope.persist(
      store.select(col(idCol).as("store_id"), wordSet(col(textCol)).as("ws_s")))
    val bi = bd.select(col("batch_id"), size(col("ws_b")).as("sz_b"),
      explode(col("ws_b")).as("tok"))
    val si = sd.select(col("store_id"), size(col("ws_s")).as("sz_s"),
      explode(col("ws_s")).as("tok"))
    // ≤64-word vocabularies defeat an inverted index the same way
    // they defeat jaccardJoin's, and take the bitmap plan: the store
    // bitmaps (8 B/doc) broadcast, |batch|×|store| pairs scored in one
    // shuffle-free stage. Same two bounded probe jobs as jaccardJoin's,
    // over both sides.
    val tv =
      if (bd.select("ws_b").union(sd.select("ws_s"))
          .limit(math.min(allPairsMaxDocs + 1, Int.MaxValue.toLong).toInt)
          .count() <= allPairsMaxDocs) tinyVocab(bi.select("tok").union(si.select("tok")))
      else None
    if (tv.isDefined)
      return bitmapJaccard(bi.select("batch_id", "tok"), si.select("store_id", "tok"),
          tv.get)((b, s) => b.crossJoin(broadcast(s)))
        .toDF("batch_id", "store_id", "jaccard")
        .filter(col("jaccard") >= threshold)
    // (tok, df_, bdf_, _n), one row per STORE token: df_ counts store
    // docs, bdf_ batch docs (the guard's volume term), _n the store.
    // Persisted: the guard probes it, both prefix sides join it.
    val dfTbl = graft.CacheScope.persist(
      si.select(col("tok"), lit(1L).as("s"), lit(0L).as("b"))
        .union(bi.select(col("tok"), lit(0L), lit(1L)))
        .groupBy("tok").agg(sum("s").as("df_"), sum("b").as("bdf_"))
        .filter(col("df_") > 0)
        .crossJoin(broadcast(sd.agg(count(lit(1)).as("_n")))))
    // bipartite volume: a surviving token contributes batchDf·storeDf
    // candidate rows
    val capOk = graft.similarity.CandidateGuard.capFilter(dfTbl, dfCap, relDfCap,
      candidateBudget, "Dedup.nearDupMatches", Some(col("bdf_") * col("df_")), guardStrict)
    // over-cap tokens leave the store side only: no batch token can
    // meet them there
    val bpre = inPrefix(bi.join(dfTbl.select("tok", "df_"), Seq("tok"), "left")
        .withColumn("df_", coalesce(col("df_"), lit(0L))), "batch_id", "sz_b", threshold)
      .select("tok", "batch_id", "sz_b")
    val spre = inPrefix(si.join(dfTbl, "tok"), "store_id", "sz_s", threshold)
      .filter(capOk).select("tok", "store_id", "sz_s")
    bpre.join(spre, "tok")
      .filter(sizeBoundKeeps(col("sz_b"), col("sz_s"), threshold))
      .select("batch_id", "store_id").distinct()
      .join(bd, "batch_id").join(sd, "store_id")
      .select(col("batch_id"), col("store_id"),
        round(jaccard(col("ws_b"), col("ws_s")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Drop batch rows with a near-duplicate already in the store —
    * the fuzzy counterpart of [[dedupAgainstStore]] (which catches
    * only byte-identical content). Anti join on the matched batch-id
    * set; batch rows never shuffle by anything but the id.
    */
  def dedupNearAgainstStore(batch: DataFrame, store: DataFrame,
                            textCol: String, idCol: String,
                            threshold: Double,
                            dfCap: Long = Long.MaxValue,
                            relDfCap: Double = 0.5,
                            allPairsMaxDocs: Long = 10000L,
                            candidateBudget: Long =
                              graft.similarity.CandidateGuard.DefaultBudget,
                            guardStrict: Boolean = false): DataFrame = {
    val hit = nearDupMatches(batch, store, textCol, idCol, threshold, dfCap,
      relDfCap, allPairsMaxDocs, candidateBudget, guardStrict)
      .select(col("batch_id"))
    batch.join(hit, batch(idCol) === hit("batch_id"), "left_anti")
  }

  /** Exact Jaccard on two set columns (used for candidate
    * verification).
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** The filters' threshold, integer-scaled: floor(t′·10⁶) with
    * t′ = max(t − 1e-4, 0). The downstream filter is
    * `round(j, 4) >= t`, which half-up rounding lets a pair with true
    * J ≥ t − 5e-5 pass — the 1e-4 margin covers that slack plus float
    * noise, and flooring only loosens the filters further.
    */
  private def scaledCut(threshold: Double): Long =
    math.floor(math.max(threshold - 1e-4, 0.0) * 1e6).toLong

  /** Sound size-bound candidate prefilter (r17, guide §1.2/§2.3 —
    * don't compute what you throw away / shuffle fewer bytes):
    * |A∩B| ≤ min(|A|,|B|) and |A∪B| ≥ max(|A|,|B|), so
    * J(A,B) ≤ min/max — a pair whose SIZES already rule the threshold
    * out can never survive the exact re-score, and dropping it before
    * the candidate distinct / set-attach joins removes ~2/3 of the
    * candidate volume on near-dup-heavy corpora (measured at sf0.1:
    * 2.92 M → 0.98 M c33 candidates at t=0.9) without touching the
    * output. The comparison is exact integer arithmetic against
    * [[scaledCut]] (sizes are ints; sz·10^6 stays far below 2^63).
    */
  private def sizeBoundKeeps(szA: Column, szB: Column,
                             threshold: Double): Column =
    least(szA, szB).cast("long") * lit(1000000L) >=
      lit(scaledCut(threshold)) * greatest(szA, szB).cast("long")

  /** The rows of `inv` — one per (set `id`, token `tok`), with the set
    * size `sz` and the token's `df_` — that lie in their set's prefix:
    * the first |x| − ⌈t′·|x|⌉ + 1 tokens under the global order
    * (df_, tok), t′ = [[scaledCut]]/10⁶ (see [[jaccardJoin]] for why
    * no qualifying pair is lost). At 1-based position p,
    * ⌈c·|x|/10⁶⌉ ≤ |x| + 1 − p ⟺ c·|x| ≤ (|x| + 1 − p)·10⁶ — the
    * [[sizeBoundKeeps]] integer arithmetic.
    */
  private def inPrefix(inv: DataFrame, id: String, sz: String,
                       threshold: Double): DataFrame = {
    val n = col(sz).cast("long")
    inv.withColumn("_pos", row_number().over(
        Window.partitionBy(id).orderBy(col("df_"), col("tok"))))
      .filter(lit(scaledCut(threshold)) * n <= (n + 1 - col("_pos")) * lit(1000000L))
      .drop("_pos")
  }

  /** The ≤64-word bitmap plan of [[jaccardJoin]], [[nearDupMatches]]
    * and [[minhashPairs]]: the sets of `a` and `b`, exploded
    * `(id, tok)` rows, each become ONE int64 — bit tid for each token,
    * tids from a literal map of the proven-tiny vocabulary `toks` —
    * and `pair` joins the encoded sides `(id_a, bits_a)` and
    * `(id_b, bits_b)`. Every pair it keeps is scored as `jaccard` =
    * round(J, 4) from two popcounts; recall-complete, caps ignored.
    * The encodings are persisted (8 B/set) and hold no join: a cached
    * plan would pin a broadcast dict's hashed relation until
    * [[graft.CacheScope.clear]].
    */
  private def bitmapJaccard(a: DataFrame, b: DataFrame, toks: Array[String])(
      pair: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    require(toks.length <= 64, s"bitmap plan needs <= 64 tokens, got ${toks.length}")
    val tid = typedLit(toks.zipWithIndex.toMap)
    def bits(side: DataFrame) = graft.CacheScope.persist(side.toDF("id", "tok")
      .select(col("id"), tid(col("tok")).as("tid"))
      .groupBy("id").agg(expr("bit_or(shiftleft(1L, tid))").as("bits")))
    val ea = bits(a)
    val eb = if (b eq a) ea else bits(b)
    val inter = bit_count(col("bits_a").bitwiseAND(col("bits_b"))).cast("double")
    pair(ea.toDF("id_a", "bits_a"), eb.toDF("id_b", "bits_b"))
      .select(col("id_a"), col("id_b"),
        round(inter / (bit_count(col("bits_a")) + bit_count(col("bits_b")) - inter), 4)
          .as("jaccard"))
  }

  /** MinHash+LSH near-duplicate pairs with exact verification:
    * shingle → minhash → band → bucket aggregate → exact Jaccard ≥
    * `threshold`. Emits (id_a < id_b, jaccard). Each (band, band rows)
    * bucket is keyed by ONE long, `xxhash64(band, rows)`, and its
    * members are collected by one aggregate that emits every pair
    * inside the bucket — no join on the bucket key, so no hashed
    * relation keyed on bytes is built (a broadcast one would stay
    * pinned under a persisted result). Equal (band, rows) always hash
    * equal, so no candidate is lost; a 64-bit collision can only add
    * a candidate, and every candidate is verified by the exact
    * `round(jaccard, 4) >= threshold`. The only shuffles are the
    * bucket-key exchange and the final distinct — both linear in
    * candidates, never corpus².
    */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
                   threshold: Double, bands: Int = 32, rowsPerBand: Int = 4,
                   allPairsMaxSets: Long = 10000L, shingleN: Int = 1): DataFrame = {
    require(threshold <= 1.0, "jaccard threshold must be <= 1")
    val k = bands * rowsPerBand
    val raw = df.select(col(idCol).as("id"), shingleSet(col(textCol), shingleN).as("ws"))

    // Cluster identical word-sets FIRST (128-bit content key over the
    // sorted set). Real near-dup corpora are dominated by exact-dup
    // clusters; LSH then runs on unique sets only and cluster members
    // are expanded back afterwards — candidate volume scales with
    // unique sets squared, not docs squared.
    val clustered = graft.CacheScope.persist(raw
      .groupBy(md5(concat_ws("\u0001", sort_array(col("ws")))).as("_ck"))
      .agg(min(col("id")).as("sid"), collect_list(col("id")).as("ids"),
        first(col("ws")).as("ws"))
      .drop("_ck"))

    val exploded = clustered.select(col("sid").as("id"), explode(col("ws")).as("tok"))

    // LSH candidate generation: signatures via explode -> groupBy with
    // k codegen'd MIN aggregates (higher-order array functions are
    // interpreted in Spark — an agg over exploded tokens stays in
    // whole-stage codegen and map-side combines), then long band keys
    // and one bucket aggregate whose member list pairs with itself.
    // Candidate ids deduped FIRST (narrow 2-column shuffle) so exact
    // verification runs once per pair, not once per colliding band.
    def lshCandidates(): DataFrame = {
      val sigCols = (0 until k).map(i => min(xxhash64(lit(i), col("tok"))).as(s"_s$i"))
      // exploded tokens per id are exactly the distinct words, so the
      // group count IS size(ws) — the size-bound prefilter's input
      // rides the signature aggregation for free (r17)
      val sigs = exploded.groupBy("id")
        .agg(sigCols.head, (sigCols.tail :+ count(lit(1)).as("_sz")): _*)
      val bandKeys = (0 until bands).map { b =>
        xxhash64(lit(b), array((0 until rowsPerBand).map(j => col(s"_s${b * rowsPerBand + j}")): _*))
      }
      // bands x ids only (~20B/row), read once by the bucket aggregate
      val keyed = sigs.select(explode(array(bandKeys: _*)).as("bk"), col("id"), col("_sz"))
      keyed.groupBy("bk").agg(collect_list(struct(col("id"), col("_sz"))).as("m"))
        .filter(size(col("m")) > 1)
        .select(explode(col("m")).as("a"), col("m"))
        .select(col("a"), explode(col("m")).as("b"))
        .select(col("a.id").as("id_a"), col("a._sz").as("sz_a"),
          col("b.id").as("id_b"), col("b._sz").as("sz_b"))
        .filter(col("id_a") < col("id_b") &&
          sizeBoundKeeps(col("sz_a"), col("sz_b"), threshold))
        .select("id_a", "id_b")
        .distinct()
    }

    // Exact verification on a dictionary-encoded representation. When
    // the corpus vocabulary fits in 64 slots (categorical/code-like
    // corpora), each word-set compresses to ONE int64 bitmap: the
    // verify side ships 8 bytes per doc (broadcast to a map-side
    // join) and Jaccard evaluates as two popcounts
    // ([[bitmapJaccard]]). General path falls back to the word-set
    // arrays.
    //
    // Plan choice runs bounded probe jobs, not full-corpus counts
    // (the r2 gates ran a full token-distinct shuffle plus a second
    // full count before any useful work). r12 split (the
    // nearDupMatches probe shape): the set count is a token-free
    // limit+count — the limit ends the scan at cap+1 rows and, as
    // before, materializes `clustered`'s cache for every downstream
    // branch — and the vocab witness is a map-side-combined distinct
    // cut off at 65, never a countDistinct Expand over the token
    // stream. When the prefix holds <= allPairsMaxSets sets it IS
    // the whole corpus, so the whole-corpus vocab count below is the
    // prefix's.
    val ns = clustered
      .limit(math.min(allPairsMaxSets + 1, Int.MaxValue.toLong).toInt)
      .count()
    val smallCorpus = ns <= allPairsMaxSets
    // Big corpus: only commit to the bitmap encoding once vocab <= 64
    // is PROVEN. A 100k-token prefix with > 64 distinct tokens is a
    // witness that disproves it without any full scan; only a
    // degenerate-looking prefix pays the exact (cheap, tiny-output)
    // distinct collect — which doubles as the dict source (one scan).
    val tv: Option[Array[String]] =
      if (smallCorpus) tinyVocab(exploded.select("tok"))
      else if (exploded.select("tok").limit(100000).distinct().count() <= 64)
        tinyVocab(exploded.select("tok"))
      else None
    val verified = tv match {
      // ALL-PAIRS popcount instead of LSH on a small corpus: a
      // <=64-word vocabulary makes sets broadly similar, so banding
      // generates ~B^2 candidates ANYWAY (probability a J=0.6 pair
      // shares a 4-row band across 32 bands is ~0.99) — the signature
      // + band-join machinery costs more than it prunes. B^2 pairs of
      // 8-byte bitmaps through a broadcast nested-loop join is one
      // shuffle-free codegen'd stage (recall exactly 1); the 10k-set
      // default cap bounds it at ~5e7 popcount pairs — well under the
      // banding machinery's fixed cost at this corpus shape, and two
      // orders of magnitude below the r2 default that ADVICE flagged
      // as a silent-quadratic risk.
      case Some(toks) if smallCorpus =>
        bitmapJaccard(exploded, exploded, toks)(
          (a, b) => a.join(broadcast(b), col("id_a") < col("id_b")))
      case Some(toks) =>
        bitmapJaccard(exploded, exploded, toks)(
          (a, b) => lshCandidates().join(broadcast(a), "id_a").join(broadcast(b), "id_b"))
      case None =>
        val side = clustered.select(col("sid").as("id"), col("ws"))
        lshCandidates()
          .join(side.select(col("id").as("id_a"), col("ws").as("ws_a")), "id_a")
          .join(side.select(col("id").as("id_b"), col("ws").as("ws_b")), "id_b")
          .select(col("id_a"), col("id_b"),
            round(jaccard(col("ws_a"), col("ws_b")), 4).as("jaccard"))
    }
    val setPairs = verified.filter(col("jaccard") >= threshold)

    // Expand set pairs back to doc pairs (cross product of the two
    // clusters' member lists — output-sized work), plus intra-cluster
    // pairs, which have Jaccard exactly 1.0.
    val idsBy = clustered.select(col("sid"), col("ids"))
    val cross = setPairs
      .join(idsBy.select(col("sid").as("id_a"), col("ids").as("ids_a")), "id_a")
      .join(idsBy.select(col("sid").as("id_b"), col("ids").as("ids_b")), "id_b")
      .select(explode(col("ids_a")).as("ia"), col("ids_b"), col("jaccard"))
      .select(col("ia"), explode(col("ids_b")).as("ib"), col("jaccard"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("jaccard"))
    val intra = clustered.filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("ia"), col("ids"))
      .select(col("ia"), explode(col("ids")).as("ib"))
      .filter(col("ia") < col("ib"))
      .select(col("ia").as("id_a"), col("ib").as("id_b"), lit(1.0).as("jaccard"))
    cross.union(intra)
  }

  /** Banded MinHash index of one side of a batch-vs-store match
    * (r12 verdict #3): one row per DISTINCT shingle set — identical
    * documents cluster first (content key over the sorted set), so
    * LSH work scales with unique sets, not docs — carrying the
    * cluster representative id (`sid`), the member ids, the set
    * itself (for exact re-score), and the banded signature keys
    * (`bks`). Signatures come from the exploded-token min-aggregate
    * (stays in whole-stage codegen and map-side combines); the sid
    * join that re-attaches `ids`/`ws` is doc-count-sized.
    *
    * PRODUCTION CONTRACT: materialize the STORE's index ONCE
    * (`minhashIndex(store…).write.parquet(…)`) and reuse it for
    * every arriving batch — the store side then never re-tokenizes,
    * re-hashes, or re-shuffles; each batch pays only its own index
    * plus a band-key join. Documents with an EMPTY token set carry
    * no signature and drop out (a no-token doc has no near-dup
    * neighbors under Jaccard).
    */
  def minhashIndex(df: DataFrame, textCol: String, idCol: String,
                   bands: Int = 32, rowsPerBand: Int = 4,
                   shingleN: Int = 1): DataFrame = {
    val k = bands * rowsPerBand
    val raw = df.select(col(idCol).as("id"), shingleSet(col(textCol), shingleN).as("ws"))
    val clustered = graft.CacheScope.persist(raw
      .groupBy(md5(concat_ws("\u0001", sort_array(col("ws")))).as("_ck"))
      .agg(min(col("id")).as("sid"), collect_list(col("id")).as("ids"),
        first(col("ws")).as("ws"))
      .drop("_ck"))
    val exploded = clustered.select(col("sid"), explode(col("ws")).as("tok"))
    val sigCols = (0 until k).map(i => min(xxhash64(lit(i), col("tok"))).as(s"_s$i"))
    val sigs = exploded.groupBy("sid").agg(sigCols.head, sigCols.tail: _*)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(array((0 until rowsPerBand).map(j => col(s"_s${b * rowsPerBand + j}")): _*))
          .as("bh"))
    }
    sigs.select(col("sid"), array(bandCols.toIndexedSeq: _*).as("bks"))
      .join(clustered, "sid")
  }

  /** C33: near-store index UPSERT — merge an increment's
    * [[minhashIndex]] into the store's WITHOUT re-tokenizing,
    * re-hashing, or re-scanning the store's documents: the maintained
    * index IS the store's at-rest representation, and the daily
    * ingest's job is `mergeNearIndexes(storeIdx, minhashIndex(batch))
    * .write.parquet(next)`.
    *
    * Correctness hinge: every index row carries its own shingle set
    * `ws`, and the signature/band keys are a DETERMINISTIC function
    * of `ws` alone — so rows with the same content key (md5 of the
    * sorted set, the exact [[minhashIndex]] clustering key) carry
    * IDENTICAL `bks` and merging is a pure regroup: member ids union
    * (re-ingests of the same id dedupe), representative `sid` =
    * min id over the merged cluster, `ws`/`bks` from either row.
    * The result is row-for-row EQUAL to `minhashIndex` over the
    * unioned documents (spec-gated), at the cost of ONE shuffle
    * linear in the two sides' distinct sets — the store never
    * re-pays its 128-min-agg signature pass.
    *
    * Contract: ids are globally unique document identities and the
    * store is APPEND-ONLY — re-ingesting an id with the SAME text is
    * idempotent; an id arriving with DIFFERENT text is a new cluster
    * member under its new content (delete-then-reinsert is the
    * update story, as in every LSM-shaped store).
    */
  def mergeNearIndexes(a: DataFrame, b: DataFrame): DataFrame = {
    // PINNED (r16): the union feeds BOTH the geometry-guard aggregate
    // and the content-key regroup — unpinned, each side's 128-min-agg
    // signature pass ran twice (once per consumer)
    val u = graft.CacheScope.persist(a.unionByName(b))
    // Geometry guard: two indexes built with different `bands` carry band
    // keys from incompatible band spaces, and the content-key regroup would
    // silently pick one side's `bks` — matches through the merged index then
    // DROP instead of failing. Compare size(bks) across the union inside the
    // merge plan itself (broadcast one-row bounds frame, the Zorder/Hilbert
    // pattern — no separate driver job) and raise loudly on mismatch. This
    // catches the bands-count half; a rowsPerBand/shingleN mismatch is not
    // observable from the rows alone — build both sides with the same
    // [[minhashIndex]] parameters (carrying them as table properties of the
    // at-rest index is the operational convention).
    val geo = u.agg(min(size(col("bks"))).as("_nbMin"), max(size(col("bks"))).as("_nbMax"))
    u.crossJoin(broadcast(geo))
      .filter(when(col("_nbMin") === col("_nbMax"), lit(true))
        .otherwise(raise_error(concat(
          lit("mergeNearIndexes: incompatible band geometry: "),
          col("_nbMin").cast("string"), lit(" vs "),
          col("_nbMax").cast("string"), lit(" bands")))))
      .drop("_nbMin", "_nbMax")
      .groupBy(md5(concat_ws("\u0001", sort_array(col("ws")))).as("_ck"))
      .agg(min(col("sid")).as("sid"),
        sort_array(array_distinct(flatten(collect_list(col("ids"))))).as("ids"),
        first(col("ws")).as("ws"),
        first(col("bks")).as("bks"))
      .drop("_ck")
  }

  /** Near-duplicate (batch_id, store_id, jaccard) matches from two
    * [[minhashIndex]] frames: batch bands join store bands on the
    * band key — the ONLY corpus-scale shuffle, linear in
    * bands×distinct-sets, NEVER batch×store — candidates dedupe to
    * set pairs, exact Jaccard re-scores on the full sets (banding
    * can only MISS, never mis-score), and cluster members expand
    * back output-sized. This is the big-corpus path the
    * CandidateGuard's refusal in [[nearDupMatches]] points at: where
    * the inverted token index degenerates on common tokens
    * (candidate volume ∝ Σ bdf·df), band keys hash the WHOLE
    * signature slice, so a shared band implies high estimated
    * Jaccard — candidate volume tracks the true near-dup density.
    *
    * Banding is the recall/cost dial (P[candidate/band] = J^r; a
    * similar pair emits ~b·J^r band rows into the candidate
    * distinct): the 32×4 default suits J ≥ 0.9 dedup (miss
    * ~1.4e-15 at 0.9). For lower thresholds, dropping to
    * rowsPerBand=2 buys recall (~2e-19 miss at 0.7) but flattens
    * the S-curve — on a corpus whose BACKGROUND set-jaccard is high
    * (the sf testdata's word sets sit at median ~0.6 batch-vs-
    * store), r=2 makes essentially every pair a candidate AND emits
    * ~b rows per pair, so candidate generation degenerates to
    * all-pairs × bands (measured r13: 42 s vs 5 s at sf0.1). Pick r
    * so the S-curve midpoint (1/b)^(1/r) sits ABOVE the background
    * similarity, and remember a threshold below the background is an
    * output-quadratic PROBLEM no candidate scheme can make linear.
    */
  def minhashMatchesIndexed(batchIndex0: DataFrame, storeIndex0: DataFrame,
                            threshold: Double): DataFrame = {
    require(threshold <= 1.0, "jaccard threshold must be <= 1")
    // pin both indexes: each is read THREE times (band explode + the
    // two re-attach joins) — unpersisted, every read re-runs the
    // 128-min-agg signature computation (r13 bench finding: the
    // recomputation tripled the sf0.1 wall-clock)
    val batchIndex = graft.CacheScope.persist(batchIndex0)
    val storeIndex = graft.CacheScope.persist(storeIndex0)
    // set sizes ride the band rows (+4 B each) so the size-bound
    // prefilter can kill candidates BEFORE the distinct — on a
    // near-dup-heavy corpus the band join's output is ~all pairs × ~5
    // shared bands, and 2/3 of those pairs are size-impossible at the
    // threshold (r17; see [[sizeBoundKeeps]])
    val bb = batchIndex.select(explode(col("bks")).as("bk"), col("sid").as("bsid"),
      size(col("ws")).as("sz_b"))
    val sb = storeIndex.select(explode(col("bks")).as("bk"), col("sid").as("ssid"),
      size(col("ws")).as("sz_s"))
    val cands = bb.join(sb, "bk")
      .filter(sizeBoundKeeps(col("sz_b"), col("sz_s"), threshold))
      .select("bsid", "ssid").distinct()
    cands
      .join(batchIndex.select(col("sid").as("bsid"), col("ws").as("ws_b"),
        col("ids").as("ids_b")), "bsid")
      .join(storeIndex.select(col("sid").as("ssid"), col("ws").as("ws_s"),
        col("ids").as("ids_s")), "ssid")
      .select(col("ids_b"), col("ids_s"),
        round(jaccard(col("ws_b"), col("ws_s")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(explode(col("ids_b")).as("batch_id"), col("ids_s"), col("jaccard"))
      .select(col("batch_id"), explode(col("ids_s")).as("store_id"), col("jaccard"))
  }

  /** [[minhashMatchesIndexed]] over raw frames — builds both indexes
    * in-call (the gate/test shape; production materializes the store
    * index once, see [[minhashIndex]]).
    */
  def minhashMatchesAgainstStore(batch: DataFrame, store: DataFrame,
                                 textCol: String, idCol: String,
                                 threshold: Double, bands: Int = 32,
                                 rowsPerBand: Int = 4,
                                 shingleN: Int = 1): DataFrame =
    minhashMatchesIndexed(
      minhashIndex(batch, textCol, idCol, bands, rowsPerBand, shingleN),
      minhashIndex(store, textCol, idCol, bands, rowsPerBand, shingleN),
      threshold)

  /** Drop batch rows with a banded-minhash near-duplicate in the
    * store — [[dedupNearAgainstStore]]'s scale path (anti join on
    * the matched batch-id set; batch rows never shuffle by anything
    * but the id).
    */
  def dedupNearAgainstStoreBanded(batch: DataFrame, store: DataFrame,
                                  textCol: String, idCol: String,
                                  threshold: Double, bands: Int = 32,
                                  rowsPerBand: Int = 4,
                                  shingleN: Int = 1): DataFrame = {
    val hit = minhashMatchesAgainstStore(batch, store, textCol, idCol,
      threshold, bands, rowsPerBand, shingleN)
      .select(col("batch_id")).distinct()
    batch.join(hit, batch(idCol) === hit("batch_id"), "left_anti")
  }

  /** Ids of documents sharing at least one word n-gram shingle with a
    * benchmark corpus — test-set DECONTAMINATION, the training-data
    * hygiene step that keeps eval benchmarks out of the training set.
    * The benchmark side is its distinct shingles grouped by their
    * `xxhash64` (benchmarks are small by construction — broadcast
    * them); the corpus streams through one semi join keyed on the
    * shingle's hash, and `array_contains` over the hash group keeps
    * the match exact string equality. The long key makes the
    * broadcast a hashed relation sized to the benchmark instead of a
    * byte-keyed one holding a whole memory page, which a persisted
    * result would pin. The 100 TB side shuffles at most its exploded
    * shingles and nothing joins pairwise. `_sh` and `_h` are the
    * operator's own column names; an `idCol` of either is refused.
    */
  def contaminatedIds(docs: DataFrame, textCol: String, idCol: String,
                      benchmark: DataFrame, benchTextCol: String,
                      n: Int = 8): DataFrame = {
    require(idCol != "_sh" && idCol != "_h",
      s"contaminatedIds: idCol '$idCol' collides with a reserved column name (_sh, _h)")
    val benchShingles = broadcast(
      benchmark.select(explode(shingleSet(col(benchTextCol), n)).as("_bsh"))
        .groupBy(xxhash64(col("_bsh")).as("_h"))
        .agg(collect_set(col("_bsh")).as("_bshs")))
    val shingles = docs.select(col(idCol), explode(shingleSet(col(textCol), n)).as("_sh"))
      .withColumn("_h", xxhash64(col("_sh")))
    shingles
      .join(benchShingles, shingles("_h") === benchShingles("_h") &&
        array_contains(benchShingles("_bshs"), shingles("_sh")), "left_semi")
      .select(col(idCol)).distinct()
  }

  /** Drop every document that shares an n-gram shingle with the
    * benchmark (anti join on [[contaminatedIds]]).
    */
  def decontaminate(docs: DataFrame, textCol: String, idCol: String,
                    benchmark: DataFrame, benchTextCol: String,
                    n: Int = 8): DataFrame =
    docs.join(contaminatedIds(docs, textCol, idCol, benchmark, benchTextCol, n),
      Seq(idCol), "left_anti")

  /** Portable 60-bit token hash: the first 15 hex nibbles of md5.
    * Chosen over engine-private hashes (xxhash64) so sketches built
    * from it are reproducible by ANY engine byte-for-byte — the
    * DuckDB oracle recomputes the same sketch via a nibble fold. 60
    * bits keeps the horner fold inside a signed 64-bit integer in
    * engines without wrapping arithmetic.
    */
  def portableTokenHash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  private val SimhashBits = 60

  /** 60-bit SimHash of a token-set: per-bit majority vote of
    * portable token hashes, built from bit-test expressions (codegen;
    * no UDF).
    */
  def simhash(tokens: Column): Column = {
    val hashes = transform(tokens, t => portableTokenHash60(t))
    val n = size(hashes)
    val bits = (0 until SimhashBits).map { i =>
      // count of tokens with bit i set; majority => bit set in sketch
      val cnt = aggregate(hashes, lit(0),
        (acc, h) => acc + shiftright(h, i).bitwiseAND(1L).cast("int"))
      when(cnt * 2 > n, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ bitwiseOR _)
  }

  /** Hamming distance between two sketches. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: band the 60-bit sketch into `chunks`
    * equal chunks and bucket-join on every (chunks − maxHamming)-size
    * chunk COMBINATION, then verify Hamming ≤ maxHamming exactly.
    *
    * Generalized pigeonhole: ≤ maxHamming differing bits can dirty at
    * most maxHamming chunks, so any qualifying pair agrees on some
    * (chunks − maxHamming)-subset of chunks — joining on all
    * C(chunks, chunks−maxHamming) subsets is recall-COMPLETE for any
    * `chunks > maxHamming`, and the final exact Hamming filter makes
    * the output identical for every valid `chunks` choice.
    *
    * `chunks` is the bucket-space / key-count dial: the default 4
    * (minimal for h=3) joins on 4 keys/doc over 2^15-value buckets —
    * fine to ~10M docs. On near-dup-heavy corpora 100× that, pass
    * `chunks = 6`: C(6,3)=20 keys/doc over 2^30-value buckets, ~8×
    * fewer candidate pairs per doc² at 5× the shuffled keys — the
    * bucket self-join is output-dominated at scale, so multiplying
    * bucket space wins long before the extra keys cost.
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3, chunks: Int = 4): DataFrame = {
    require(chunks > maxHamming,
      s"chunks ($chunks) must exceed maxHamming ($maxHamming) for recall-complete banding")
    require(SimhashBits % chunks == 0,
      s"chunks ($chunks) must divide $SimhashBits")
    // sketch via explode -> groupBy with codegen'd SUM aggregates
    // (one shuffle, map-side combined) instead of interpreted
    // higher-order array functions; semantics identical to simhash().
    // The 60 per-bit counters are PACKED four to a long (16-bit
    // lanes): 16 aggregate buffers instead of 61 cuts the generated
    // aggregate code ~4x (the 60-agg plan cost seconds of Janino
    // compile per cold run) and shrinks the shuffle row from 60 longs
    // to 15. Lane arithmetic is exact while every doc has < 32768
    // distinct tokens — beyond that the lane sum would exceed Long
    // range and ANSI mode fails loudly rather than corrupting.
    val ex = df.select(col(idCol).as("id"), explode(wordSet(col(textCol))).as("tok"))
      .select(col("id"), portableTokenHash60(col("tok")).as("h"))
    val lanes = 4
    val slots = SimhashBits / lanes // 15
    val packedSums = (0 until slots).map { j =>
      val packed = (0 until lanes).map { k =>
        shiftright(col("h"), j * lanes + k).bitwiseAND(lit(1L)) * lit(1L << (16 * k))
      }.reduce(_ + _)
      sum(packed).as(s"_p$j")
    }
    val sk = ex.groupBy("id")
      .agg(packedSums.head, (packedSums.tail :+ count(lit(1)).as("_n")): _*)
      .select(col("id"),
        (0 until SimhashBits).map { i =>
          val cnt = shiftright(col(s"_p${i / lanes}"), 16 * (i % lanes)).bitwiseAND(lit(0xFFFFL))
          when(cnt * 2 > col("_n"), lit(1L << i)).otherwise(lit(0L))
        }.reduce(_ + _).as("sh"))
    hammingBandPairs(sk, SimhashBits, maxHamming, chunks)
  }

  /** Generalized-pigeonhole Hamming near-dup join over an arbitrary
    * `bits`-wide hash frame `sk` = (id, sh) — the banding core of
    * [[simhashPairs]], factored out (r13) so other discrete sketches
    * (D91 image dHash) reuse it: one join key per
    * (chunks − maxHamming)-size chunk COMBINATION, recall-complete
    * for any `chunks > maxHamming`, exact Hamming verify after.
    * Chunk extraction shifts UNSIGNED so a full-64-bit hash's top
    * chunk cannot sign-extend (simhash's 60 bits never hit this;
    * dHash's bit 63 does).
    */
  def hammingBandPairs(sk: DataFrame, bits: Int, maxHamming: Int,
                       chunks: Int): DataFrame = {
    require(chunks > maxHamming,
      s"chunks ($chunks) must exceed maxHamming ($maxHamming) for recall-complete banding")
    require(bits % chunks == 0, s"chunks ($chunks) must divide $bits")
    val w = bits / chunks
    require((chunks - maxHamming) * w <= 63,
      s"combined join key needs ${(chunks - maxHamming) * w} bits > 63 — raise maxHamming or chunks")
    val mask = (1L << w) - 1
    // the combo's chunk values concatenate into one ≤63-bit long
    // (shift-left via multiply — ANSI-safe below 63 bits)
    val chunkArr = array(
      (0 until chunks).combinations(chunks - maxHamming).toSeq.zipWithIndex.map {
        case (combo, ci) =>
          val v = combo.zipWithIndex.map { case (chunkIdx, pos) =>
            shiftrightunsigned(col("sh"), chunkIdx * w).bitwiseAND(lit(mask)) * lit(1L << (pos * w))
          }.reduce(_ + _)
          struct(lit(ci).as("chunk_id"), v.as("chunk"))
      }: _*)
    // Explicit partition count on the bucket key: the chunk table is
    // INPUT-tiny (few rows/doc) but the self-join is OUTPUT-heavy
    // (near-dup corpora collide densely), and AQE coalesces shuffles
    // by input size — without the explicit count it funnels the whole
    // pair generation + Hamming verify through one task. A
    // user-specified repartition is exempt from AQE coalescing.
    val shufflePartitions = sk.sparkSession.sessionState.conf.numShufflePartitions
    val keyed = sk.withColumn("ck", explode(chunkArr))
      .select(col("id"), col("sh"),
        col("ck.chunk_id").as("chunk_id"), col("ck.chunk").as("chunk"))
      .repartition(shufflePartitions, col("chunk_id"), col("chunk"))
    val a = keyed.select(col("chunk_id"), col("chunk"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = keyed.select(col("chunk_id"), col("chunk"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("chunk_id", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming64(col("sh_a"), col("sh_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact token-set Jaccard similarity join: every pair (id_a < id_b)
    * with round(J, 4) ≥ `threshold`, scored on the full sets.
    *
    * Filter, then verify (ICDE 2022, PAPERS.md): a set's PREFIX is
    * its first |x| − ⌈t′·|x|⌉ + 1 tokens under the global order
    * (df, token), t′ = max(threshold − 1e-4, 0) ([[inPrefix]]).
    * Candidates are the distinct pairs sharing a token that is in BOTH
    * prefixes and has df ≤ the cap, with sizes that can reach t′
    * ([[sizeBoundKeeps]]); each is re-scored exactly. The prefix
    * loses no pair the cap keeps:
    *   1. J ≥ t′ gives |x∩y| ≥ ⌈t′·|x|⌉, so x∩y cannot fit in x's
    *      suffix: the rarest shared token lies in both prefixes;
    *   2. that token has the smallest df of all shared tokens,
    *   3. so it passes the cap whenever any shared token does.
    * So the emitted (pair, score) set equals the all-tokens result
    * under the same cap, and [[graft.similarity.CandidateGuard]]'s Σ df²
    * probe stays an upper bound on the candidates.
    *
    * Caps: `dfCap` (absolute) and `relDfCap` (fraction of the corpus,
    * resolved INSIDE the plan — no driver-side count) keep tokens
    * present in more than that many documents out of candidate
    * generation. The DEFAULT is capped (`relDfCap = 0.5`): uncapped,
    * every stop-token joins its documents pairwise at low thresholds,
    * the classic n² blowup. The cap only loses pairs whose every
    * shared token sits over it. Exact recall is an explicit opt-in: pass
    * `relDfCap = Double.NaN` (and leave `dfCap` at its default), or
    * call [[jaccardJoinExact]]. Corpora whose vocabulary fits in 64
    * words (≤ `allPairsMaxDocs` docs) instead run exact all-pairs
    * bitmap popcounts — recall-complete, caps ignored — because an
    * inverted index cannot prune sets drawn from a tiny vocabulary.
    */
  def jaccardJoin(df: DataFrame, textCol: String, idCol: String,
                  threshold: Double, dfCap: Long = Long.MaxValue,
                  relDfCap: Double = 0.5,
                  allPairsMaxDocs: Long = 10000L,
                  candidateBudget: Long =
                    graft.similarity.CandidateGuard.DefaultBudget,
                  guardStrict: Boolean = false): DataFrame = {
    val docs = df.select(col(idCol).as("id"), wordSet(col(textCol)).as("ws"))
      .withColumn("sz", size(col("ws")))
    val inv = docs.select(col("id"), col("sz"), explode(col("ws")).as("tok"))
    // Bounded probe jobs decide the plan (see minhashPairs; r12 split
    // shape): a token-free limit+count over a ≤ allPairsMaxDocs+1 doc
    // prefix, then, only when that prefix is the whole corpus, the
    // 65-cutoff vocab witness. Sets drawn from ≤64 words are broadly
    // similar, so an inverted index degenerates toward all-pairs
    // candidates anyway — score all pairs directly.
    val tv =
      if (docs.limit(math.min(allPairsMaxDocs + 1, Int.MaxValue.toLong).toInt)
          .count() <= allPairsMaxDocs) tinyVocab(inv.select("tok"))
      else None
    if (tv.isDefined) {
      val ids = inv.select("id", "tok")
      return bitmapJaccard(ids, ids, tv.get)(
          (a, b) => a.join(broadcast(b), col("id_a") < col("id_b")))
        .filter(col("jaccard") >= threshold)
    }
    // (tok, df_, _n), one row per token. Persisted: the guard probes
    // it, the prefix ranking joins it.
    val dfTbl = graft.CacheScope.persist(inv.groupBy("tok").agg(count(lit(1)).as("df_"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("_n")))))
    val capOk = graft.similarity.CandidateGuard.capFilter(dfTbl, dfCap, relDfCap,
      candidateBudget, "Dedup.jaccardJoin", None, guardStrict)
    val pre = inPrefix(inv.join(dfTbl, "tok"), "id", "sz", threshold)
      .filter(capOk).select("tok", "id", "sz")
    pre.toDF("tok", "id_a", "sz_a").join(pre.toDF("tok", "id_b", "sz_b"), "tok")
      .filter(col("id_a") < col("id_b") &&
        sizeBoundKeeps(col("sz_a"), col("sz_b"), threshold))
      .select("id_a", "id_b")
      .distinct()
      .join(docs.select(col("id").as("id_a"), col("ws").as("ws_a")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("ws").as("ws_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("ws_a"), col("ws_b")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ---- named exact-recall entry points ----------------------------
  // MIGRATION NOTE: the `relDfCap` default changed from NaN (exact)
  // to 0.5 (capped) — the safe plan at corpus scale has to be the one
  // you get without thinking, because an uncapped inverted index lets
  // every stop-token join all its documents pairwise. Callers that
  // relied on the old exact-recall default pass `relDfCap =
  // Double.NaN` (or, for the self-join, use the named variant below);
  // capped and uncapped calls run the same prefix-filtered plan.

  /** [[jaccardJoin]] with guaranteed exact recall: no df cap, so every
    * pair sharing a token in both prefixes is a candidate. The prefix
    * filter bounds candidates by the threshold, not by token rarity:
    * at low thresholds a stop-token still joins its documents
    * pairwise — prefer the capped default at corpus scale.
    */
  def jaccardJoinExact(df: DataFrame, textCol: String, idCol: String,
                       threshold: Double,
                       allPairsMaxDocs: Long = 10000L): DataFrame =
    jaccardJoin(df, textCol, idCol, threshold, relDfCap = Double.NaN,
      allPairsMaxDocs = allPairsMaxDocs)
}
