package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset-assembly operators for training-data pipelines:
  * reproducible splits, deterministic sampling, PII redaction.
  * (Scale extensions beyond the reference's surface — see SURVEY §2
  * D16-D18.)
  *
  * Everything here is scan-local (zero shuffle) and content-
  * deterministic: assignment depends only on the VALUE, never on
  * partitioning, row order, executor count, or a driver-held RNG —
  * the property that makes a 100 TB split reproducible across
  * clusters, re-runs, and engine implementations.
  */
object Pipeline {

  /** Stable bucket in [0, buckets) from the md5 head of the value.
    * md5-hex → first 8 nibbles as an int → mod. Portable: any engine
    * (or offline auditor) recomputes the same bucket from the same
    * bytes, unlike engine-private hashes.
    */
  def hashBucket(c: Column, buckets: Int = 100): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long") % buckets

  /** Reproducible train/val/test assignment by content hash of
    * `keyCol` (default 80/10/10). Key on a stable document id — NOT
    * the text — when near-dup handling is done elsewhere; key on
    * normalized content to make exact dups co-assigned.
    */
  def splitLabel(keyCol: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val b = hashBucket(keyCol)
    when(b < trainPct, "train")
      .when(b < trainPct + valPct, "val")
      .otherwise("test")
  }

  def withSplit(df: DataFrame, keyCol: String, trainPct: Int = 80,
                valPct: Int = 10): DataFrame =
    df.withColumn("split", splitLabel(col(keyCol), trainPct, valPct))

  /** Deterministic `fraction` sample: keep a row iff its 1/10000
    * hash bucket falls under the fraction. Same row set on every
    * run and every cluster layout; `salt` decorrelates independent
    * samples of the same data. The filter is scan-local (no shuffle,
    * evaluated row-by-row inside the scan stage) — being a derived
    * expression it is not a parquet-pushable predicate, so it prunes
    * rows, not row groups.
    */
  def sampleByHash(df: DataFrame, keyCol: Column, fraction: Double,
                   salt: String = ""): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction must be in [0,1]")
    df.filter(
      hashBucket(concat(keyCol.cast("string"), lit(salt)), 10000)
        < math.round(fraction * 10000).toInt)
  }

  /** Deterministic STRATIFIED sample: per-stratum keep fractions
    * (the domain/language mixing knob of a training-data pipeline —
    * "keep 100% of books, 10% of web, 1% of logs"). Same content-hash
    * bucket mechanics as [[sampleByHash]], so the kept set is
    * reproducible across runs, clusters, and engines, and the filter
    * stays scan-local — no shuffle, no per-stratum pass: one CASE
    * over the stratum column picks the threshold, one hash prunes
    * the row. Strata absent from `fractions` keep `defaultFraction`.
    */
  /** Deterministic weighted sampling WITHOUT replacement (SURVEY §2
    * D86) — keep the k documents a weight column says matter most,
    * with the right randomness: top-k by (ln w + Gumbel) is exactly
    * weighted sampling without replacement with inclusion ∝ w
    * (Efraimidis & Spirakis 2006 via the Gumbel-max identity — the
    * standalone generalization of the trick DSIR (D46) uses with its
    * log-ratio weights). The quality-weighted subsample step of a
    * corpus budget ("keep 1M docs, proportional to classifier
    * score") without a full sort: TakeOrdered top-k.
    *
    * Determinism (the D46 scheme end-to-end): the "randomness" is the
    * md5-head uniform of (seed, id); both ln terms quantize to micro
    * units BEFORE the integer key compare, and the AndGuard flavor
    * returns the min distance of EITHER pre-round double to its
    * rounding boundary over the whole corpus — `> 1e-7` certifies any
    * engine recomputing the lns picks the identical k-set. Rows with
    * null/non-positive weight are excluded (weight 0 = never).
    * Ties break on id ascending.
    */
  def weightedSampleTopK(df: DataFrame, idCol: String, weightCol: String,
                         k: Int, seed: String = "wsample"): DataFrame =
    weightedSampleTopKAndGuard(df, idCol, weightCol, k, seed)._1

  def weightedSampleTopKAndGuard(df: DataFrame, idCol: String,
                                 weightCol: String, k: Int,
                                 seed: String = "wsample"): (DataFrame, DataFrame) = {
    require(k > 0, s"k must be positive, got $k")
    val pos = graft.CacheScope.persist(
      df.filter(col(weightCol).isNotNull && col(weightCol) > 0))
    val lnwRaw = log(col(weightCol).cast("double")) * 1e6
    val gRaw = Dsir.gumbelMicroRaw(idCol, seed)
    val sample = pos
      .withColumn("sample_key",
        round(lnwRaw).cast("long") + round(gRaw).cast("long"))
      .orderBy(col("sample_key").desc, col(idCol).asc)
      .limit(k)
    val guard = pos.select(
        least(abs(lnwRaw - floor(lnwRaw) - lit(0.5)),
          abs(gRaw - floor(gRaw) - lit(0.5))).as("_d"))
      .agg(coalesce(min(col("_d")), lit(0.5)).as("min_key_dist"))
    (sample, guard)
  }

  def stratifiedSampleByHash(df: DataFrame, keyCol: Column, stratumCol: Column,
                             fractions: Map[String, Double],
                             defaultFraction: Double = 0.0,
                             salt: String = ""): DataFrame = {
    (fractions.values.toSeq :+ defaultFraction).foreach(f =>
      require(f >= 0 && f <= 1, "fractions must be in [0,1]"))
    val threshold = fractions.foldLeft(lit(math.round(defaultFraction * 10000).toInt)) {
      case (acc, (stratum, f)) =>
        when(stratumCol === stratum, lit(math.round(f * 10000).toInt)).otherwise(acc)
    }
    df.filter(
      hashBucket(concat(keyCol.cast("string"), lit(salt)), 10000) < threshold)
  }

  /** Sequence packing for LLM pretraining (concatenate-and-chunk):
    * documents are laid out in a deterministic stream and cut into
    * fixed `contextLen` token windows; each doc learns which pack it
    * starts in and at what offset (docs may straddle pack boundaries,
    * exactly like GPT-style "concat then chunk" batching).
    *
    * Scale shape: a single global greedy pack would serialize 100 TB
    * through one ordered window — instead documents are content-hash
    * bucketed into `buckets` independent streams, each packed by a
    * window partitioned on the bucket (P-way parallel, deterministic
    * given the key). Pack identity is (bucket, chunk index within the
    * bucket's stream).
    */
  def packSequences(df: DataFrame, keyCol: Column, tokenCol: Column,
                    contextLen: Int, buckets: Int = 1024): DataFrame = {
    require(contextLen > 0 && buckets > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_bucket")).orderBy(keyCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("_bucket", hashBucket(keyCol, buckets))
      .withColumn("_cum_before", sum(tokenCol).over(w) - tokenCol)
      .withColumn("pack_id",
        concat(col("_bucket"), lit("_"), expr(s"_cum_before DIV $contextLen")))
      .withColumn("pack_offset", col("_cum_before") % contextLen)
      .drop("_bucket", "_cum_before")
  }

  /** PII redaction for text columns: e-mail addresses → `<EMAIL>`,
    * 10+-digit runs (phone/national-id shaped) → `<NUM>`. Patterns
    * are deliberately RE2-compatible (no backrefs/lookbehind) so the
    * exact transform is portable across engines.
    */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(c, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      "[0-9]{10,}", "<NUM>")

  /** Deterministic epoch shuffle key: md5 of (seed, key). ORDER BY
    * this column is the reproducible global permutation training
    * epochs need — a different `seed` per epoch gives an independent
    * permutation of the same corpus. Plan shape: the key is
    * scan-local; the sort is Spark's range-partitioned global sort
    * (sampled range boundaries, every partition sorts in parallel) —
    * there is NO single-task window and NO global row-number here,
    * because a position COLUMN would funnel 100 TB through one task;
    * consumers that need positions take them from the distributed
    * rank ([[graft.operators.Rank.globalRank]]).
    */
  def shuffleKey(keyCol: Column, seed: String): Column =
    md5(concat(lit(seed), lit(":"), keyCol.cast("string")))

  /** The corpus in deterministic shuffled order for one epoch. */
  def epochShuffle(df: DataFrame, keyCol: Column, seed: String): DataFrame =
    df.withColumn("shuffle_key", shuffleKey(keyCol, seed))
      .orderBy(col("shuffle_key"))

  /** D94 key arithmetic, exposed for spec-drive at arbitrary (r, q):
    * pos_key = floor((2r+1)·1e12 / (2q)) in EXACT decimal integer
    * arithmetic — the D89 pmod-exact floor (a plain decimal division
    * rounds at scale 6 BEFORE floor and mis-floors once 2q > ~2e6,
    * i.e. at any real per-source size). All values positive; the
    * quotient is < 1e12 so the final cast is lossless.
    */
  def interleaveKey(rCol: Column, qCol: Column): Column = {
    val dec = "decimal(38,0)"
    val a = (rCol.cast("long") * 2 + 1).cast(dec) *
      lit(1000000000000L).cast(dec)
    val b = (qCol.cast("long") * 2).cast(dec)
    ((a - pmod(a, b)) / b).cast("long")
  }

  /** D94: deterministic proportional source interleaving — the
    * mixture EXECUTION step after selection (D48 quotas, D86
    * weighted sampling, D46 DSIR): emit a TOTAL ORDER over the mixed
    * corpus in which every source appears evenly at its share, so a
    * sequential reader (the dataloader) sees the mixture ratio in
    * every window of the schedule instead of source-sized runs —
    * proportional sampling with NO RNG state. Fractional-position
    * rule: the doc at within-source rank r (0-based, of q) goes to
    * schedule position (2r+1)/(2q); any prefix of the order then
    * carries each source's proportional share to within ~1 doc
    * (spec-pinned).
    *
    * Exactness: within-source order is the D30 shuffle key (md5 of
    * seed:id, ties on id — a total order, engine-exact);
    * [[interleaveKey]] is exact integer arithmetic; global ties
    * (sources at identical fractions) break on (source, id).
    *
    * Plan shape: rank = row_number over a window PARTITIONED BY
    * SOURCE (parallel across sources — never a global sort);
    * per-source counts ride a broadcast source-bounded dim; output
    * carries pos_key — materialize the order at scale with
    * `repartitionByRange(pos_key)` + sort-within (the D77/D30 write
    * discipline), never a global row_number. Null sources group
    * together (SQL semantics, the shared A18 rule); ids must be
    * non-null (the rank tie-break).
    */
  def interleaveBySource(df: DataFrame, sourceCol: Column, idCol: Column,
                         seed: String = "interleave-0"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("_sk"), col("id"))
    // q rides the SAME source partition as the rank (window, not a
    // join): one exchange serves both, and a NULL source stays a
    // group — an equi-join here would silently drop null-source rows
    // (NULL = NULL is not true), breaking the contract above
    val wq = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    df.select(sourceCol.as("source"), idCol.as("id"),
        shuffleKey(idCol, seed).as("_sk"))
      .withColumn("r", (row_number().over(w) - 1).cast("long"))
      .withColumn("q", count(lit(1)).over(wq))
      .drop("_sk")
      .select(col("source"), col("id"), col("r"), col("q"),
        interleaveKey(col("r"), col("q")).as("pos_key"))
  }

  /** Per-source keep fractions that hit a TOKEN budget with
    * temperature-weighted mixing — the "data mixture" step before
    * sampling: target share of source s ∝ tokens_s^temperature
    * (1.0 = proportional/no reweighting, 0.5 = upweight small
    * sources, 0 = uniform), capped at taking a source whole.
    * Output (source, tokens, keep_frac); feed keep_frac to
    * [[stratifiedSampleByHash]] to materialize the mixture.
    * One aggregation + a broadcast-scalar normalizer — the corpus is
    * scanned once, the arithmetic is per-SOURCE (bounded dimension).
    * Use temperature 0.5/1.0 where oracle-exactness matters: sqrt
    * and identity are correctly rounded everywhere, arbitrary pow
    * may differ in the last ulp across math libraries.
    */
  def tokenBudgetFractions(df: DataFrame, tokenCol: Column, sourceCol: Column,
                           budgetTokens: Long,
                           temperature: Double = 1.0): DataFrame = {
    val perSource = df.groupBy(sourceCol.as("source"))
      .agg(sum(tokenCol.cast("long")).as("tokens"))
    val w =
      if (temperature == 1.0) col("tokens").cast("double")
      else if (temperature == 0.5) sqrt(col("tokens").cast("double"))
      else if (temperature == 0.0) lit(1.0)
      else pow(col("tokens").cast("double"), lit(temperature))
    // weights quantize to micro-units so the normalizer is an EXACT
    // integer sum — a double reduction over sources would make the
    // fractions depend on reduction order (same discipline as
    // TokenStats.crossEntropy / Drift.categoricalPsi)
    val weighted = perSource.withColumn("_w", round(w * 1e6).cast("long"))
    val norm = weighted.agg(sum(col("_w")).as("_wsum"))
    weighted.crossJoin(broadcast(norm))
      .select(col("source"), col("tokens"),
        // guards: a zero-token source (or an all-zero-weight corpus)
        // keeps nothing rather than raising ANSI divide-by-zero
        round(when(col("tokens") > 0 && col("_wsum") > 0,
          least(lit(1.0),
            (lit(budgetTokens.toDouble) * col("_w") / col("_wsum")) / col("tokens")))
          .otherwise(lit(0.0)), 4)
          .as("keep_frac"))
  }

  /** Exactly `k` rows per stratum (fewer when the stratum is
    * smaller), picked by md5 rank within the stratum — deterministic
    * "balanced eval set" sampling: same rows on every run, engine,
    * and partitioning, unlike an RNG reservoir. The window partitions
    * BY STRATUM, so strata rank in parallel; only a stratum with more
    * rows than one task can sort funnels — for per-source/per-language
    * quotas that is the expected cardinality regime.
    *
    * Determinism contract: the rank orders by (md5(seed, key),
    * key-as-string) — the string-cast key breaks the tie when two
    * DIFFERENT keys collide on md5 (astronomically rare) AND pins the
    * order when the SAME key repeats within a stratum, where the hash
    * alone would leave row_number partitioning-dependent. The
    * tiebreaker casts to string (the same representation the hash
    * already relies on) rather than ordering the raw key, so
    * non-orderable key types (maps, structs-of-maps) stay supported.
    * Rows that are full duplicates on (stratum, key) remain
    * interchangeable: the sample is deterministic as a multiset of
    * keys, but WHICH physical row represents a duplicated key is
    * unspecified — callers needing row-level determinism must pass a
    * unique key.
    */
  def samplePerStratum(df: DataFrame, stratumCol: Column, keyCol: Column,
                       k: Int, seed: String = "s1"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol).orderBy(shuffleKey(keyCol, seed), keyCol.cast("string"))
    df.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= k)
      .drop("_rk")
  }

  /** Cluster-balanced subsample — the diversity-preserving selection
    * step of the SemDeDup/DataComp pipeline family: given a cluster
    * assignment (e.g. [[graft.ann.Ann.assignClusters]] output), keep
    * `budget` rows total with per-cluster quotas ∝ |c|^temperature —
    * τ=1 proportional, τ=0.5 upweights small clusters (topic
    * long-tail), τ=0 uniform across clusters. Deduplicating or
    * subsampling per SEMANTIC CLUSTER instead of uniformly keeps the
    * long tail a uniform sample would starve.
    *
    * Determinism contract (engine/partitioning-exact, no float
    * boundary anywhere):
    *  - cluster weights micro-quantize (τ∈{0,0.5,1} recommended where
    *    oracle-exactness matters, as [[tokenBudgetFractions]]);
    *  - quotas FLOOR-allocate in pure integer arithmetic
    *    (budget·w_c DIV Σw, capped at the cluster size) — never a
    *    float round, so no half-up/half-even boundary; the floor may
    *    leave a few of the `budget` seats unfilled, documented
    *    behavior;
    *  - members are picked by md5 rank within the cluster (the
    *    [[samplePerStratum]] window: parallel across clusters, same
    *    rows on every run/engine).
    *
    * Plan: one size aggregation (bounded by the cluster count — a
    * dimension), a broadcast-scalar normalizer, a broadcast quota
    * join, and ONE rank window partitioned by cluster. No global
    * sort, no corpus-sized broadcast.
    */
  def clusterBalancedSample(df: DataFrame, clusterCol: Column, keyCol: Column,
                            budget: Long, temperature: Double = 0.5,
                            seed: String = "cb"): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val sizes = df.groupBy(clusterCol.as("_cl")).agg(count(lit(1)).as("_n"))
    val w =
      if (temperature == 1.0) col("_n").cast("double")
      else if (temperature == 0.5) sqrt(col("_n").cast("double"))
      else if (temperature == 0.0) lit(1.0)
      else pow(col("_n").cast("double"), lit(temperature))
    val weighted = sizes.withColumn("_w", round(w * 1e6).cast("long"))
    val norm = weighted.agg(sum(col("_w")).as("_wsum"))
    // the budget·w product runs in DECIMAL(38,0): with long arithmetic
    // budget·n·1e6 overflows (and silently drops whole clusters via a
    // negative quota) already at budget 1e4 × a 1e9-row cluster —
    // decimal keeps the product exact to 38 digits and DIV is still
    // the exact integral floor
    val quotas = weighted.crossJoin(broadcast(norm))
      .select(col("_cl"),
        least(col("_n"),
          expr(s"CAST(${budget} AS DECIMAL(38,0)) * _w DIV _wsum"))
          .as("_quota"))
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy(clusterCol).orderBy(shuffleKey(keyCol, seed), keyCol.cast("string"))
    df.join(broadcast(quotas), clusterCol === col("_cl"))
      .withColumn("_rk", row_number().over(rk))
      .filter(col("_rk") <= col("_quota"))
      .drop("_cl", "_quota", "_rk")
  }

  /** Sliding-window document chunking: each document's whitespace
    * token sequence is cut into windows of `chunkLen` tokens
    * advancing by `chunkLen − overlap` (the RAG / context-prep
    * shape — every token is covered, consecutive chunks share
    * `overlap` tokens, the final chunk may be shorter). Output one
    * row per (doc, chunk): (id, chunk_id, chunk_start, chunk_tokens,
    * chunk_text), chunk_id and the token offset 0-based.
    *
    * Scale shape: MAP-ONLY — the token array, the chunk-index
    * sequence, and the slices are all computed inside the scan stage
    * (no shuffle, no window function, no per-doc state), so the
    * operator is embarrassingly parallel and row-output-bounded:
    * ~n_tokens/(chunkLen−overlap) rows per doc regardless of corpus
    * size. Whitespace-only documents produce no chunks (there is
    * nothing to pack); documents shorter than `chunkLen` produce
    * exactly one.
    */
  def chunkDocs(df: DataFrame, textCol: String, idCol: String,
                chunkLen: Int, overlap: Int = 0): DataFrame = {
    require(chunkLen > 0, s"chunkLen must be positive, got $chunkLen")
    require(overlap >= 0 && overlap < chunkLen,
      s"overlap must be in [0, chunkLen), got $overlap")
    val stride = chunkLen - overlap
    val base = df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), split(trim(col(textCol)), " +").as("_toks"))
      .withColumn("_n", size(col("_toks")))
    // last chunk index: 0 when the doc fits one window, else
    // ceil((n − chunkLen)/stride) — integer-exact via long DIV
    // (ADVICE r11: the old double-division form was exact only below
    // 2^53 and off the repo-wide integer-DIV discipline)
    val lastChunk = when(col("_n") <= chunkLen, lit(0L))
      .otherwise(expr(s"(CAST(_n AS BIGINT) - ${chunkLen} + ${stride - 1})" +
        s" DIV ${stride}"))
    base
      .select(col(idCol), col("_toks"),
        explode(sequence(lit(0L), lastChunk)).as("chunk_id"))
      .withColumn("_slice",
        slice(col("_toks"), (col("chunk_id") * stride + 1).cast("int"), lit(chunkLen)))
      .select(col(idCol), col("chunk_id"),
        (col("chunk_id") * stride).as("chunk_start"),
        size(col("_slice")).cast("long").as("chunk_tokens"),
        array_join(col("_slice"), " ").as("chunk_text"))
  }

  /** Leakage-safe train/val/test split: near-duplicate documents must
    * never straddle a split boundary (a val/test doc with a near-dup
    * in train is contamination, not evaluation). Given the near-dup
    * `pairs` frame (from `Dedup.jaccardJoin` / `minhashPairs` /
    * `Ann.embeddingNearDupPairs`), every connected COMPONENT of the
    * pair graph is assigned as a unit: the split key is the
    * component's canonical (minimum) member id, so all members hash
    * into the same bucket; documents untouched by any pair key on
    * their own id — identical to [[withSplit]] for them. Output =
    * `df` + (group_id, split).
    *
    * Scale shape: components via the distributed min-label/pointer-
    * jumping pass (O(log diameter) rounds, see
    * [[graft.dedup.Components.connectedComponents]]); the label frame
    * is pair-graph-sized (usually ≪ corpus), joined back LEFT so the
    * untouched majority of the corpus takes one broadcast-or-shuffle
    * join and the scan-local hash — no per-doc state, no global sort.
    */
  def leakageSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
                       aCol: String = "id_a", bCol: String = "id_b",
                       trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val comp = graft.dedup.Components.connectedComponents(pairs, aCol, bCol)
      .select(col("node").as("_n"), col("component").as("_c"))
    df.join(comp, df(idCol) === col("_n"), "left")
      .withColumn("group_id", coalesce(col("_c"), df(idCol).cast("long")))
      .drop("_n", "_c")
      .withColumn("split", splitLabel(col("group_id"), trainPct, valPct))
  }

  /** Split balance audit (SURVEY §2 D82 — the verification step after
    * [[withSplit]]: hash splitting only preserves stratum shares in
    * EXPECTATION; a skewed or small stratum can land lopsided, and a
    * val set missing a language is a silent eval bug). Per
    * (split, stratum): rows, the stratum's share WITHIN the split and
    * its GLOBAL share (tie-safe basis points), and the absolute
    * deviation — the claim a gate can threshold.
    *
    * One corpus groupBy on (split, stratum); every rollup after it is
    * over the ≤ splits×strata cell frame (persisted — it feeds three
    * aggregates).
    */
  def splitBalanceReport(df: DataFrame, keyCol: String, strataCol: String,
                         trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val cells = graft.CacheScope.persist(
      withSplit(df, keyCol, trainPct, valPct)
        .groupBy(col("split"), col(strataCol).cast("string").as("stratum"))
        .agg(count(lit(1)).as("rows")))
    val splitTot = cells.groupBy("split").agg(sum(col("rows")).as("_st"))
    val stratTot = cells.groupBy("stratum").agg(sum(col("rows")).as("_gt"))
    val grand = cells.agg(sum(col("rows")).as("_g"))
    cells.join(splitTot, "split").join(stratTot, "stratum")
      .crossJoin(broadcast(grand))
      .select(col("split"), col("stratum"), col("rows"),
        expr("(2*rows*10000 + greatest(_st,1L)) DIV (2*greatest(_st,1L))")
          .as("share_bp"),
        expr("(2*_gt*10000 + greatest(_g,1L)) DIV (2*greatest(_g,1L))")
          .as("global_bp"))
      .withColumn("dev_bp", abs(col("share_bp") - col("global_bp")))
      .orderBy("split", "stratum")
  }
}
