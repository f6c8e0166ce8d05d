package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style data selection via importance resampling (Xie et al.,
  * "Data Selection for Language Models via Importance Resampling",
  * NeurIPS 2023): score each RAW document by how much more likely its
  * hashed n-gram bag is under a TARGET corpus model than under the
  * raw corpus model, then sample the raw corpus with Gumbel top-k on
  * the importance weights — the standard recipe for tilting a web
  * crawl toward a high-quality target domain without hard filters.
  *
  * Spark-first shape, all corpus-linear:
  *  - features: unigram + bigram tokens hashed into `buckets` via the
  *    portable md5-head bucket ([[Pipeline.hashBucket]] mechanics) —
  *    map-only explode inside the scan stage;
  *  - the two bag-of-buckets models are ONE map-side-combined groupBy
  *    per corpus (bounded output: ≤ `buckets` rows each);
  *  - per-doc scores are one bucket-keyed join against the bounded
  *    log-ratio table (broadcast when it fits, which `buckets` ≤ 1e5
  *    guarantees) + one per-doc aggregation;
  *  - the resample is a TakeOrdered top-k on a deterministic
  *    content-hash Gumbel key — no RNG state, no global sort: same
  *    selection on every run, cluster layout, and engine.
  *
  * Float discipline (repo-wide): per-bucket log ratios quantize to
  * MICRO-NATS (long) so every per-doc score is an exact integer sum —
  * reduction-order-independent, bit-stable across partitionings and
  * engines — the same contract as
  * [[graft.text.TokenStats.crossEntropy]].
  */
object Dsir {

  /** Hashed unigram+bigram bag-of-features: (id, bucket, cnt).
    * Bigram features hash the space-joined pair, which cannot collide
    * with a unigram feature by construction (tokens are whitespace-
    * split, so no unigram contains a space). Map-only until the
    * per-doc bucket groupBy.
    */
  def hashedFeatures(df: DataFrame, textCol: String, idCol: String,
                     buckets: Int = 10000,
                     portableHash: Boolean = true): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val toks = df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), split(trim(col(textCol)), " +").as("_t"))
    val uni = toks.select(col(idCol), explode(col("_t")).as("_f"))
    val bi = toks.filter(size(col("_t")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(1, size(_t) - 1), i -> concat(_t[i-1], ' ', _t[i]))"))
        .as("_f"))
    val bucket =
      if (portableHash) Pipeline.hashBucket(col("_f"), buckets)
      // the 100 TB knob: xxhash64 is ~20x cheaper per feature than
      // md5 and deterministic within Spark — same statistics, same
      // plan; only the cross-engine (DuckDB-auditable) bucket
      // identity is given up
      else pmod(xxhash64(col("_f")), lit(buckets.toLong))
    uni.unionByName(bi)
      .select(col(idCol), bucket.as("bucket"))
      .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("cnt"))
  }

  // Per-bucket importance log-ratio table (bucket, lr_micro) with
  // λ_b = ln((t_b + 1)/(T + B)) − ln((r_b + 1)/(R + B)) (add-one
  // smoothing over the `buckets`-sized feature space, so buckets
  // unseen in either corpus are defined); bounded by `buckets` — a
  // dimension, not a corpus: safe to broadcast. Built from
  // PRE-COMPUTED (id, bucket, cnt) feature frames —
  // lets importanceWeights featurize the raw corpus ONCE and reuse
  // the persisted frame for both the model and the scoring pass.
  // Besides the quantized lr_micro, each bucket carries
  // `lr_bound_dist`: the distance (in micro-nats) of the PRE-ROUND
  // double λ·1e6 from its nearest .5 rounding boundary. ln() is a
  // libm call whose last ulp differs across engines/builds (JVM
  // Math.log vs a DuckDB build's libm — observed r10: 1-ulp flips at
  // quantization boundaries on one DuckDB build but not another), so
  // the integer λ table is only engine-portable when every bucket is
  // FAR from its boundary relative to that ulp (~1e-8 micro at λ ≤
  // 30 nats). Gate queries assert min(lr_bound_dist) > 1e-7 as a
  // guard row — a violated claim fails loudly instead of producing a
  // build-specific hash.
  private def bucketLogRatiosFromFeatures(targetFeats: DataFrame,
                                          rawFeats: DataFrame,
                                          buckets: Int): DataFrame = {
    val t = targetFeats.groupBy(col("bucket")).agg(sum(col("cnt")).as("_tc"))
    val r = rawFeats.groupBy(col("bucket")).agg(sum(col("cnt")).as("_rc"))
    val joined = t.join(r, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("_tc"), lit(0L)).as("_tc"),
        coalesce(col("_rc"), lit(0L)).as("_rc"))
    val totals = joined.agg(sum(col("_tc")).as("_tt"), sum(col("_rc")).as("_rt"))
    val lrMicroDbl =
      (log((col("_tc") + 1L).cast("double") / (col("_tt") + buckets).cast("double"))
        - log((col("_rc") + 1L).cast("double") / (col("_rt") + buckets).cast("double"))) * 1e6
    joined.crossJoin(broadcast(totals))
      .select(col("bucket"),
        round(lrMicroDbl).cast("long").as("lr_micro"),
        abs(lrMicroDbl - floor(lrMicroDbl) - lit(0.5)).as("lr_bound_dist"))
  }

  /** Per-document importance weights of the RAW corpus against the
    * TARGET: (id, feat_count, lr_micro, log_ratio) where lr_micro is
    * the EXACT integer micro-nat sum Σ_b c_b·λ_b (the Gumbel key
    * input) and log_ratio the human-readable total in nats (4 dp).
    * Positive = the document looks more like the target than like
    * the raw corpus.
    */
  def importanceWeights(raw: DataFrame, target: DataFrame,
                        textCol: String, idCol: String,
                        buckets: Int = 10000,
                        portableHash: Boolean = true): DataFrame =
    importanceWeightsAndGuard(raw, target, textCol, idCol, buckets, portableHash)._1

  /** [[importanceWeights]] plus a ONE-ROW guard frame
    * (`min_lambda_dist`): the minimum over the λ table of the
    * pre-round double's distance from its quantization boundary, in
    * micro-nats. Cross-engine libm drift on ln() is ≲1e-8 micro, so
    * `min_lambda_dist > 1e-7` certifies the integer λ table — and
    * with it every downstream lr_micro sum and Gumbel selection — is
    * bit-identical in ANY engine that recomputes it (the r10 lesson:
    * a contract that quantizes AFTER a transcendental is only
    * portable with an explicit boundary margin).
    */
  def importanceWeightsAndGuard(raw: DataFrame, target: DataFrame,
                                textCol: String, idCol: String,
                                buckets: Int = 10000,
                                portableHash: Boolean = true): (DataFrame, DataFrame) = {
    // the raw corpus is featurized ONCE: the persisted frame feeds
    // both the raw-side bucket model and the per-doc scoring join
    // (without the pin, Spark executes the tokenize+md5 explode
    // twice — measured 2× the operator's real cost at x10)
    val rawFeats = graft.CacheScope.persist(
      hashedFeatures(raw, textCol, idCol, buckets, portableHash))
    // the λ table is bounded by `buckets` (a dimension, not a
    // corpus); persisted because the guard aggregate and the scoring
    // join both consume it — without the pin the TARGET corpus would
    // featurize twice
    val lr = graft.CacheScope.persist(bucketLogRatiosFromFeatures(
      hashedFeatures(target, textCol, idCol, buckets, portableHash),
      rawFeats, buckets))
    // empty λ table (both corpora empty) → vacuously safe: 0.5 is the
    // maximum possible boundary distance, i.e. "no bucket at risk"
    val guard = lr.agg(
      coalesce(min(col("lr_bound_dist")), lit(0.5)).as("min_lambda_dist"))
    val weights = rawFeats
      .join(broadcast(lr.select(col("bucket"), col("lr_micro"))), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("feat_count"),
        sum(col("cnt") * col("lr_micro")).as("lr_micro"))
      // 4-dp display value derived by rounding in INTEGER micro-nat
      // space (x/100.0 puts every rounding tie on an exactly-
      // representable .5, which both engines round away from zero) —
      // round(lr_micro/1e6, 4) instead parks ties on unrepresentable
      // 6-decimal doubles, where Spark's BigDecimal shortest-string
      // rounding and DuckDB's binary-value rounding can disagree by
      // one ulp of the last decimal (observed at sf0.01)
      .withColumn("log_ratio",
        round(col("lr_micro") / 100.0).cast("long") / 10000.0)
    (weights, guard)
  }

  /** Deterministic Gumbel top-k resample over [[importanceWeights]]
    * output: key = lr_micro + round(g·1e6) with
    * g = −ln(−ln((h + 0.5)/2³²)) and h the 32-bit md5 head of
    * (seed, id) — the content-hash stand-in for the uniform draw, so
    * the sample is a pure function of (seed, id set, weights):
    * reproducible across runs, clusters, and engines, and a new seed
    * gives an independent resample (exactly the epoch-shuffle
    * contract of [[Pipeline.shuffleKey]]). Gumbel top-k on
    * log-weight + noise IS sampling-without-replacement ∝ weights
    * (the Gumbel-max trick), which is DSIR's sampling step. Top-k
    * resolves as TakeOrdered (per-partition heads, no global sort);
    * ties (same key) break on id ascending.
    */
  def resampleTopK(weights: DataFrame, idCol: String, k: Int,
                   seed: String = "dsir"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    weights
      .withColumn("gumbel_key",
        col("lr_micro") + round(gumbelMicroRaw(idCol, seed)).cast("long"))
      .orderBy(col("gumbel_key").desc, col(idCol).asc)
      .limit(k)
  }

  // the Gumbel noise term g·1e6 BEFORE rounding: g = −ln(−ln(u)) with
  // u the md5-head uniform draw of (seed, id) — shared by the key
  // construction and the boundary guard (and by Pipeline's
  // standalone weighted sampler, D86)
  private[pipeline] def gumbelMicroRaw(idCol: String, seed: String): Column = {
    val h = conv(substring(md5(concat(lit(seed), lit(":"),
      col(idCol).cast("string"))), 1, 8), 16, 10).cast("long")
    val u = (h.cast("double") + 0.5) / 4294967296.0
    -log(-log(u)) * 1e6
  }

  /** ONE-ROW guard (`min_gumbel_dist`) over ALL rows of a
    * [[importanceWeights]] frame: minimum distance of the pre-round
    * Gumbel noise double g·1e6 from its quantization boundary. The
    * selection order compares every document's integer key, so the
    * guard must cover the whole corpus, not just the emitted top-k —
    * `min_gumbel_dist > 1e-7` certifies every engine recomputing the
    * chained −ln(−ln(u)) (drift ≲1e-8 micro) rounds to the identical
    * integer key set, i.e. picks the identical top-k.
    */
  def gumbelBoundaryGuard(weights: DataFrame, idCol: String,
                          seed: String = "dsir"): DataFrame = {
    val x = gumbelMicroRaw(idCol, seed)
    weights.select(abs(x - floor(x) - lit(0.5)).as("_d"))
      // empty corpus → vacuously safe (see the λ guard)
      .agg(coalesce(min(col("_d")), lit(0.5)).as("min_gumbel_dist"))
  }
}
