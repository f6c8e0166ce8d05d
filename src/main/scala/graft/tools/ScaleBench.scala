package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.dedup.{Components, Dedup}

/** Scale sweep over the dedup/similarity/components family (r8
  * verdict item #1): times each operator on a GenCorpus corpus
  * (x1/x3/x10) with the adaptive small-side gates DISABLED
  * (`allPairsMaxSets = 0`, `allPairsMaxDocs = 0`,
  * `smallGraphMaxEdges = 0`), so what gets measured at every scale is
  * the DISTRIBUTED branch — banded LSH, capped inverted index,
  * centroid bucketing, pointer-jumping components — not the
  * small-corpus shortcuts the per-round bench exercises.
  *
  * Protocol per tools/bench.md: run standalone java on an idle box;
  * per-query best-of-`runs` with failures excluded from timing; one
  * JSON line with 1-min load stamped before/after.
  */
object ScaleBench {

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "bigdata/x1"
    val runs = if (args.length > 1) args(1).toInt else 2
    val skip = if (args.length > 2) args(2).split(",").toSet else Set.empty[String]
    val spark = graft.Session.local()

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    // warm the reader/codegen paths; sizes to stdout for the record
    println(s"corpus $dir: docs=${docs.count()} emb=${emb.count()} cust=${cust.count()}")

    def minhash() =
      Dedup.minhashPairs(docs, "text", "doc_id", 0.75, allPairsMaxSets = 0)
    // D97b blocked margin mining: even vec_ids mine odd ones over 16
    // IVF cells (the first 16 vectors as centroids)
    def mining() = (emb.filter(col("vec_id") % 2 === 0), emb.filter(col("vec_id") % 2 === 1),
      Ann.trainCentroidsBySample(emb, "embedding", "vec_id", 16))

    val queries: Seq[(String, () => Long)] = Seq(
      "d1_exact_stats" -> (() => Dedup.exactDedupStats(docs, "text").count()),
      "d2_minhash" -> (() => minhash().count()),
      "d3_simhash" -> (() =>
        Dedup.simhashPairs(docs, "text", "doc_id", 3, chunks = 6).count()),
      // ABSOLUTE df-cap 1000: the relative default (0.5·N) grows with
      // the corpus, so constant-FRACTION tokens (the rep tags, df =
      // 10% of corpus) stay under it forever and contribute Σdf²
      // candidates — the sweep's key finding. An absolute cap bounds
      // candidate volume per token regardless of corpus size; recall
      // here is unaffected (cluster pairs share df≈reps tokens).
      "d4_jaccard" -> (() =>
        Dedup.jaccardJoin(docs, "text", "doc_id", 0.75, dfCap = 1000,
          allPairsMaxDocs = 0).count()),
      "d5_embed_dup" -> (() =>
        Ann.cosinePairs(emb, "embedding", "vec_id", 0.99).count()),
      "d21_components" -> (() =>
        Components.connectedComponents(minhash(), "id_a", "id_b",
          smallGraphMaxEdges = 0).count()),
      // PRODUCTION defaults (no forced gate): at x50 the ~6M-edge
      // graph exceeds the 500k union-find bound, so the distributed
      // pointer-jumping fixpoint engages because the DATA demands it
      "d21_natural" -> (() =>
        Components.connectedComponents(minhash(), "id_a", "id_b").count()),
      "d33_sempairs" -> (() => {
        val cents = Ann.trainCentroidsBySample(emb, "embedding", "vec_id", 64)
        Ann.semanticPairs(emb, "embedding", "vec_id", cents, 0.99).count()
      }),
      // the MATCH pair count: every GenCorpus batch doc has a store
      // near-dup, so the kept-row count of dedupNearAgainstStore is 0
      // and could not show a lost or an extra match
      "d34_near_store" -> (() =>
        Dedup.nearDupMatches(
          docs.filter(pmod(col("doc_id"), lit(3)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(3)) === 0),
          "text", "doc_id", 0.75, dfCap = 1000, allPairsMaxDocs = 0).count()),
      // n-gram decontamination against a held-out slice (q_d23's
      // shape): the corpus streams through one long-keyed semi join
      "d23_decontam" -> (() =>
        Dedup.contaminatedIds(docs.filter(pmod(col("doc_id"), lit(11)) =!= 0), "text",
          "doc_id", docs.filter(pmod(col("doc_id"), lit(11)) === 0), "text", n = 5).count()),
      "d42_dedup_best" -> (() =>
        Components.dedupByPairsBest(docs, "doc_id", minhash(), "id_a", "id_b",
          size(split(trim(col("text")), " +")), smallGraphMaxEdges = 0).count()),
      // DEFAULT settings — which, since r9, means CandidateGuard is
      // live: the requested relative-cap plan measures ~1e8 candidate
      // rows here (112 s in the r8 sweep) and the guard auto-degrades
      // it to an absolute rung (8.8 s at x1, same pair set as the
      // hand-tuned cap-64 plan). This entry now measures the GUARDED
      // default a user actually gets; b4_cap64 below is the hand-
      // tuned reference it should track. The historical unguarded
      // number lives in SCALE_SWEEP.md Finding 1.
      "b4_string_sim" -> (() =>
        graft.similarity.StringSim.similarPairs(cust, "c_name", "c_custkey", 0.9)
          .count()),
      // the 100 TB configuration: absolute df-cap 64 bounds candidate
      // volume per gram; near-identical names still share sub-cap
      // rare grams, so the pairs that matter survive
      "b4_cap64" -> (() =>
        graft.similarity.StringSim.similarPairs(cust, "c_name", "c_custkey", 0.9,
          dfCap = 64).count()),
      // the COMPOSED 10-operator pipeline exactly as the driver gate
      // runs it (q_e2e_pipeline) — its internal gates are left at
      // their production defaults, so at x10 the minhash stage takes
      // the banded-LSH branch naturally (50k docs > allPairsMaxSets)
      "e2e_pipeline" -> (() =>
        graft.SparkEntry.queries("q_e2e_pipeline")(spark, dir).count()),
      // ---- ANN + profile families (r8 verdict #4): embeddings grow
      // 2k -> 20k -> 100k across x1/x10/x50, customer 15k -> 750k.
      // One query vector, collected once per run (1-row action).
      "d6_brute_topk" -> (() => {
        val q = emb.filter(col("vec_id") === 0).select("embedding")
          .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
        Ann.cosineTopK(emb, "embedding", "vec_id", q, 20).count()
      }),
      "d7_lsh_topk" -> (() => {
        val q = emb.filter(col("vec_id") === 0).select("embedding")
          .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
        Ann.lshTopKMultiProbe(emb, "embedding", "vec_id", q, 10).count()
      }),
      "d8_ivf_topk" -> (() => {
        val q = emb.filter(col("vec_id") === 0).select("embedding")
          .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
        val cents = Ann.trainCentroidsKMeans(emb, "embedding", "vec_id", 8, iters = 2)
        Ann.ivfTopK(emb, "embedding", "vec_id", cents, q, 10, nprobe = 3).count()
      }),
      "d29_assign" -> (() => {
        val cents = Ann.trainCentroidsBySample(emb, "embedding", "vec_id", 64)
        Ann.assignClusters(emb, "embedding", "vec_id", cents).count()
      }),
      "d36_pq_topk" -> (() => {
        val cb = graft.ann.Pq.codebooksBySample(emb, "embedding", "vec_id",
          m = 4, k = 4, dim = 64)
        val q = emb.filter(col("vec_id") === 0).select("embedding")
          .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
        graft.ann.Pq.adcTopK(
          graft.ann.Pq.encode(emb, "embedding", "vec_id", cb), "vec_id", cb, q, 10)
          .count()
      }),
      // single-scan profiler claim above sf0.1: the approx report is
      // ONE aggregate pass whatever the row count; reportBy adds one
      // shuffle on the group key
      "a15_report" -> (() =>
        graft.profile.Profiler.report(cust, approx = true).count()),
      "a16_report_by" -> (() =>
        graft.profile.Profiler.reportBy(cust, "c_mktsegment", approx = true).count()),
      "b17_dq_summary" -> (() =>
        graft.quality.Detector.dqSummary(cust, Seq(
          "c_name" -> Seq(graft.quality.Rule.LenBetween(5, 40)),
          "c_acctbal" -> Seq(graft.quality.Rule.NumBetween(-1000, 10000)),
          "c_mktsegment" -> Seq(graft.quality.Rule.NoDigits, graft.quality.Rule.NoSpaces)))
          .count()),
      // ---- r10 additions: chunking is map-only (should track the
      // scan, i.e. ~linear); bigram xent is two token-keyed shuffles;
      // leakage split composes minhash pairs + components + hash
      "d43_chunking" -> (() =>
        graft.pipeline.Pipeline.chunkDocs(docs, "text", "doc_id",
          chunkLen = 64, overlap = 16).count()),
      "d44_bigram" -> (() => {
        val lm = graft.text.TokenStats.bigramCounts(docs, "text", "doc_id")
        graft.text.TokenStats.bigramCrossEntropy(docs, "text", "doc_id", lm).count()
      }),
      "d45_leakage_split" -> (() =>
        graft.pipeline.Pipeline.leakageSafeSplit(docs, "doc_id",
          minhash()).count()),
      // ---- r10 late additions: DSIR (two bounded bucket models +
      // one broadcast log-ratio join), dup-span detection (corpus-
      // linear fingerprints: one groupBy + one join back), cluster-
      // balanced sample (bounded quota frame + per-cluster rank)
      "d46_dsir" -> (() => {
        val tgt = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        val w = graft.pipeline.Dsir.importanceWeights(docs, tgt, "text", "doc_id")
        graft.pipeline.Dsir.resampleTopK(w, "doc_id", k = 100).count()
      }),
      "d47_dup_spans" -> (() =>
        graft.dedup.Spans.duplicatedSpanStats(docs, "text", "doc_id",
          spanLen = 8).count()),
      "d48_cluster_sample" -> (() => {
        val cents = Ann.trainCentroidsBySample(emb, "embedding", "vec_id", 64)
        val asg = Ann.assignClusters(emb, "embedding", "vec_id", cents)
        graft.pipeline.Pipeline.clusterBalancedSample(asg, col("cluster_id"),
          col("vec_id"), budget = 1000, temperature = 0.5).count()
      }),
      // the portableHash=false fast path (xxhash64 instead of md5):
      // same plans, same statistics — measures what the 100 TB
      // configuration saves by giving up cross-engine auditability
      "d46_fast_hash" -> (() => {
        val tgt = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        val w = graft.pipeline.Dsir.importanceWeights(docs, tgt, "text", "doc_id",
          portableHash = false)
        graft.pipeline.Dsir.resampleTopK(w, "doc_id", k = 100).count()
      }),
      "d47_fast_hash" -> (() =>
        graft.dedup.Spans.duplicatedSpanStats(docs, "text", "doc_id",
          spanLen = 8, portableHash = false).count()),
      "d51_novel_spans" -> (() =>
        graft.dedup.Spans.novelSpanStats(
          docs.filter(pmod(col("doc_id"), lit(3)) === 1),
          docs.filter(pmod(col("doc_id"), lit(3)) === 0),
          "text", "doc_id", spanLen = 8).count()),
      // r11: the repair half of exact-substring dedup (coverage
      // explode bounded by duplicated volume x spanLen) and the
      // cross-source duplication matrix (one distinct + hash-keyed
      // join fanning out <= sources per content)
      "d58_span_removal" -> (() =>
        graft.dedup.Spans.removeDuplicateSpans(docs, "text", "doc_id",
          spanLen = 8).count()),
      "d59_source_overlap" -> (() =>
        graft.dedup.Sketch.sourceOverlapMatrix(docs, "text", "source").count()),
      "d50_fast_hash" -> (() =>
        graft.dedup.Spans.winnowOverlapPairs(docs, "text", "doc_id",
          k = 5, window = 4, minShared = 2, portableHash = false).count()),
      // keep-first line dedup (corpus doctored with a shared line per
      // doc so the keeper groupBy has real work) and winnowing pairs
      "d49_keep_first" -> (() =>
        graft.text.Boilerplate.keepFirstLineOccurrence(
          docs.withColumn("text",
            concat(col("text"), lit("\nshared attribution line"))),
          "text", "doc_id").count()),
      "d50_winnow" -> (() =>
        graft.dedup.Spans.winnowOverlapPairs(docs, "text", "doc_id",
          k = 5, window = 4, minShared = 2).count()),
      // ---- r11 second wave: keywords (one token shuffle + per-doc
      // rank), JS divergence (vocab-bounded full-outer join), map-only
      // decontam/projection/bloom scans, mergeable sketches, kNN bank
      "d60_keywords" -> (() =>
        graft.text.Keywords.tfIdfKeywords(docs, "text", "doc_id", k = 3).count()),
      "d61_js_div" -> (() =>
        graft.text.TokenStats.jsDivergence(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0),
          docs.filter(pmod(col("doc_id"), lit(2)) === 1),
          "text", "doc_id").count()),
      "d62_decontam" -> (() =>
        Ann.semanticContamination(emb, "embedding", "vec_id",
          emb.filter(pmod(col("vec_id"), lit(50)) === 0), "embedding", "vec_id",
          threshold = 0.9).count()),
      "d63_jl_project" -> (() =>
        Ann.randomProject(emb, "embedding", "vec_id", inDim = 64, outDim = 8)
          .count()),
      "d64_hll_merge" -> (() => {
        val cols = Seq("doc_id", "lang", "source")
        graft.profile.Profiler.mergeDistinctEstimates(Seq(
          graft.profile.Profiler.distinctSketches(
            docs.filter(pmod(col("doc_id"), lit(2)) === 0), cols),
          graft.profile.Profiler.distinctSketches(
            docs.filter(pmod(col("doc_id"), lit(2)) === 1), cols))).count()
      }),
      "d65_bloom_screen" -> (() => {
        val store = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        val bits = graft.dedup.Bloom.buildFilter(store,
          md5(col("text")), expectedItems = 1000000)
        graft.dedup.Bloom.screenBatch(
          docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
            .withColumn("_k", md5(col("text"))), col("_k"), bits).count()
      }),
      "d66_knn" -> (() => {
        val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0)
          .select(col("vec_id"), col("embedding")).orderBy("vec_id").collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
        Ann.knnClassify(emb, "embedding", "vec_id", "label", queries, k = 10)
          .count()
      }),
      "c23_nfc" -> (() =>
        docs.select(md5(graft.corrector.Corrector.normalizeUnicode(col("text"))))
          .count()),
      "e2e_ingest" -> (() =>
        graft.SparkEntry.queries("q_e2e_ingest")(spark, dir).count()),
      // ---- r11 third wave: snapshot freq sketches, domain-window URL
      // cap, k-anonymity census, bucketed range join (doctored integer
      // points), map-only canary automaton, 3-round integer PageRank
      "d69_freq_merge" -> (() => {
        def toks(h: org.apache.spark.sql.DataFrame) = h
          .select(explode(split(trim(col("text")), " +")).as("token"))
          .filter(length(col("token")) > 0)
        graft.profile.Profiler.mergeFrequentItems(Seq(
          graft.profile.Profiler.frequencySketch(
            toks(docs.filter(pmod(col("doc_id"), lit(2)) === 0)), "token", 64),
          graft.profile.Profiler.frequencySketch(
            toks(docs.filter(pmod(col("doc_id"), lit(2)) =!= 0)), "token", 64)),
          64).count()
      }),
      "d70_url_cap" -> (() => {
        val u = docs.withColumn("url", concat(lit("https://WWW.Site"),
          (col("doc_id") % 50).cast("string"), lit(".example.com/item"),
          col("doc_id").cast("string"), lit("?utm_source=x&id=1")))
        graft.text.Urls.capPerDomain(u, "url", "n_chars", "doc_id", 5).count()
      }),
      "d71_k_anon" -> (() =>
        graft.quality.Privacy.riskGroups(
          cust.withColumn("band", floor(col("c_acctbal") / 50).cast("long")),
          Seq("c_nationkey", "band"), "c_mktsegment", 4).count()),
      "d72_range_join" -> (() => {
        val pts = docs.select((col("doc_id") * 1000L).as("p"), col("doc_id"))
        val ivs = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
          .select(col("doc_id").as("iv"), (col("doc_id") * 1000L).as("s"),
            (col("doc_id") * 1000L + 50000L).as("e"))
        graft.operators.RangeJoin.pointInInterval(pts, "p", ivs, "s", "e",
          25000L).count()
      }),
      "d74_canary" -> (() =>
        graft.text.TextAnalysis.canaryScan(docs, "text", "doc_id",
          Seq("hash join", "slow scan", "merge", "canary_absent_xyz")).count()),
      "d75_pagerank" -> (() => {
        val e1 = docs.select((col("doc_id") % 50).as("src"),
          ((col("doc_id") * 7 + 3) % 50).as("dst"))
        val e2 = docs.select((col("doc_id") % 50).as("src"),
          expr("((doc_id DIV 50) * 13 + 1) % 50").as("dst"))
        graft.graph.PageRank.rankMicro(
          e1.unionByName(e2).filter(col("src") =!= col("dst")),
          "src", "dst", 3).count()
      }),
      // ---- r11 fourth wave: exact-integer KS over acctbal halves,
      // PMI over the corpus bigram frame, nano-nat entropy
      "d78_ks" -> (() =>
        graft.profile.Drift.ksStatistic(
          cust.filter(pmod(col("c_custkey"), lit(2)) === 0),
          cust.filter(pmod(col("c_custkey"), lit(2)) === 1),
          "c_acctbal").count()),
      "d80_pmi" -> (() =>
        graft.text.TokenStats.pmiCollocations(
          docs, "text", "doc_id", minCount = 5, k = 20).count()),
      "a21_entropy" -> (() =>
        graft.profile.Profiler.entropyProfile(
          cust, Seq("c_mktsegment", "c_nationkey")).count()),
      // rows = mined pairs, with 4 salt buckets per cell
      "d97b_margin_blocked" -> (() => {
        val (src, tgt, cents) = mining()
        Ann.marginMiningBlocked(src, "vec_id", "embedding", tgt, "vec_id", "embedding",
          cents, k = 4, thresholdMicro = 1000000L, saltBuckets = 4).count()
      }),
      // rows = the cosine evaluations the blocked path performs,
      // sum over cells of |src_c|·|tgt_c| (the exact path does
      // |src|·|tgt|): two map-only assignment scans and a 16-row join
      "d97b_cell_volume" -> (() => {
        val (src, tgt, cents) = mining()
        def cells(df: DataFrame, n: String) = df
          .groupBy(graft.functions.NearestCentroid(col("embedding"), cents).as("_cell"))
          .agg(count(lit(1)).as(n))
        cells(src, "ns").join(cells(tgt, "nt"), Seq("_cell"))
          .agg(coalesce(sum(col("ns") * col("nt")), lit(0L))).head().getLong(0)
      }))

    def loadAvg: Double = {
      val la = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      if (la >= 0) la else 0.0
    }
    // optional 4th arg: run ONLY these (comma-separated) — the
    // incremental-sweep complement of the skip list
    val only = if (args.length > 3) args(3).split(",").toSet else Set.empty[String]
    val loadBefore = loadAvg
    val results = queries
      .filterNot(q => skip.contains(q._1))
      .filter(q => only.isEmpty || only(q._1))
      .map { case (name, fn) =>
      val timed = (0 until runs).map { _ =>
        val t0 = System.nanoTime()
        val res =
          try Right(fn())
          catch { case t: Throwable => Left(t.getClass.getSimpleName) }
        graft.CacheScope.clear()
        ((System.nanoTime() - t0) / 1e9, res)
      }
      val ok = timed.filter(_._2.isRight)
      val err = timed.collectFirst { case (_, Left(e)) => e }.orNull
      if (err != null) System.err.println(s"SCALEBENCH FAILED: $name: $err")
      val best = (if (ok.nonEmpty) ok else timed).minBy(_._1)
      val rows = best._2.toOption.getOrElse(-1L)
      println(f"  $name%-16s ${best._1}%8.2f s  rows=$rows")
      (name, best._1, rows, err)
    }
    val loadAfter = loadAvg
    def f(v: Double) = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val qs = results.map { case (n, t, _, _) => s""""$n":${f(t)}""" }.mkString(",")
    val rw = results.map { case (n, _, r, _) => s""""$n":$r""" }.mkString(",")
    val nerr = results.count(_._4 != null)
    println(s"""{"dir":"$dir","total":${f(results.map(_._2).sum)},"nerr":$nerr,""" +
      s""""load":[${f(loadBefore)},${f(loadAfter)}],"queries":{$qs},"rows":{$rw}}""")
    spark.stop()
  }
}
