package graft.tools

import org.apache.spark.sql.functions._
import graft.ann.{Ann, Pq}

/** PQ recall sweep (r15, r14 verdict #5): MEASURED recall@k of the
  * D99/D101 IVF-PQ read path against the exact L2 scan, for SAMPLED
  * vs LLOYD-TRAINED codebooks — the number that was missing before
  * anyone serves real queries with sampled banks. The gates keep
  * sampled codebooks (oracle-reproducible); this sweep records what
  * training buys at corpus scale.
  *
  * Usage:
  *   runMain graft.tools.PqRecall \
  *     [embDir] [nQueries] [k] [nlist] [nprobe] [m] [ksub] [rerank]
  * Prints one JSON line per codebook flavor.
  */
object PqRecall {

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val nQ = if (args.length > 1) args(1).toInt else 20
    val k = if (args.length > 2) args(2).toInt else 10
    val nlist = if (args.length > 3) args(3).toInt else 16
    val nprobe = if (args.length > 4) args(4).toInt else 4
    val m = if (args.length > 5) args(5).toInt else 8
    val ksub = if (args.length > 6) args(6).toInt else 16
    val rerank = if (args.length > 7) args(7).toInt else 100
    val spark = graft.Session.local()
    val emb = graft.CacheScope.persist(
      spark.read.parquet(s"$dir/embeddings.parquet"))
    val n = emb.count()
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    println(s"corpus $dir: vectors=$n dim=$dim nlist=$nlist nprobe=$nprobe " +
      s"m=$m ksub=$ksub rerank=$rerank")
    // query frame: every (n/nQ)-th vector — deterministic, spread
    val step = math.max(1L, n / nQ)
    val queries = emb.filter(pmod(col("vec_id"), lit(step)) === 0)
      .limit(nQ).select(col("vec_id").as("qid"), col("embedding").as("qv"))
    // exact L2 batch top-k (micro-long scores, ties id asc) — the
    // recall reference
    val exact = emb.select(col("vec_id").cast("long").as("_cid"), col("embedding").as("_cv"))
      .crossJoin(broadcast(queries))
      .select(col("qid").cast("long").as("query_id"), col("_cid"),
        round((Ann.dot(col("qv"), col("qv")) -
          lit(2.0) * Ann.dot(col("_cv"), col("qv")) +
          Ann.dot(col("_cv"), col("_cv"))) * 1e6).cast("long").as("_l2"))
      .groupBy("query_id")
      .agg(graft.functions.TopKPairsAgg(-col("_l2"), col("_cid"), k).as("_top"))
      .select(col("query_id"), explode(col("_top")).as("_c"))
      .select(col("query_id"), col("_c.id").as("vec_id"))
    val exactPinned = graft.CacheScope.persist(exact)
    exactPinned.count()

    val coarse = Ann.trainCentroidsKMeans(emb, "embedding", "vec_id", nlist, iters = 2)
    val flavors = Seq(
      "sampled" -> (() => Pq.codebooksBySample(emb, "embedding", "vec_id", m, ksub, dim)),
      "trained" -> (() => Pq.codebooksKMeans(emb, "embedding", "vec_id", m, ksub, dim, iters = 3)))
    flavors.foreach { case (name, mk) =>
      val t0 = System.nanoTime()
      val cb = mk()
      val trainSec = (System.nanoTime() - t0) / 1e9
      val index = Pq.ivfPqIndex(emb, "embedding", "vec_id", coarse, cb)
      val t1 = System.nanoTime()
      val served = Pq.ivfPqBatchTopK(index, emb, "embedding", "vec_id", coarse,
        cb, queries, "qid", "qv", k, nprobe, rerank)
        .select(col("query_id"), col("vec_id"))
      val hits = served.join(exactPinned, Seq("query_id", "vec_id")).count()
      val serveSec = (System.nanoTime() - t1) / 1e9
      val qCount = exactPinned.select("query_id").distinct().count()
      val recall = hits.toDouble / (qCount * k)
      println(f"""{"codebooks":"$name","recall_at_$k":$recall%.4f,""" +
        f""""hits":$hits,"queries":$qCount,"train_sec":$trainSec%.1f,""" +
        f""""serve_sec":$serveSec%.1f}""")
    }
    spark.stop()
  }
}
