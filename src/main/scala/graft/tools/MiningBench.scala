package graft.tools

import org.apache.spark.sql.functions._

/** Timed run of the BLOCKED margin-mining production path (D97b) at
  * a given corpus / cell-count / salt dial — the wall-clock evidence
  * companion to [[MiningVolume]]'s candidate-volume forecast: volume
  * says the plan is sub-quadratic, this says the minutes are real.
  * Usage: runMain graft.tools.MiningBench <dir> [cells] [salt]
  * Prints one JSON line.
  */
object MiningBench {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "bigdata/x50"
    val cells = if (args.length > 1) args(1).toInt else 16
    val salt = if (args.length > 2) args(2).toInt else 4
    val spark = graft.Session.local()
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val src = emb.filter(col("vec_id") % 2 === 0)
    val tgt = emb.filter(col("vec_id") % 2 === 1)
    val cents = graft.ann.Ann.trainCentroidsBySample(
      emb, "embedding", "vec_id", cells)
    val t0 = System.nanoTime()
    val n = graft.ann.Ann.marginMiningBlocked(
      src, "vec_id", "embedding", tgt, "vec_id", "embedding",
      cents, k = 4, thresholdMicro = 1000000L, saltBuckets = salt).count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"dir":"$dir","cells":$cells,"salt":$salt,""" +
      f""""n_src":${src.count()},"n_tgt":${tgt.count()},""" +
      f""""mined_pairs":$n,"wall_sec":$sec%.1f}""")
    spark.stop()
  }
}
