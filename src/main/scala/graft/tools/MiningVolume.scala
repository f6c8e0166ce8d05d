package graft.tools

import org.apache.spark.sql.functions._

/** Candidate-volume measurement for D97b blocked margin mining (r13
  * verdict #1's "an x50 run whose candidate volume is measured ≪
  * |src|·|tgt|"): assign both corpus halves to IVF cells exactly the
  * way `Ann.marginMiningBlocked` does (trained centroids, the same
  * NearestCentroid expression), then compute Σ_cell |src_c|·|tgt_c| —
  * the number of cosine evaluations the blocked path performs — next
  * to the |src|·|tgt| the exact path would. Pure metadata math after
  * two map-only assignment scans: per-cell counts are k rows each.
  *
  * Usage: runMain graft.tools.MiningVolume <dir> [cells]
  * Prints one JSON line.
  */
object MiningVolume {

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "bigdata/x50"
    val cells = if (args.length > 1) args(1).toInt else 16
    val spark = graft.Session.local()
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val src = emb.filter(col("vec_id") % 2 === 0)
    val tgt = emb.filter(col("vec_id") % 2 === 1)
    val cents = graft.ann.Ann.trainCentroidsBySample(
      emb, "embedding", "vec_id", cells)
    def cellCounts(df: org.apache.spark.sql.DataFrame) = df
      .select(graft.functions.NearestCentroid(col("embedding"), cents).as("_cell"))
      .groupBy("_cell").agg(count(lit(1)).as("n"))
    val t0 = System.nanoTime()
    val s = cellCounts(src).withColumnRenamed("n", "ns")
    val t = cellCounts(tgt).withColumnRenamed("n", "nt")
    val joined = s.join(t, Seq("_cell"))
      .agg(sum(col("ns") * col("nt")).as("blocked"),
        max(col("ns") * col("nt")).as("largest_cell"))
      .head()
    val (blocked, largest) = (joined.getLong(0), joined.getLong(1))
    val (nSrc, nTgt) = (src.count(), tgt.count())
    val sec = (System.nanoTime() - t0) / 1e9
    val exact = nSrc * nTgt
    println(f"""{"dir":"$dir","cells":$cells,"n_src":$nSrc,""" +
      f""""n_tgt":$nTgt,"exact_pairs":$exact,"blocked_pairs":$blocked,""" +
      f""""ratio":${blocked.toDouble / exact}%.4f,""" +
      f""""largest_cell_pairs":$largest,"assign_sec":$sec%.1f}""")
    spark.stop()
  }
}
