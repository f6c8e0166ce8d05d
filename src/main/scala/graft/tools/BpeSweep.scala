package graft.tools

/** BPE induction viability sweep (r13 verdict #3): wall-time and
  * realized batch amortization of [[graft.text.Bpe.learnMergesBatched]]
  * at merge counts up to real-tokenizer territory (the gate stops at
  * 64; a 32k vocabulary is ~2k driver round-trips at batch 16 — the
  * adaptive growth is what this sweep measures).
  *
  * Usage: runMain graft.tools.BpeSweep <sfDir> [merges,...]
  * Prints one JSON line per merge count: wall seconds, jobs (driver
  * round-trips), realized mean batch, max batch.
  */
object BpeSweep {

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val sizes = if (args.length > 1) args(1).split(",").map(_.toInt).toSeq
                else Seq(64, 256, 1024)
    val spark = graft.Session.local()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    println(s"corpus $dir: docs=${docs.count()}")
    sizes.foreach { n =>
      graft.CacheScope.clear()
      val t0 = System.nanoTime()
      val (df, stats) = graft.text.Bpe.learnMergesBatchedWithStats(
        docs, "text", n)
      val got = df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val mean = if (stats.isEmpty) 0.0 else stats.sum.toDouble / stats.length
      println(f"""{"merges":$n,"learned":$got,"sec":$sec%.1f,""" +
        f""""jobs":${stats.length},"mean_batch":$mean%.1f,""" +
        f""""max_batch":${if (stats.isEmpty) 0 else stats.max}}""")
    }
    spark.stop()
  }
}
