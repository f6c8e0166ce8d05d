package graft.tools

import org.apache.spark.sql.functions._

/** Head-to-head fixpoint benchmark (r8 verdict #6): min-label +
  * pointer-jumping vs large-star/small-star on the SAME materialized
  * near-dup pair list, distributed path forced — so the delta is the
  * components loop alone, not pair generation. Usage:
  * CcBench <corpusDir> [runs]
  */
object CcBench {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "bigdata/x50"
    val runs = if (args.length > 1) args(1).toInt else 2
    val spark = graft.Session.local()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pairs = graft.dedup.Dedup
      .minhashPairs(docs, "text", "doc_id", 0.75, allPairsMaxSets = 0)
      .select("id_a", "id_b")
      .localCheckpoint(true) // materialize once; both loops read rows, not lineage
    println(s"corpus $dir: pairs=${pairs.count()}")
    def time(name: String)(f: => Long): Unit = {
      val ts = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val n = f
        graft.CacheScope.clear()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      println(f"  $name%-12s best ${ts.map(_._1).min}%6.2f s  (all ${ts.map(t => f"${t._1}%.2f").mkString("/")})  rows=${ts.head._2}")
    }
    time("labels") {
      graft.dedup.Components
        .connectedComponents(pairs, "id_a", "id_b", smallGraphMaxEdges = 0).count()
    }
    time("stars") {
      graft.dedup.Components
        .connectedComponentsStars(pairs, "id_a", "id_b").count()
    }
    spark.stop()
  }
}
