package graft

/** Dev utility: time named queries steady-state (3 runs each, tables
  * pre-warmed, caches cleared between runs) — finer-grained than
  * Bench's best-of-2 sweep when chasing one query's regression.
  * Usage: runMain graft.TimeQ <sfDir> <queryName ...>
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1).toSeq
    val spark = Session.local()
    Tables.all.foreach(n => Tables.load(spark, dir, n).count())
    names.foreach { n =>
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        // "@report_approx:<table>" times the non-catalog approx report
        // flavor (the 100 TB path has no oracle query entry)
        if (n.startsWith("@report_approx:"))
          graft.profile.Profiler.report(
            Tables.load(spark, dir, n.stripPrefix("@report_approx:"))).count()
        else SparkEntry.queries(n)(spark, dir).count()
        println(f"TIME $n run$i ${(System.nanoTime()-t0)/1e9}%.3f")
        CacheScope.clear()
      }
    }
    spark.stop()
  }
}
