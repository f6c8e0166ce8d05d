package graft

/** Plan-audit utility: prints the formatted physical plan of selected
  * queries so scan pushdown (`PushedFilters`), column pruning
  * (`ReadSchema`), join strategies, and sort shapes can be reviewed.
  * Usage: runMain graft.Explain [sfDir] [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
