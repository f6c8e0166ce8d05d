package graft.tools

/** Dump one SparkEntry query's rows to stdout — for pinning literal
  * oracle VALUES (gate-row scheme) and quick inspection without the
  * full Verify sweep. Usage: PrintQ <sfDir> <queryName>...
  */
object PrintQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.Session.local()
    args.drop(1).foreach { name =>
      println(s"== $name")
      graft.SparkEntry.queries(name)(spark, sfDir).show(1000, truncate = false)
      graft.CacheScope.clear()
    }
    spark.stop()
  }
}
