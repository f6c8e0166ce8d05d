package graft

import java.util.concurrent.LinkedBlockingQueue
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-audit utility: prints the formatted physical plan of selected
  * queries so scan pushdown (`PushedFilters`), column pruning
  * (`ReadSchema`), join strategies, and sort shapes can be reviewed.
  * Operators that run work while the query is built (a pinned rank, a
  * quantile pass, a compaction write) print those actions' executed
  * plans first, in order, then the returned plan.
  * Usage: runMain graft.Explain [sfDir] [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val ran = new LinkedBlockingQueue[(String, QueryExecution)]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = ran.put(f -> qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, dir)
      // listener events arrive in order: everything before the marker
      // action ran while the query was built
      val marker = spark.range(1)
      marker.collect()
      Iterator.continually(ran.take()).takeWhile(_._2 ne marker.queryExecution)
        .zipWithIndex.foreach { case ((action, qe), i) =>
          println(s"\n---------- eager action ${i + 1}: $action ----------")
          println(qe.explainString(FormattedMode))
        }
      println("\n---------- returned plan ----------")
      df.explain("formatted")
    }
    spark.stop()
  }
}
