package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev utility (referenced from tools/bench.md): per-Spark-job
  * timing of `q_e2e_pipeline` via a job listener — distinguishes
  * "one heavy stage" from "many cheap stages" when the composed
  * pipeline's bench number moves. The e2e query is job-count bound
  * (~60 AQE stage-jobs across ~12 shuffles); a regression that
  * matters shows up as a single long job here.
  */
object ProfileE2E {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = graft.Session.local()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.put(js.jobId, (System.nanoTime(),
          Option(js.properties.getProperty("spark.job.description")).getOrElse("")))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val s = starts.get(je.jobId)
        if (s != null)
          println(f"JOB ${je.jobId}%3d ${(System.nanoTime() - s._1) / 1e9}%7.2f s  ${s._2.take(80)}")
      }
    })
    graft.Tables.all.foreach(n => graft.Tables.load(spark, dir, n).count())
    println("=== run ===")
    val t0 = System.nanoTime()
    graft.SparkEntry.queries("q_e2e_pipeline")(spark, dir).count()
    println(f"TOTAL ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
