package graft

import org.apache.spark.sql.SparkSession

/** The local session every graft main runs on: `local[n]` with `n`
  * shuffle partitions, where `n` is `SPARK_GRAFT_CPUS` or else the
  * JVM's available processors; UTC session time zone; parquet
  * TIMESTAMP(NANOS) read as epoch-nanos longs; no UI; WARN logs.
  * Specs keep their own pinned session (`TestSession`).
  */
object Session {
  def local(): SparkSession = {
    val n = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
