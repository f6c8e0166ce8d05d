package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CacheManager, CachedData}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import graft.profile.Profiler

/** Operators built on the shared rank primitive (`Rank.runningSums`):
  * the outlier profile's job count does not grow with its column
  * count, a wide profile stays exact and pins O(1) frames, and the
  * streaming shard writer releases each micro-batch's pin.
  */
class RankConsumersSpec extends SparkSpec {

  /** Jobs started in job group `group` while `body` runs. */
  private def jobsIn(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      // events arrive in order: once a later sentinel job is seen,
      // every job of `body` has been counted
      val sentinel = s"$group-sentinel"
      sc.setJobGroup(sentinel, sentinel)
      try spark.range(1).collect() finally sc.clearJobGroup()
      eventually(timeout(30.seconds), interval(50.millis)) {
        assert(groups.asScala.exists(_ == sentinel))
      }
      groups.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  /** The cache manager's entries (no public accessor). */
  private def cachedEntries: IndexedSeq[CachedData] = {
    val f = classOf[CacheManager].getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(spark.sharedState.cacheManager).asInstanceOf[IndexedSeq[CachedData]]
  }

  /** `cols` double columns c0.. with duplicates, negatives and nulls. */
  private def wide(cols: Int, rows: Int): DataFrame = {
    val rnd = new scala.util.Random(cols * 31 + rows)
    val data = (0 until rows).map { i =>
      org.apache.spark.sql.Row.fromSeq((0 until cols).map { c =>
        if ((i + c) % 13 == 0) null
        else java.lang.Double.valueOf(math.floor(rnd.nextGaussian() * 200) / 8 + c)
      })
    }
    val schema = org.apache.spark.sql.types.StructType((0 until cols).map(c =>
      org.apache.spark.sql.types.StructField(s"c$c",
        org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(data.asJava, schema)
  }

  test("outlierProfile runs the same number of jobs for 1 and for 16 columns") {
    val df = wide(16, 400)
    val one = jobsIn("graft-outliers-1") {
      Profiler.outlierProfile(df, Seq("c0")).collect()
    }
    val sixteen = jobsIn("graft-outliers-16") {
      Profiler.outlierProfile(df, (0 until 16).map(c => s"c$c")).collect()
    }
    CacheScope.clear()
    assert(one > 0)
    assert(one == sixteen, s"1 column: $one jobs, 16 columns: $sixteen jobs")
  }

  test("outlierProfile over 64 columns: exact per column, pins two frames, caches nothing") {
    val cols = (0 until 64).map(c => s"c$c")
    val df = wide(64, 300).withColumn("c5", lit(null).cast("double")) // one all-null column
    val sc = spark.sparkContext
    def pinnedRdds: Int = sc.getRDDStorageInfo.count(_.numCachedPartitions > 0)
    val (pinsBefore, cachedBefore) = (pinnedRdds, cachedEntries.size)
    val got = Profiler.outlierProfile(df, cols).collect()
      .map(r => r.getAs[String]("column") -> r).toMap
    // memory: one stacked frame per phase whatever the column count,
    // and nothing left in the cache manager
    assert(pinnedRdds - pinsBefore <= 2)
    assert(cachedEntries.size == cachedBefore)
    // reference: Spark's `percentile` aggregate, rounded by Spark
    def aggAll(f: String => org.apache.spark.sql.Column) =
      df.agg(f(cols.head), cols.tail.map(f): _*).head()
    val qs = array(lit(0.25), lit(0.5), lit(0.75))
    val ref = aggAll(c => struct((1 to 3).map(k =>
      round(element_at(percentile(col(c), qs), k), 4)): _*))
    val med = cols.indices.map(i =>
      if (ref.getStruct(i).isNullAt(1)) 0.0 else ref.getStruct(i).getDouble(1))
    val refMad = aggAll(c =>
      round(percentile(abs(col(c) - lit(med(cols.indexOf(c)))), lit(0.5)), 4))
    cols.zipWithIndex.foreach { case (c, i) =>
      val (r, q) = (got(c), ref.getStruct(i))
      if (q.isNullAt(1)) {
        assert(r.isNullAt(r.fieldIndex("median")) && r.getAs[Long]("cnt") == 0, c)
      } else {
        assert(Seq(r.getAs[Double]("q1"), r.getAs[Double]("median"),
          r.getAs[Double]("q3")) == Seq(q.getDouble(0), q.getDouble(1), q.getDouble(2)), c)
        assert(r.getAs[Double]("mad") == refMad.getDouble(i), c)
      }
    }
    CacheScope.clear()
  }

  test("stream shard writer releases each batch's pin: no cached broadcast join after 3 batches") {
    val sc = spark.sparkContext
    CacheScope.clear()
    val rddsBefore = sc.getPersistentRDDs.keySet
    val dir = java.nio.file.Files.createTempDirectory("graft-shard-pin").toString
    val docs = spark.range(120).selectExpr("id AS doc_id", "concat('doc ', id) AS text")
    val manifest = graft.streaming.StreamingDQ.streamJsonlShardsReplay(
      docs, "doc_id", s"$dir/out", s"$dir/arrivals", 3, 25L, col("text"))
    assert(manifest.agg(sum("rows")).head().getLong(0) == 120)
    val cm = spark.sharedState.cacheManager
    // the writer's frames are the ones carrying (global_rank, shard)
    val fromWriter = cachedEntries.filter { cd =>
      val names = cd.plan.output.map(_.name)
      names.contains("global_rank") && names.contains("shard")
    }
    val withBroadcast = fromWriter.filter(cd =>
      cm.collect(cd.cachedRepresentation.cacheBuilder.cachedPlan) {
        case j: BroadcastHashJoinExec => j
      }.nonEmpty)
    assert(withBroadcast.isEmpty,
      s"${withBroadcast.size} cached writer plans still hold a broadcast join")
    assert(fromWriter.isEmpty, s"${fromWriter.size} cached writer frames left")
    // each batch's pins (the ranked rows and the rank checkpoint under
    // them) are released when the batch ends, not at CacheScope.clear
    val left = sc.getPersistentRDDs.keySet -- rddsBefore
    assert(left.isEmpty, s"${left.size} batch pins still persisted after 3 batches: $left")
    CacheScope.clear()
  }
}
