package graft

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CacheManager, CachedData, LogicalRDD, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import graft.dedup.Dedup

/** What graft's operators leave pinned until `CacheScope.clear`, and
  * what `clear` releases: a pin is a checkpoint of rows, so it keeps
  * no plan, and no broadcast relation of the plan that produced it,
  * alive; the Jaccard joins and `minhashPairs` add no cache-manager
  * entry; `minhashPairs` and `contaminatedIds` broadcast only
  * relations keyed on one integral column (sized to their data, not a
  * whole memory page); and `clear` drops the checkpoint pin of `Rank`.
  */
class CachePinSpec extends SparkSpec {
  import spark.implicits._

  /** The cache manager's entries (no public accessor). */
  private def cachedEntries: IndexedSeq[CachedData] = {
    val f = classOf[CacheManager].getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(spark.sharedState.cacheManager).asInstanceOf[IndexedSeq[CachedData]]
  }

  /** The rows-backed leaves `df` reads: `LogicalRDD`s over a
    * persisted RDD (graft's pins and `Rank`'s checkpoint).
    */
  private def pinnedLeaves(df: DataFrame): Seq[LogicalRDD] =
    df.queryExecution.logical.collectLeaves().collect {
      case r: LogicalRDD if r.rdd.getStorageLevel != StorageLevel.NONE => r
    }

  test("Jaccard joins and minhashPairs cache no plan with a broadcast hash join") {
    val rnd = new scala.util.Random(5)
    def corpus(vocab: Int): DataFrame = (0L until 60L).map { i =>
      i -> Seq.fill(8)(s"t${rnd.nextInt(vocab)}").distinct.mkString(" ")
    }.toDF("doc_id", "text")
    // 20 words take the ≤64-word bitmap plan, 400 the inverted index / LSH
    for (vocab <- Seq(20, 400)) {
      val docs = corpus(vocab)
      val (batch, store) = (docs.filter(col("doc_id") % 3 =!= 0), docs.filter(col("doc_id") % 3 === 0))
      val before = cachedEntries
      val outs = Seq(
        Dedup.jaccardJoin(docs, "text", "doc_id", 0.3),
        Dedup.nearDupMatches(batch, store, "text", "doc_id", 0.3),
        Dedup.minhashPairs(docs, "text", "doc_id", 0.3))
      outs.foreach(_.collect())
      // the reused intermediates are pinned as rows: checkpoint leaves
      // of the returned plans, tracked for CacheScope.clear ...
      val pins = outs.flatMap(pinnedLeaves)
      assert(pins.nonEmpty, s"vocabulary $vocab: nothing pinned")
      assert(outs.exists(CacheScope.pinsOf(_).nonEmpty), s"vocabulary $vocab: no tracked pin")
      // ... so no cached plan, and no broadcast hash join in one, outlives the call
      val added = cachedEntries.filterNot(cd => before.exists(_ eq cd))
      assert(added.isEmpty, s"vocabulary $vocab: ${added.size} cached plans:\n" +
        added.map(_.plan.treeString).mkString("\n"))
      CacheScope.clear()
      assert(pins.forall(_.rdd.getStorageLevel == StorageLevel.NONE),
        s"vocabulary $vocab: clear left a pin persisted")
    }
  }

  test("persisted minhashPairs and contaminatedIds results broadcast only integral keys") {
    val rnd = new scala.util.Random(11)
    val docs = (0L until 60L).map { i =>
      i -> Seq.fill(8)(s"t${rnd.nextInt(400)}").distinct.mkString(" ")
    }.toDF("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 7 === 0)
    val cm = spark.sharedState.cacheManager
    val pairsIn = Dedup.minhashPairs(docs, "text", "doc_id", 0.3, allPairsMaxSets = 0)
    val badIn = Dedup.contaminatedIds(docs, "text", "doc_id", bench, "text", 3)
    // the way a pipeline keeps them: persisted, then materialized
    val pairs = CacheScope.persist(pairsIn)
    val bad = CacheScope.persist(badIn)
    pairs.count()
    assert(bad.count() >= 9) // every benchmark doc is a corpus doc
    // a persisted result is one checkpoint leaf: it holds rows, so no
    // broadcast relation of its producer stays pinned with it
    for ((name, df) <- Seq("minhashPairs" -> pairs, "contaminatedIds" -> bad)) {
      assert(df.queryExecution.logical.isInstanceOf[LogicalRDD] && pinnedLeaves(df).size == 1,
        s"$name is not a pin:\n${df.queryExecution.logical.treeString}")
    }
    // while they run, the producers build relations sized to their
    // data: keyed on one integral column, not a whole byte-keyed page
    def executed(df: DataFrame): SparkPlan = { df.collect(); df.queryExecution.executedPlan }
    val pairsPlan = executed(pairsIn)
    for ((name, plan) <- Seq("minhashPairs" -> pairsPlan, "contaminatedIds" -> executed(badIn))) {
      val buildKeys = cm.collect(plan) {
        case j: BroadcastHashJoinExec => if (j.buildSide == BuildLeft) j.leftKeys else j.rightKeys
      }
      if (name == "contaminatedIds") assert(buildKeys.nonEmpty, s"no broadcast join:\n$plan")
      val wide = buildKeys.filterNot(k => k.size == 1 &&
        Seq(LongType, IntegerType, ShortType, ByteType).contains(k.head.dataType))
      assert(wide.isEmpty, s"$name broadcasts a relation keyed on $wide:\n$plan")
    }
    val bucketJoins = cm.collect(pairsPlan) {
      case j: BaseJoinExec if (j.leftKeys ++ j.rightKeys).exists(_.references.exists(_.name == "bk")) => j
    }
    assert(bucketJoins.isEmpty,
      s"minhashPairs joins on the bucket key:\n${bucketJoins.mkString("\n")}")
    CacheScope.clear()
  }

  test("a pin holds rows, not plans: its producer's broadcast relation is collectable") {
    val sc = spark.sparkContext
    val cm = spark.sharedState.cacheManager
    CacheScope.clear()
    val (cachedBefore, rddsBefore) = (cachedEntries, sc.getPersistentRDDs.keySet)
    // Bm25-style: postings joined to a string-keyed term table that is
    // broadcast explicitly, then aggregated (the final stage reads a shuffle)
    val terms = (0 until 200).map(i => s"term$i" -> i.toLong).toDF("term", "w")
    val producer = spark.range(4000)
      .select(concat(lit("term"), (col("id") % 250).cast("string")).as("term"),
        (col("id") % 97).as("k"))
      .join(broadcast(terms), "term")
      .groupBy("k").agg(sum("w").as("score"))
    val expected = (0 until 4000).filter(_ % 250 < 200).groupBy(_ % 97)
      .map { case (k, ids) => (k.toLong, ids.map(_ % 250L).sum) }.toSeq.sorted
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

    // the broadcast values every plan that runs while the pin is built holds
    val relations = new ConcurrentLinkedQueue[WeakReference[AnyRef]]()
    def broadcastValues(plan: SparkPlan): Seq[AnyRef] = cm.collect(plan) {
      case e: BroadcastExchangeLike => Seq(e.relationFuture.get().value.asInstanceOf[AnyRef])
      case s: InMemoryTableScanExec => broadcastValues(s.relation.cacheBuilder.cachedPlan)
    }.flatten
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        broadcastValues(qe.executedPlan).foreach(v => relations.add(new WeakReference(v)))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val (pin, first) = try {
      val p = CacheScope.persist(producer)
      val r = rows(p)
      eventually(timeout(30.seconds), interval(50.millis)) { assert(!relations.isEmpty) }
      (p, r)
    } finally spark.listenerManager.unregister(listener)
    assert(first == expected)

    // the pin is strongly held; its producer's relation is not
    var polls = 0
    while (relations.asScala.exists(_.get != null) && polls < 50) {
      System.gc()
      Thread.sleep(100)
      polls += 1
    }
    assert(relations.asScala.forall(_.get == null),
      s"${relations.asScala.count(_.get != null)} broadcast relations survived $polls GCs")

    // re-reading runs the scan alone: one job of one stage, no shuffle, no broadcast
    val started = new ConcurrentLinkedQueue[(String, Int)]()
    val jobs = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => started.add(g -> js.stageInfos.size))
    }
    sc.addSparkListener(jobs)
    val again = try {
      sc.setJobGroup("pin-reread", "pin-reread")
      val r = try rows(pin) finally sc.clearJobGroup()
      // events arrive in order: once a later sentinel job is seen,
      // every re-read job has been counted
      sc.setJobGroup("pin-sentinel", "pin-sentinel")
      try spark.range(1).collect() finally sc.clearJobGroup()
      eventually(timeout(30.seconds), interval(50.millis)) {
        assert(started.asScala.exists(_._1 == "pin-sentinel"))
      }
      r
    } finally sc.removeSparkListener(jobs)
    val stages = started.asScala.toSeq.collect { case ("pin-reread", n) => n }
    assert(again == expected)
    assert(stages == Seq(1), s"re-read ran jobs of ${stages.mkString(", ")} stages")

    // the partitioning persist() gives: the final stage is not coalesced
    val parts = pin.rdd.getNumPartitions
    assert(parts == spark.conf.get("spark.sql.shuffle.partitions").toInt)
    assert(CacheScope.persist(pin) eq pin)
    val added = cachedEntries.filterNot(cd => cachedBefore.exists(_ eq cd))
    assert(added.isEmpty, s"pinning added ${added.size} cache entries")
    val cached = producer.persist()
    try assert(cached.rdd.getNumPartitions == parts) finally cached.unpersist(true)
    CacheScope.clear()
    val left = sc.getPersistentRDDs.keySet -- rddsBefore
    assert(left.isEmpty, s"RDDs still persisted after clear: $left")
  }

  test("CacheScope.clear releases Rank's checkpoint pin") {
    val sc = spark.sparkContext
    CacheScope.clear()
    val before = sc.getPersistentRDDs.keySet
    val ranked = graft.operators.Rank.globalRank(
      spark.range(500).select((col("id") * 7 % 101).as("v"), col("id")),
      Seq(col("v")), col("id"))
    assert(ranked.count() == 500)
    assert((sc.getPersistentRDDs.keySet -- before).nonEmpty, "globalRank pinned nothing")
    CacheScope.clear()
    val left = sc.getPersistentRDDs.keySet -- before
    // `ranked` is still reachable here, so GC cannot have dropped the pin
    assert(left.isEmpty && ranked.columns.contains("global_rank"),
      s"RDDs still persisted after clear: $left")
  }
}
