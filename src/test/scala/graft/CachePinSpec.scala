package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CacheManager, CachedData}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** What graft's operators leave pinned until `CacheScope.clear`, and
  * what `clear` releases: no cached plan of the Jaccard joins or
  * `minhashPairs` holds a broadcast hash join (its hashed relation
  * would stay pinned with the cache entry), and `clear` drops the
  * checkpoint pin of `Rank`.
  */
class CachePinSpec extends SparkSpec {
  import spark.implicits._

  /** The cache manager's entries (no public accessor). */
  private def cachedEntries: IndexedSeq[CachedData] = {
    val f = classOf[CacheManager].getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(spark.sharedState.cacheManager).asInstanceOf[IndexedSeq[CachedData]]
  }

  test("Jaccard joins and minhashPairs cache no plan with a broadcast hash join") {
    val rnd = new scala.util.Random(5)
    def corpus(vocab: Int): DataFrame = (0L until 60L).map { i =>
      i -> Seq.fill(8)(s"t${rnd.nextInt(vocab)}").distinct.mkString(" ")
    }.toDF("doc_id", "text")
    val cm = spark.sharedState.cacheManager
    // 20 words take the ≤64-word bitmap plan, 400 the inverted index / LSH
    for (vocab <- Seq(20, 400)) {
      val docs = corpus(vocab)
      val (batch, store) = (docs.filter(col("doc_id") % 3 =!= 0), docs.filter(col("doc_id") % 3 === 0))
      val before = cachedEntries
      Dedup.jaccardJoin(docs, "text", "doc_id", 0.3).collect()
      Dedup.nearDupMatches(batch, store, "text", "doc_id", 0.3).collect()
      Dedup.minhashPairs(docs, "text", "doc_id", 0.3).collect()
      val added = cachedEntries.filterNot(cd => before.exists(_ eq cd))
      assert(added.nonEmpty, s"vocabulary $vocab: nothing cached")
      val withBroadcast = added.filter(cd =>
        cm.collect(cd.cachedRepresentation.cacheBuilder.cachedPlan) {
          case j: BroadcastHashJoinExec => j
        }.nonEmpty)
      assert(withBroadcast.isEmpty, s"vocabulary $vocab: ${withBroadcast.size} cached " +
        s"plans hold a broadcast hash join:\n${withBroadcast.map(_.plan.treeString).mkString("\n")}")
      CacheScope.clear()
    }
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
