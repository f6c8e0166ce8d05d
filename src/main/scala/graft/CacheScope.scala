package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Registry for DataFrames persisted inside lazily-returned plans.
  *
  * Operators like [[graft.dedup.Dedup.minhashPairs]] persist small
  * intermediates that several join branches re-read. Spark's
  * CacheManager holds persisted plans strongly and never evicts on
  * its own, so a long-lived session running many such queries leaks
  * cached blocks (ADVICE r2). Every internal persist goes through
  * [[persist]]; hosts (benchmarks, services, notebooks) call
  * [[clear]] between units of work to unpersist everything graft
  * pinned.
  *
  * References are held STRONGLY until [[clear]]: the CacheManager
  * keeps the cached blocks alive whether or not the user-facing
  * DataFrame object survives, so a weak registry would silently skip
  * unpersisting exactly the frames that were garbage collected — the
  * ones nothing else can release.
  */
object CacheScope {
  private val tracked = scala.collection.mutable.ListBuffer.empty[DataFrame]

  /** Persist and track for later [[clear]]. A plan the CacheManager
    * already holds (same analyzed plan persisted earlier on this call
    * path, or cached by the user) is left alone — re-persisting would
    * only emit "Asked to cache already cached data" warnings, and
    * skipping the track keeps [[clear]] from unpersisting frames the
    * USER cached.
    */
  def persist(df: DataFrame): DataFrame = synchronized {
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
      df.persist()
      tracked += df
    }
    df
  }

  /** Track an ALREADY-persisted frame for later [[clear]] (for
    * operators that manage materialization themselves, e.g. iterative
    * loops that persist each round and hand over only the fixpoint).
    */
  def track(df: DataFrame): DataFrame = synchronized {
    tracked += df
    df
  }

  /** Unpersist (non-blocking) every tracked frame and drop the refs.
    * A checkpointed frame (e.g. [[graft.operators.Rank]]'s
    * `localCheckpoint` pin) keeps its blocks in the RDD under its
    * plan, not in the cache manager, so that RDD is unpersisted too;
    * frames built on the pin cannot be read after this.
    */
  def clear(): Unit = synchronized {
    tracked.foreach { df =>
      try {
        df.unpersist(false)
        df.queryExecution.logical match {
          case r: LogicalRDD if r.rdd.isCheckpointed => r.rdd.unpersist(false)
          case _ => ()
        }
      } catch { case _: Exception => () } // session may already be stopped
    }
    tracked.clear()
  }
}
