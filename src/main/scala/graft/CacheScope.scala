package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Registry of the intermediates graft pins inside lazily-returned
  * plans.
  *
  * Operators like [[graft.dedup.Dedup.minhashPairs]] pin small
  * intermediates that several join branches re-read. Every internal
  * pin goes through [[persist]]; hosts (benchmarks, services,
  * notebooks) call [[clear]] between units of work to release
  * everything graft pinned, and a loop that knows one of its pins is
  * done hands it to [[release]].
  *
  * A pin holds ROWS, not a plan. [[persist]] returns a NEW frame: a
  * lazy local checkpoint of its input, whose logical plan is one
  * `LogicalRDD` leaf over a persisted RDD. Once the pin is first read,
  * nothing references the plan that produced it: not its broadcast
  * hash relations, not its executed AQE stages. A cached plan
  * (`Dataset.persist`) keeps all of those alive for as long as the
  * cache entry lives, and at a 16 MB memory page per byte-keyed
  * broadcast that was most of the heap a pinned pipeline held. Two
  * consequences for callers:
  *   - only the RETURNED frame reads the pin; the input frame is not
  *     cached and re-derives its plan on every action;
  *   - under AQE, declaring a pin runs the producer's upstream query
  *     stages (shuffles, broadcasts) at once, on the calling thread;
  *     the final stage runs on the pin's first read.
  *
  * References are held STRONGLY until [[clear]] or [[release]]: the
  * block manager keeps a pin's blocks whether or not the user-facing
  * frame survives, so a weak registry would silently skip releasing
  * exactly the pins that were garbage collected — the ones nothing
  * else can release. A released pin cannot be read again, and neither
  * can any frame built on it.
  */
object CacheScope {
  /** A tracked frame, and what must live as long as it does (a pin's
    * producer metrics, see `SqlBridge.lazyLocalCheckpoint`).
    */
  private final case class Tracked(df: DataFrame, keep: Seq[AnyRef])
  private val tracked = scala.collection.mutable.ListBuffer.empty[Tracked]

  /** Pin `df` and track the pin for [[clear]]; returns the pin.
    * Returns `df` itself when it is already a pin (a `LogicalRDD` over
    * a persisted RDD, such as [[graft.operators.Rank]]'s checkpoint)
    * or when the cache manager holds its plan: a frame the USER cached
    * is left alone, untracked, so [[clear]] never unpersists it.
    *
    * The checkpoint is planned outside the registry's lock: under AQE
    * that planning runs the upstream stages, and concurrent callers
    * (`Par.map` bodies) must not queue behind each other's jobs.
    */
  def persist(df: DataFrame): DataFrame =
    if (pinRdd(df).isDefined || df.storageLevel != StorageLevel.NONE) df
    else {
      val (pin, metrics) = org.apache.spark.sql.graft.SqlBridge
        .lazyLocalCheckpoint(df, StorageLevel.MEMORY_AND_DISK)
      synchronized { tracked += Tracked(pin, metrics) }
      pin
    }

  /** Track an ALREADY-persisted frame for later [[clear]] (for
    * operators that manage materialization themselves, e.g. iterative
    * loops that persist each round and hand over only the fixpoint).
    */
  def track(df: DataFrame): DataFrame = synchronized {
    tracked += Tracked(df, Nil)
    df
  }

  /** Release, now, the tracked frames that `df` reads (see
    * [[pinsOf]]). For a per-unit pin (one stream micro-batch) whose
    * rows nothing reads after the unit ends; everything else waits for
    * [[clear]].
    */
  def release(df: DataFrame): Unit = {
    val gone = pinsOf(df)
    synchronized { tracked.filterInPlace(t => !gone.exists(_ eq t.df)) }
    gone.foreach(unpin)
  }

  /** The tracked frames `df` reads: `df` itself when it is tracked,
    * and every tracked pin among the leaves of its plan.
    */
  private[graft] def pinsOf(df: DataFrame): List[DataFrame] = {
    val under = df.queryExecution.logical.collectLeaves()
      .collect { case r: LogicalRDD => r.rdd.id }.toSet
    synchronized {
      tracked.map(_.df).filter(t => (t eq df) || pinRdd(t).exists(r => under(r.id))).toList
    }
  }

  /** Release every tracked frame and drop the refs. */
  def clear(): Unit = {
    val all = synchronized {
      val t = tracked.map(_.df).toList
      tracked.clear()
      t
    }
    all.foreach(unpin)
  }

  /** The persisted RDD under a pin, if `df` is one. */
  private def pinRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical match {
      case r: LogicalRDD if r.rdd.getStorageLevel != StorageLevel.NONE => Some(r.rdd)
      case _ => None
    }

  /** Unpersist (non-blocking) a tracked frame: its cache entry if it
    * was tracked as a cached plan, else the RDD under its
    * `LogicalRDD`, checkpointed yet or not.
    */
  private def unpin(df: DataFrame): Unit =
    try {
      df.unpersist(false)
      df.queryExecution.logical match {
        case r: LogicalRDD => r.rdd.unpersist(false)
        case _ => ()
      }
    } catch { case _: Exception => () } // session may already be stopped
}
