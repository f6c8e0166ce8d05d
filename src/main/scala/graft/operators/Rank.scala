package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** D96: positions in a sort order WITHOUT a single-task window — the
  * one place in graft that range-partitions, pins the partitioning
  * and turns per-partition sums into global positions. Every "where
  * does this row sit in a sort order" question goes through
  * [[runningSums]]: dense global ranks and stable ids (below),
  * positional row indexes (C1b `Corrector.withRowIndex`), exact
  * quantiles (A17 `Profiler.outlierProfile`), empirical CDFs (D78
  * `Drift.ksStatistic`) and per-partition slot numbering (C30b
  * `Sources.compactParquetPartitionedByRows`).
  *
  * The classic two-pass shape of `RDD.zipWithIndex`, grouped:
  *  1. range-partition on (group ++ order) — Spark's parallel global
  *     sort: sampled boundaries, every partition sorts independently;
  *  2. PIN that partitioning once, with the partition id and each
  *     row's running sum within its (partition, group) materialized
  *     (eager `localCheckpoint`). The sampled boundaries are
  *     nondeterministic run to run, so the offsets pass and the row
  *     pass must see ONE frozen partitioning — the pin is
  *     correctness-load-bearing, not an optimization;
  *  3. one total per (partition, group) — the P×G-row frame of each
  *     pair's last row — turned into offsets by a window over that
  *     BOUNDED frame;
  *  4. running sum = offset + partition-local running value.
  *
  * The OUTPUT is partitioning-independent even though the boundaries
  * are not: range partitioning keeps the global order across
  * partitions and the local sort finishes it, so offset + local
  * running value is THE position for any boundary placement — under
  * a TOTAL order. Rows that tie on `order` get distinct but
  * arbitrary (pinned) positions; callers that need reproducible
  * positions append a unique id to the order, as [[globalRank]] does.
  */
object Rank {

  /** `df`'s columns, then for each `(name, value)` in `sums`: `name`,
    * the running (inclusive) sum of `value` over the rows of the same
    * `group` up to this one in `order`, and `name_total`, the sum over
    * the whole group. Values are summed as LONG (a null value adds 0),
    * so the sums are exact and do not depend on the partitioning. Null
    * group values form their own group.
    *
    * Empty `order` keeps the input partitioning (no exchange) and sums
    * in the pinned arbitrary row order. `partitions` sizes the range
    * partitioning (0 = the session default); the sums do not depend
    * on it.
    */
  def runningSums(df: DataFrame, group: Seq[String], order: Seq[Column],
                  sums: Seq[(String, Column)],
                  partitions: Int = 0): DataFrame = {
    require(sums.nonEmpty, "runningSums: need at least one value to sum")
    val keys = group.map(col) ++ order
    val ranged =
      if (order.isEmpty) df
      else if (partitions > 0) df.repartitionByRange(partitions, keys: _*)
      else df.repartitionByRange(keys: _*)
    val idx = sums.indices
    val localOrder =
      if (order.nonEmpty) order
      // no order contract: the pinned row order of each task
      else Seq(monotonically_increasing_id().asc)
    // partition-local windows: parallel across (_pid, group)
    val local = Window.partitionBy((col("_pid") +: group.map(col)): _*)
      .orderBy(localOrder: _*)
    val running = local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // freeze the sampled boundaries AND the local running values: the
    // lineage is TRUNCATED (localCheckpoint, eager), so a recompute —
    // cache eviction, executor loss — can never re-sample boundaries
    // and silently reassign pids between the offsets pass and the row
    // pass: downstream either reads the one frozen partitioning or
    // fails loudly on missing blocks (ADVICE r13: bare persist() only
    // made recompute unlikely, not impossible). The pin lives on local
    // disk: it is corpus-sized and held until the host's
    // CacheScope.clear, so it must not hold the heap
    val pinned = graft.CacheScope.track(
      ranged.withColumn("_pid", spark_partition_id())
        .withColumns(idx.map(i =>
          s"_r$i" -> sum(coalesce(sums(i)._2.cast("long"), lit(0L)))
            .over(running)).toMap)
        // the last row of each (_pid, group) carries the pair's total
        .withColumn("_last", lead(lit(1), 1).over(local).isNull)
        .localCheckpoint(eager = true, StorageLevel.DISK_ONLY))
    // bounded by P×G rows: offsets and group totals over the frame of
    // last rows (one partition when `group` is empty)
    val byGroup = Window.partitionBy(group.map(col): _*).orderBy(col("_pid"))
    val offsets = pinned.filter(col("_last")).select(
      (col("_pid").as("_opid") +: group.map(g => col(g).as(s"_o_$g"))) ++
        idx.flatMap(i => Seq(
          coalesce(sum(col(s"_r$i")).over(byGroup.rowsBetween(
            Window.unboundedPreceding, -1)), lit(0L)).as(s"_off$i"),
          sum(col(s"_r$i")).over(byGroup.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)).as(s"_tot$i"))): _*)
    // null-safe group keys: a null group value is a group of its own
    val joinCond = (col("_pid") === col("_opid")) +:
      group.map(g => col(g) <=> col(s"_o_$g"))
    pinned.join(broadcast(offsets), joinCond.reduce(_ && _))
      .select(df.columns.map(c => col(s"`$c`")).toIndexedSeq ++
        idx.flatMap { i =>
          val name = sums(i)._1
          Seq((col(s"_off$i") + col(s"_r$i")).as(name),
            col(s"_tot$i").as(s"${name}_total"))
        }: _*)
  }

  /** (input columns) + `global_rank` (0-based, dense, total-order
    * position under (sortCols, idCol)): the running row count minus 1.
    * `partitions` sizes the range partitioning — at scale set it so
    * partitions fit in executor memory; the rank values do not depend
    * on it.
    */
  def globalRank(df: DataFrame, sortCols: Seq[Column], idCol: Column,
                 partitions: Int = 0): DataFrame = {
    require(sortCols.nonEmpty, "globalRank: need at least one sort column")
    runningSums(df, Nil, sortCols :+ idCol.asc,
      Seq("global_rank" -> lit(1L)), partitions)
      .withColumn("global_rank", col("global_rank") - 1)
      .drop("global_rank_total")
  }

  /** Dense stable ids: `globalRank` + 1 under (sortCols, idCol),
    * named `stable_id` — the deterministic replacement for
    * `monotonically_increasing_id` (whose values depend on physical
    * partitioning) when downstream systems need reproducible compact
    * ids.
    */
  def assignStableIds(df: DataFrame, sortCols: Seq[Column], idCol: Column,
                      partitions: Int = 0): DataFrame =
    globalRank(df, sortCols, idCol, partitions)
      .withColumn("stable_id", col("global_rank") + 1)
      .drop("global_rank")
}
