package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) write clustering (SURVEY §2 D77) — the
  * lakehouse layout optimization (Delta/Iceberg `OPTIMIZE ZORDER BY`)
  * re-expressed in plain Spark: co-locate rows that are close in TWO
  * dimensions so parquet file-level min/max statistics prune on
  * EITHER filter column. A single-column sort gives perfect pruning
  * on one dimension and none on the other; interleaving the bits of
  * both (the Morton code) bounds each file to a small rectangle of
  * the value space, so both columns prune.
  *
  * All integer arithmetic (rank-bucket via `((v−min)·2^bits) DIV
  * (range+1)`, then bit interleave) — engine-portable and
  * deterministic; the bit-interleave is a 2·bits-term expression tree
  * of shifts/masks that stays inside whole-stage codegen. Caller
  * contract: integer columns, and (max−min+1)·2^bits must fit in a
  * long (true for any real key/date/epoch domain at bits=16).
  */
object Zorder {

  /** Interleave the low `bits` bits of two bucket columns: bit i of
    * `a` lands at position 2i, of `b` at 2i+1.
    */
  def interleave(a: Column, b: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** Append the Morton code `zCol` for two integer columns, with
    * bucket bounds from ONE extra min/max aggregate (broadcast —
    * no driver collect).
    */
  def withZValue(df: DataFrame, c1: String, c2: String,
                 bits: Int = 16, zCol: String = "z_value"): DataFrame = {
    require(bits >= 1 && bits <= 31, s"bits out of [1,31]: $bits")
    withBuckets(df, Seq(c1, c2), bits, zCol) { case Seq(b1, b2) => interleave(b1, b2, bits) }
  }

  /** `df` plus `outCol` = `index` of each column's bucket
    * `((v − min)·2^bits) DIV (max − min + 1)`, in [0, 2^bits), with
    * the bounds from ONE extra min/max aggregate (broadcast — no
    * driver collect). The bucket rule of both curve layouts
    * ([[withZValue]], [[Hilbert.withHilbertValueN]]).
    */
  private[sources] def withBuckets(df: DataFrame, cols: Seq[String], bits: Int,
                                   outCol: String)(index: Seq[Column] => Column): DataFrame = {
    val bounds = cols.indices.map(i => (s"_min${i + 1}", s"_max${i + 1}"))
    val agg = cols.zip(bounds).flatMap { case (c, (lo, hi)) =>
      Seq(min(col(c)).as(lo), max(col(c)).as(hi))
    }
    // integer DIV, not float division: (v-min)·2^bits exceeds 2^53 on
    // wide domains, where double division silently corrupts the bucket
    // operands cast to BIGINT: an IntegerType column with range > ~2^(31-bits)
    // would overflow the int multiply (ANSI ArithmeticException) before the DIV
    val buckets = cols.zip(bounds).map { case (c, (lo, hi)) =>
      expr(s"((CAST(`$c` AS BIGINT) - CAST($lo AS BIGINT)) * ${1L << bits})" +
        s" DIV (CAST($hi AS BIGINT) - CAST($lo AS BIGINT) + 1)")
    }
    df.crossJoin(broadcast(df.agg(agg.head, agg.tail: _*)))
      .withColumn(outCol, index(buckets))
      .drop(bounds.flatMap { case (lo, hi) => Seq(lo, hi) }: _*)
  }

  /** Z-ordered parquet write: range-partition on the Morton code
    * (`numFiles` output files, each a bounded rectangle of the
    * 2-D value space), sort within partitions, write. Readers
    * filtering on EITHER column then prune most files via parquet
    * row-group statistics.
    */
  def zorderWrite(df: DataFrame, c1: String, c2: String, path: String,
                  numFiles: Int = 32, bits: Int = 16): Unit = {
    require(numFiles > 0, s"numFiles must be positive: $numFiles")
    withZValue(df, c1, c2, bits)
      .repartitionByRange(numFiles, col("z_value"))
      .sortWithinPartitions(col("z_value"))
      .write.mode("overwrite").parquet(path)
  }
}
