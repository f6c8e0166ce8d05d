package graft.functions

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable frequent-items (heavy hitters) sketches (Apache
  * DataSketches `ItemsSketch`, the Misra–Gries / space-saving family)
  * as custom Catalyst aggregates — the "which values dominate"
  * counterpart of the HLL distinct (D64) and KLL quantile (D67)
  * snapshot sketches (SURVEY §2 D69): "top tokens over any union of
  * ingest snapshots" would otherwise re-scan history or keep exact
  * per-item counts (unbounded state at 100 TB). Spark's mergeable
  * `approx_top_k_accumulate` / `_combine` / `_estimate` return item
  * counts only, with no lower/upper bound or maximum error, which
  * the q_d69/q_d81 contract reports per item. ItemsSketch keeps
  * ≤ maxMapSize counters, merges losslessly in the error-bound sense, and
  * guarantees `est − lb ≤ getMaximumError() ≤ 3.5·n/maxMapSize`
  * with NO_FALSE_NEGATIVES extraction returning every item whose
  * true count exceeds that error.
  *
  * Determinism contract (gate design): which items survive a purge —
  * and their est/lb/ub — depends on insertion/merge ORDER, i.e. on
  * partitioning, so raw estimates are only run-deterministic while
  * the map never purges (distinct items ≤ 0.75·maxMapSize — then
  * everything is EXACT, `q_d69`'s certified range, mirroring d64's
  * exact-in-sparse-range gate). Under purge, only the bound CLAIMS
  * (lb ≤ exact ≤ ub; every above-error item present) are comparable —
  * the spec suite pins those on synthetic skew.
  */
case class FreqSketchAgg(child: Expression, maxMapSize: Int,
                         mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ItemsSketch[String]] {

  require(maxMapSize >= 8 && (maxMapSize & (maxMapSize - 1)) == 0,
    s"maxMapSize must be a power of 2 >= 8: $maxMapSize")

  @transient private lazy val serde = new ArrayOfStringsSerDe

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected a string column, got $other")
    }

  override def createAggregationBuffer(): ItemsSketch[String] =
    new ItemsSketch[String](maxMapSize)

  override def update(buf: ItemsSketch[String], input: InternalRow): ItemsSketch[String] = {
    val v = child.eval(input)
    if (v != null) buf.update(v.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(b1: ItemsSketch[String], b2: ItemsSketch[String]): ItemsSketch[String] =
    b1.merge(b2)

  override def eval(buf: ItemsSketch[String]): Any = buf.toByteArray(serde)
  override def serialize(buf: ItemsSketch[String]): Array[Byte] = buf.toByteArray(serde)
  override def deserialize(bytes: Array[Byte]): ItemsSketch[String] =
    ItemsSketch.getInstance(Memory.wrap(bytes), serde)

  override def withNewMutableAggBufferOffset(o: Int): FreqSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FreqSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FreqSketchAgg =
    copy(child = newChildren.head)
}

object FreqSketchAgg {
  def apply(c: Column, maxMapSize: Int): Column = {
    import org.apache.spark.sql.graft.SqlBridge
    SqlBridge.column(
      FreqSketchAgg(SqlBridge.expression(c), maxMapSize).toAggregateExpression())
  }
}

/** Merge serialized frequent-items sketches (binary column). */
case class FreqMergeAgg(child: Expression, maxMapSize: Int,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ItemsSketch[String]] {

  // same driver-side validation as FreqSketchAgg (ADVICE r11: without
  // it an invalid size surfaced as an executor-side
  // SketchesArgumentException at buffer creation)
  require(maxMapSize >= 8 && (maxMapSize & (maxMapSize - 1)) == 0,
    s"maxMapSize must be a power of 2 >= 8: $maxMapSize")

  @transient private lazy val serde = new ArrayOfStringsSerDe

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected serialized frequent-items sketches (binary), got $other")
    }

  override def createAggregationBuffer(): ItemsSketch[String] =
    new ItemsSketch[String](maxMapSize)

  override def update(buf: ItemsSketch[String], input: InternalRow): ItemsSketch[String] = {
    val b = child.eval(input)
    if (b != null)
      buf.merge(ItemsSketch.getInstance(
        Memory.wrap(b.asInstanceOf[Array[Byte]]), serde))
    buf
  }

  override def merge(b1: ItemsSketch[String], b2: ItemsSketch[String]): ItemsSketch[String] =
    b1.merge(b2)

  override def eval(buf: ItemsSketch[String]): Any = buf.toByteArray(serde)
  override def serialize(buf: ItemsSketch[String]): Array[Byte] = buf.toByteArray(serde)
  override def deserialize(bytes: Array[Byte]): ItemsSketch[String] =
    ItemsSketch.getInstance(Memory.wrap(bytes), serde)

  override def withNewMutableAggBufferOffset(o: Int): FreqMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FreqMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FreqMergeAgg =
    copy(child = newChildren.head)
}

object FreqMergeAgg {
  def apply(c: Column, maxMapSize: Int): Column = {
    import org.apache.spark.sql.graft.SqlBridge
    SqlBridge.column(
      FreqMergeAgg(SqlBridge.expression(c), maxMapSize).toAggregateExpression())
  }
}

/** Extract frequent items from a serialized sketch: array of
  * (item, est, lb, ub), NO_FALSE_NEGATIVES order (estimate desc).
  * Applied to the BOUNDED merged-sketch frame, so interpreted eval
  * (CodegenFallback) is deliberate — one heapify per dimension-sized
  * row, never on a corpus scan.
  */
case class FreqItems(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  @transient private lazy val serde = new ArrayOfStringsSerDe

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("est", LongType, nullable = false),
    StructField("lb", LongType, nullable = false),
    StructField("ub", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected a serialized frequent-items sketch (binary), got $other")
    }

  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any = {
    val s = ItemsSketch.getInstance(
      Memory.wrap(input.asInstanceOf[Array[Byte]]), serde)
    val rows = s.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
    new GenericArrayData(rows.map(r => InternalRow(
      UTF8String.fromString(r.getItem),
      r.getEstimate, r.getLowerBound, r.getUpperBound)))
  }

  override protected def withNewChildInternal(newChild: Expression): FreqItems =
    copy(child = newChild)
}

object FreqItems {
  def apply(c: Column): Column = {
    import org.apache.spark.sql.graft.SqlBridge
    SqlBridge.column(FreqItems(SqlBridge.expression(c)))
  }
}

/** Scalar accessors on a serialized sketch: the a-posteriori maximum
  * error and the stream length — the two numbers that turn bound
  * claims ("every item with exact > maxError is present") into
  * checkable rows. CodegenFallback on bounded frames, like FreqItems.
  */
case class FreqSketchStats(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  @transient private lazy val serde = new ArrayOfStringsSerDe

  override def dataType: DataType = StructType(Seq(
    StructField("max_error", LongType, nullable = false),
    StructField("stream_length", LongType, nullable = false),
    StructField("active_items", IntegerType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected a serialized frequent-items sketch (binary), got $other")
    }

  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any = {
    val s = ItemsSketch.getInstance(
      Memory.wrap(input.asInstanceOf[Array[Byte]]), serde)
    InternalRow(s.getMaximumError, s.getStreamLength, s.getNumActiveItems)
  }

  override protected def withNewChildInternal(newChild: Expression): FreqSketchStats =
    copy(child = newChild)
}

object FreqSketchStats {
  def apply(c: Column): Column = {
    import org.apache.spark.sql.graft.SqlBridge
    SqlBridge.column(FreqSketchStats(SqlBridge.expression(c)))
  }
}
