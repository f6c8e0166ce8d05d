package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** D103: Hilbert-curve write clustering — the locality upgrade over
  * [[Zorder]]'s Morton code (Delta Lake's `OPTIMIZE ... ZORDER BY`
  * successor layout; Hilbert is what its liquid clustering and most
  * modern spatial indexes use): consecutive Hilbert indexes are
  * ALWAYS grid neighbors (unit-step adjacency — the curve never
  * jumps), where the Morton curve teleports across the value space
  * every time a high bit flips, so Hilbert-clustered files cover
  * tighter rectangles and parquet min/max pruning discards more of
  * them for the same filter.
  *
  * Index math is John Skilling's public-domain transpose algorithm
  * ("Programming the Hilbert curve", AIP Conf. Proc. 707, 2004):
  * an O(bits) loop of shifts/XORs per row — implemented as ONE
  * codegen'd expression ([[HilbertIndexN]]; a pure-Column
  * formulation would double the expression tree per bit step), fully
  * integer, so an external SQL engine re-derives it by unrolling the
  * same steps (the q_d103 oracle does exactly that). Bucketing is
  * [[Zorder]]'s: the same integer DIV bucket rule, written once.
  */
object Hilbert {

  /** Append the Hilbert index `hCol` for two integer columns, with
    * bucket bounds from ONE extra min/max aggregate (broadcast — no
    * driver collect). Same bucket rule as [[Zorder.withZValue]].
    */
  def withHilbertValue(df: DataFrame, c1: String, c2: String,
                       bits: Int = 16, hCol: String = "h_value"): DataFrame = {
    require(bits >= 1 && bits <= 31, s"bits out of [1,31]: $bits")
    withHilbertValueN(df, Seq(c1, c2), bits, hCol)
  }

  /** n-D generalization (r15, D103b): real clustering keys are often
    * 3–4 columns, and Skilling's transpose is dimension-generic —
    * [[withHilbertValue]] for any number of integer columns via
    * [[HilbertIndexN]]. Same bucket rule per column; n·bits must fit
    * a long's 63 value bits.
    */
  def withHilbertValueN(df: DataFrame, cols: Seq[String],
                        bits: Int = 16, hCol: String = "h_value"): DataFrame = {
    require(cols.size >= 2, s"need >= 2 columns, got ${cols.size}")
    require(bits >= 1 && cols.size * bits <= 63,
      s"n*bits must fit 63 value bits: n=${cols.size}, bits=$bits")
    Zorder.withBuckets(df, cols, bits, hCol)(HilbertIndexN(_, bits))
  }
}

/** n-D Hilbert index (r15): Skilling's transpose transform for any
  * dimension count — the inverse-undo / Gray-encode loops iterated
  * over n axes (the published algorithm is dimension-generic; n = 2 is
  * the 2-D curve [[Hilbert.withHilbertValue]] writes) — followed by
  * the MSB-first interleave with dim 0 taking the highest bit of each
  * group (for n = 2: x's bit j at position 2j+1, y's at 2j). Nulls propagate; inputs are masked to their low
  * `bits` bits. One codegen'd call per row, n·bits ≤ 63.
  */
case class HilbertIndexN(children: Seq[Expression], bits: Int)
    extends Expression {

  private val n = children.size
  require(n >= 2, s"need >= 2 dims, got $n")
  require(bits >= 1 && n * bits <= 63, s"n*bits must fit 63 value bits: $n x $bits")

  override def nullable: Boolean = children.exists(_.nullable)
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (children.forall(c => c.dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    })) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"expected integral columns, got ${children.map(_.dataType)}")

  private def asLong(dt: DataType, v: Any): Long = dt match {
    case LongType    => v.asInstanceOf[Long]
    case IntegerType => v.asInstanceOf[Int].toLong
    case ShortType   => v.asInstanceOf[Short].toLong
    case ByteType    => v.asInstanceOf[Byte].toLong
    case dt0 => throw new IllegalStateException(s"unsupported integral $dt0")
  }

  def index(xs: Array[Long]): Long = {
    val mask = (1L << bits) - 1
    val x = Array.tabulate(n)(i => xs(i) & mask)
    // inverse undo (Skilling AxestoTranspose, n-D)
    var q = 1L << (bits - 1)
    while (q > 1) {
      val p = q - 1
      var i = 0
      while (i < n) {
        if ((x(i) & q) != 0) x(0) ^= p
        else { val t = (x(0) ^ x(i)) & p; x(0) ^= t; x(i) ^= t }
        i += 1
      }
      q >>= 1
    }
    // Gray encode
    var i = 1
    while (i < n) { x(i) ^= x(i - 1); i += 1 }
    var t = 0L
    q = 1L << (bits - 1)
    while (q > 1) { if ((x(n - 1) & q) != 0) t ^= q - 1; q >>= 1 }
    i = 0
    while (i < n) { x(i) ^= t; i += 1 }
    // transpose -> index: MSB-first interleave, dim 0 highest per group
    var h = 0L
    var j = bits - 1
    while (j >= 0) {
      var d = 0
      while (d < n) { h = (h << 1) | ((x(d) >> j) & 1L); d += 1 }
      j -= 1
    }
    h
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val xs = new Array[Long](n)
    var i = 0
    while (i < n) {
      val v = children(i).eval(input)
      if (v == null) return null
      xs(i) = asLong(children(i).dataType, v)
      i += 1
    }
    index(xs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("hilbertIndexN", this, classOf[HilbertIndexN].getName)
    val evs = children.map(_.genCode(ctx))
    val childCode = evs.map(_.code.toString).mkString("\n")
    val anyNull = evs.map(_.isNull.toString).mkString(" || ")
    val args = evs.map(e => s"(long)${e.value}").mkString(", ")
    ev.copy(code = code"""
      $childCode
      boolean ${ev.isNull} = $anyNull;
      long ${ev.value} = -1L;
      if (!${ev.isNull}) {
        ${ev.value} = $ref.index(new long[]{$args});
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HilbertIndexN =
    copy(children = newChildren)
}

object HilbertIndexN {
  def apply(cols: Seq[Column], bits: Int): Column = {
    import org.apache.spark.sql.graft.SqlBridge
    SqlBridge.column(HilbertIndexN(cols.map(SqlBridge.expression), bits))
  }
}
