package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registration of graft's native expressions as SQL functions.
  *
  * Two paths:
  *  - config `spark.sql.extensions=graft.functions.GraftExtensions`
  *    at session build time (the standard extension mechanism);
  *  - [[GraftFunctions.register]] on an already-running session.
  */
object UnicodeNormalizeBuilder {
  /** `unicode_normalize(s[, form])` — form must be a foldable string
    * literal (NFC default): the normalizer form is part of the plan,
    * not per-row data.
    */
  def apply(children: Seq[Expression]): Expression = children match {
    case Seq(c) => UnicodeNormalize(c, "NFC")
    case Seq(c, org.apache.spark.sql.catalyst.expressions.Literal(f, _)) if f != null =>
      UnicodeNormalize(c, f.toString)
    case _ => throw new IllegalArgumentException(
      "unicode_normalize(col[, 'NFC'|'NFD'|'NFKC'|'NFKD']): form must be a string literal")
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // opt-in naive-range-join rewrite (no-op unless
    // spark.graft.rangeJoin.bucketWidth is set — see RangeJoinRule)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRule)
    GraftFunctions.Sql.foreach { case (name, cls, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
  }
}

object GraftFunctions {
  /** Every graft SQL function: (name, expression class, builder). Both
    * registration paths read this one table.
    */
  val Sql: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("unicode_normalize", classOf[UnicodeNormalize], UnicodeNormalizeBuilder(_)),
    ("dot_product", classOf[DotProduct], c => DotProduct(c(0), c(1))),
    ("tckn_valid", classOf[TcknValid], c => TcknValid(c.head)),
    ("taxnum_valid", classOf[TaxNumValid], c => TaxNumValid(c.head)),
    ("luhn_valid", classOf[LuhnValid], c => LuhnValid(c.head)),
    ("iban_valid", classOf[IbanValid], c => IbanValid(c.head)))

  /** Idempotently registers graft SQL functions on a live session, so
    * `spark.sql("SELECT dot_product(a, b) ...")` works without
    * rebuilding the session with extensions.
    */
  def register(spark: SparkSession): Unit = {
    Sql.foreach { case (name, _, builder) =>
      org.apache.spark.sql.graft.SqlBridge.registerFunction(spark, name, builder)
    }
    // live-session parity for the extensions-injected optimizer rule
    // (still a no-op until spark.graft.rangeJoin.bucketWidth is set)
    if (!spark.experimental.extraOptimizations.contains(graft.plans.RangeJoinRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RangeJoinRule
  }
}
