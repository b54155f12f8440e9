package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Trigram

/**
 * Native Catalyst expression for pg_trgm similarity — the one scalar
 * the reference needs that Spark lacks (SURVEY.md §2.8: `<->` at
 * lib/voter_file/csv_driver/fuzzy_merger.rb:60-61). Unlike the UDF
 * route, `doGenCode` keeps the call inside whole-stage codegen (no
 * per-row closure invocation, no UDF serialization), delegating to the
 * static JVM kernel [[graft.functions.Trigram.similarity]].
 *
 * Lives under org.apache.spark.sql.* because `ExpectsInputTypes` /
 * `AbstractDataType` / `ExpressionUtils` are private[sql] — the
 * established pattern for third-party native expressions.
 *
 * The fuzzy MATCH path never evaluates this pairwise — it computes
 * similarity algebraically from the trigram inverted-index join
 * (graft.operators.Fuzzy). This expression serves ad-hoc scoring in
 * `$S`/`$T` templates and SQL.
 */
case class TrigramSimilarityExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "trigram_similarity"

  protected override def nullSafeEval(l: Any, r: Any): Any =
    Trigram.similarity(
      l.asInstanceOf[UTF8String].toString,
      r.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Trigram.similarity($a.toString(), $b.toString())")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TrigramSimilarityExpr =
    copy(left = newLeft, right = newRight)
}

/** Column-API bridge for the private[sql] Expression↔Column converters. */
object TrigramColumns {
  def trigramSimilarity(a: Column, b: Column): Column =
    ExpressionUtils.column(TrigramSimilarityExpr(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}

/**
 * SparkSessionExtensions installer: makes the native functions
 * available without a Gateway — e.g.
 * `withExtensions(new GraftExtensions)` on a session builder, or
 * `spark.sql.extensions=org.apache.spark.sql.graftshim.GraftExtensions`.
 */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, Literal, Subtract}

  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("trigram_similarity"),
      new ExpressionInfo(classOf[TrigramSimilarityExpr].getName,
        "trigram_similarity"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        TrigramSimilarityExpr(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("trigram_distance"),
      new ExpressionInfo(classOf[TrigramSimilarityExpr].getName,
        "trigram_distance"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        Subtract(Literal(1.0), TrigramSimilarityExpr(exprs(0), exprs(1)))))
    e.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalizeExpr].getName, "nfc_normalize"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        NfcNormalizeExpr(exprs(0))))
  }
}
