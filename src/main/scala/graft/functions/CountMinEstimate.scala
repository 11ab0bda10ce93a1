package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.CountMinSketch

/** Point estimate from a Spark `count_min_sketch` column: how often
  * `item` was added to the sketch. Spark ships the aggregate but no
  * per-row reader, so this wraps the public
  * `CountMinSketch.readFrom(bytes).estimateCount(item)`. The aggregate
  * adds a string as its UTF-8 bytes, so the probe looks up the same
  * bytes.
  */
object CountMinEstimate {

  def apply(sketch: Column, item: Column): Column =
    Bridge.column(CmsEstimate(Bridge.expression(sketch), Bridge.expression(item)))

  /** Codegen target of [[CmsEstimate]]. */
  def count(sketch: Array[Byte], item: UTF8String): Long =
    CountMinSketch.readFrom(sketch).estimateCount(item.getBytes)
}

/** `cms_estimate(sketch, item)` — [[CountMinEstimate.count]] as a
  * codegen'd Catalyst expression.
  */
case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(BinaryType, StringType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cms_estimate"

  override def nullSafeEval(sketch: Any, item: Any): Any =
    CountMinEstimate.count(sketch.asInstanceOf[Array[Byte]], item.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (sk, item) => s"graft.functions.CountMinEstimate.count($sk, $item)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(left = newLeft, right = newRight)
}
