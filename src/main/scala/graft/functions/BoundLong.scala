package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, LongType}

/** A per-call `Long` constant kept out of generated source. `lit(v)`
  * is a `Literal` that codegen inlines as a Java constant, so each new
  * value is new source text, and Spark's codegen cache (keyed by the
  * source) compiles the whole stage again — an index append at a new
  * version compiled about 8 classes that no later call reused. This
  * leaf hands the value to the generated class as a reference object
  * (`ctx.addReferenceObj`), so every value shares one class. It is not
  * foldable: constant folding would turn it back into a `Literal`.
  * Same type, nullability and value as `lit(value)`, so the rows and
  * the schema a write stores are unchanged.
  */
case class BoundLong(value: Long) extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "bound_long"

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bound", java.lang.Long.valueOf(value),
      "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();",
      isNull = FalseLiteral)
  }
}

object BoundLong {
  /** `lit(value)` without a compile per value. */
  def lit(value: Long): Column = Bridge.column(BoundLong(value))
}
