package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.classic.GraftPlanBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** A `bigint` bound parameter: the value of `lit(value)`, read at run
  * time from the generated class's reference array.
  *
  * Spark writes a primitive literal into the generated Java source, and
  * `CodeGenerator` caches compiled classes by that source, so a plan
  * rebuilt with new bounds (each micro-batch's lsn range, each poll's
  * offsets) compiles new classes every time. This leaf is not foldable and
  * its code reads a boxed `Long` from `references` (the [[BloomContains]]
  * shape), so plans that differ only in their parameters share one
  * compiled class.
  *
  * Not being a literal, a parameter is never pushed to a data source and
  * [[graft.plans.RowValueCursorBound]] derives no bound from it: use it
  * where the file list already does the pruning. */
case class LongParam(value: Long) extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "param"
  override def sql: String = s"param($value)"

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", java.lang.Long.valueOf(value), "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }
}

object LongParam {
  /** `value` as a bound-parameter column. */
  def col(value: Long): Column = GraftPlanBridge.column(LongParam(value))
}
