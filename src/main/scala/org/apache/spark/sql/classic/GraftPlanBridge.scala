package org.apache.spark.sql.classic

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{DataSource, LogicalRelation}
import org.apache.spark.sql.types.StructType

/** Bridge into `Dataset.ofRows` (private[sql]) so graft can wrap its own
  * logical nodes (graft.plans.AsOfJoinPlan) as DataFrames — the one hook
  * SparkSessionExtensions does not expose. Standard extension-library
  * technique (a package-scoped shim, no behavior of its own). */
object GraftPlanBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan):
      org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  /** A column over one of graft's own catalyst expressions. */
  def column(e: Expression): org.apache.spark.sql.Column = ExpressionUtils.column(e)

  /** A streaming-flagged parquet scan of exactly `paths` — the batch shape
    * a V1 stream source's `getBatch` must return (Spark's FileStreamSource
    * builds its batches the same way). */
  def streamingParquet(spark: org.apache.spark.sql.SparkSession, paths: Seq[String],
      schema: StructType): org.apache.spark.sql.DataFrame = {
    val s = spark.asInstanceOf[SparkSession]
    val relation = DataSource(s, className = "parquet", paths = paths,
      userSpecifiedSchema = Some(schema)).resolveRelation(checkFilesExist = false)
    Dataset.ofRows(s, LogicalRelation(relation, isStreaming = true))
  }

  /** An empty streaming-flagged batch of `schema`. */
  def emptyStream(spark: org.apache.spark.sql.SparkSession,
      schema: StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[SparkSession].internalCreateDataFrame(
      spark.sparkContext.emptyRDD[InternalRow], schema, isStreaming = true)
}
