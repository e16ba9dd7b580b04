package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, ExpressionSet}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Minimal private-API bridge: constructing a Dataset from a custom
  * LogicalPlan requires `Dataset.ofRows`, which is `private[sql]`. The
  * reference uses the same technique for its plan-level classes (e.g.
  * core/src/main/scala/org/apache/spark/sql/execution/ColumnarShuffleExchangeExec.scala
  * lives inside the org.apache.spark.sql tree). Only this file and
  * [[ArrowPipe]] live outside the graft package namespace.
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column over a raw catalyst Expression (Column constructors are
    * `private[sql]` in Spark 4). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Catalyst expression behind a Column (`Column.expr` is gone in 4.x). */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Defensive planner-strategy mount for sessions built WITHOUT
    * spark.sql.extensions=graft.plans.GraftExtensions: adds the strategy to
    * `experimental.extraStrategies` once (idempotent). */
  def ensureStrategy(
      spark: SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(strategy))
      exp.extraStrategies = exp.extraStrategies :+ strategy
  }

  /** A parquet footer's Spark schema, converted as each schema inference
    * task converts it, under this session's parquet confs. */
  def parquetSchema(spark: SparkSession, path: Path, meta: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(path, meta), new ParquetToSparkSchemaConverter(
      spark.asInstanceOf[classic.SparkSession].sessionState.conf))

  /** A frame over `rows` (Spark's internal format) as `schema`: the RDD
    * scan `createDataFrame` gives (no size estimate), whose rows also
    * satisfy `constraints` of the scan's output, as a `localCheckpoint`ed
    * frame carries its plan's, so the optimizer infers no filter for them. */
  def rowsFrame(spark: SparkSession, rows: Seq[InternalRow], schema: StructType)(
      constraints: Seq[Attribute] => Seq[Expression]): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val output = DataTypeUtils.toAttributes(schema)
    classic.Dataset.ofRows(s, LogicalRDD(output, s.sparkContext.parallelize(rows))(
      s, None, Some(ExpressionSet(constraints(output)))))
  }

  /** Session-local function registry (private[sql]); used to register the
    * graft functions defensively when the session wasn't built with
    * spark.sql.extensions=graft.plans.GraftExtensions. */
  def functionRegistry(spark: SparkSession)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
}
