package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Bridge to the `private[sql]` Column↔Expression converters that Spark 4
  * hid behind the connect-unified Column API, and to the plan surgery that
  * reuses an analysed plan over new rows. Public Spark API offers no
  * supported way to do either in 4.x classic, so extensions conventionally
  * bridge through this package. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  private def classicSession(spark: SparkSession): classic.SparkSession =
    classic.ClassicConversions.castToImpl(spark)

  private def analyzed(df: DataFrame) =
    classic.ClassicConversions.castToImpl(df).queryExecution.analyzed

  /** An empty leaf with `schema`'s columns: the stand-in that [[rebind]]
    * later replaces with a batch's rows. */
  def placeholder(spark: SparkSession, schema: StructType): DataFrame = {
    val s = classicSession(spark)
    classic.Dataset.ofRows(s,
      LogicalRDD(DataTypeUtils.toAttributes(schema), s.sparkContext.emptyRDD[InternalRow])(s))
  }

  /** `template`'s analysed plan with `leaf`'s [[placeholder]] replaced by
    * `rows`' plan, as a frame of `spark`. `rows` sits under a `Project` of
    * `Alias`es that keep the placeholder's `exprId`s, the way
    * `MicroBatchExecution` substitutes a source's batch, so every
    * reference above stays bound and the plan is not analysed again. */
  def rebind(spark: SparkSession, template: DataFrame, leaf: DataFrame, rows: DataFrame): DataFrame = {
    val stub = analyzed(leaf).asInstanceOf[LogicalRDD].rdd
    val batch = analyzed(rows)
    require(batch.schema == leaf.schema,
      s"rows ${batch.schema.simpleString} do not fit ${leaf.schema.simpleString}")
    var bound = 0
    val plan = analyzed(template).transformUp {
      case l: LogicalRDD if l.rdd eq stub =>
        bound += 1
        Project(l.output.zip(batch.output).map { case (to, from) =>
          Alias(from, to.name)(exprId = to.exprId, explicitMetadata = Some(from.metadata))
        }, batch)
    }
    require(bound == 1, s"the template holds its placeholder $bound times")
    plan.setAnalyzed()
    classic.Dataset.ofRows(classicSession(spark), plan)
  }
}
