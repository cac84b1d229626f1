package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Bridge to the `private[sql]` Column↔Expression converters that Spark 4
  * hid behind the connect-unified Column API, to the plan surgery that
  * reuses an analysed plan over new rows, and to the pieces of Spark's own
  * file writer that a job writing files from its tasks needs. Public Spark
  * API offers no supported way to do these in 4.x classic, so extensions
  * conventionally bridge through this package. */
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

  /** Runs `body` over `df`'s rows (its `queryExecution.toRdd`) as one SQL
    * execution named `name`, as Spark runs a write command: it shows in the
    * SQL tab, and `QueryExecutionListener`s and listeners of
    * `SparkListenerSQLExecutionEnd` see it end, its failure included. */
  def withRows[T](df: DataFrame, name: String)(body: RDD[InternalRow] => T): T = {
    val qe = classic.ClassicConversions.castToImpl(df).queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name))(body(qe.toRdd))
  }

  /** `conf` sent to a job's tasks once, as a broadcast
    * `SerializableConfiguration`: a task reads it from its executor's block
    * manager instead of deserializing it from its own closure. */
  final class SharedConf(spark: SparkSession, conf: Configuration) extends Serializable {
    private val shared = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
    def value: Configuration = shared.value.value
    def destroy(): Unit = shared.destroy()
  }
}
