package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, lazy). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Graft.prep(s)
  }
  val tiny = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = TestSpark.spark
  def tiny: String = TestSpark.tiny

  /** The physical plan that computes the rows of the frame `build`
    * returns, one node per line: the initial plan of adaptive execution,
    * with each cached relation's plan listed under the scan that reads
    * it. An operator that materializes its result inside a
    * [[Graft.cached]] scope computes it in its last `localCheckpoint`
    * action and returns a frame that only reads the checkpoint, so that
    * action's plan is the one that did the work. */
  def computedPlan(build: => DataFrame): String = {
    val checkpoints = new ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        if (action == "localCheckpoint") checkpoints.add(qe)
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val df = try {
      val built = build
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      built
    } finally spark.listenerManager.unregister(listener)
    val qe = df.queryExecution.analyzed match {
      case _: LogicalRDD if !checkpoints.isEmpty =>
        checkpoints.toArray(Array.empty[QueryExecution]).last
      case _ => df.queryExecution
    }
    def lines(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => lines(a.initialPlan)
      case s: InMemoryTableScanExec =>
        s.simpleString(Int.MaxValue) +: lines(s.relation.cachedPlan)
      case _ => p.simpleString(Int.MaxValue) +: p.children.flatMap(lines)
    }
    lines(qe.executedPlan).mkString("\n")
  }
}
