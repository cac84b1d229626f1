package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Lookups

/** Routing stage: the elastic index routing with default (J5,
  * `pkg/sink/sink_elastic.go:113-145`) and the per-sink fan-out frame.
  * Routing is one CASE over the constant index map — zero shuffle.
  */
object Routing {

  /** Adds `sink_index` = map lookup by event name else default. `name`
    * leads the output, the column order of the `USING (name)` join this
    * lookup stands for. */
  def withSinkIndex(df: DataFrame): DataFrame = {
    val arms = Lookups.sinkIndexRows.map { case (name, idx) => (col("name") === name, idx) }
    val index = arms.tail.foldLeft(when(arms.head._1, arms.head._2)) {
      case (c, (cond, idx)) => c.when(cond, idx)
    }
    df.select(col("name") +: df.columns.filter(_ != "name").map(col) :+
      index.otherwise(Lookups.defaultIndex).as("sink_index"): _*)
  }

  /** The three sink shapes of the reference (K1 file / K2 logstash /
    * K3 elastic): one routed frame, each sink a projection over it. The
    * per-sink aggregate counts (A2, `pkg/prom/prom.go:11-41`) that the
    * north rule verifies.
    *
    * One pass over the pipeline: a single `groupBy(name, sink_index)`
    * aggregate runs the expensive upstream exactly once (the shared `base`
    * plan's exchange is deduplicated by ReuseExchange across the three
    * views), then each sink view is a re-aggregation of that tiny frame. */
  def perSinkCounts(routed: DataFrame): DataFrame = {
    val base = routed.groupBy(col("name"), col("sink_index"))
      .agg(count(lit(1)).as("n"))
    val byName = base.groupBy(col("name")).agg(sum(col("n")).as("n"))
    val file = byName
      .select(lit("file").as("sink"), col("name").as("route_key"), col("n"))
    val logstash = byName
      .select(lit("logstash").as("sink"), col("name").as("route_key"), col("n"))
    val elastic = base.groupBy(col("sink_index")).agg(sum(col("n")).as("n"))
      .select(lit("elastic").as("sink"), col("sink_index").as("route_key"), col("n"))
    file.unionByName(logstash).unionByName(elastic)
  }

  /** Elastic bulk framing: two-line action+document pairs
    * (pkg/sink/sink_elastic.go:113-145; eshelper.go:40-151). */
  def bulkFrame(routed: DataFrame, docJson: String = "doc_json"): DataFrame =
    routed.withColumn("bulk",
      concat(lit("{\"index\":{\"_index\":\""), col("sink_index"), lit("\"}}\n"),
        col(docJson)))
}
