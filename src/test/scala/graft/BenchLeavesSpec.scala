package graft

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper

/** The bench-leaf registry: its names are Bench's JSON keys, and every
  * leaf timed as a noop write plans on the staged inputs. */
class BenchLeavesSpec extends SparkSpec {

  test("registry names, after the pipeline_c* keys, are BENCH_r06's query keys") {
    val queries = new ObjectMapper().readTree(new java.io.File("BENCH_r06.json"))
      .get("parsed").get("queries")
    val keys = queries.fieldNames().asScala.toSeq
    val (pipeline, leaves) = keys.span(_.startsWith("pipeline_c"))
    assert(pipeline.nonEmpty)
    assert(leaves == BenchLeaves.all.map(_.name))
  }

  test("the timing modes: only the driver-loop builders clock their build") {
    assert(BenchLeaves.all.filter(_.timing == BenchLeaves.EagerBuild).map(_.name).toSet ==
      Set("pagerank", "tool_edges_auto", "connected_components", "kcenter", "max_coverage"))
  }

  test("every noop-write leaf plans on the sf0.001 inputs") {
    val input = BenchLeaves.replicated(spark, tiny, 2, 4)
    val in = BenchLeaves.inputs(spark, tiny, 2, 4, input, BenchLeaves.routed(input))
    try {
      for (leaf <- BenchLeaves.all if leaf.timing == BenchLeaves.NoopWrite) {
        val opened = leaf.open(in)
        try {
          val plan = opened.build().queryExecution.executedPlan
          assert(plan.output.nonEmpty, leaf.name)
        } finally opened.close()
      }
    } finally spark.catalog.clearCache()
  }
}
