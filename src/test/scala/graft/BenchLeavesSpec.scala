package graft

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The bench-leaf registry: its names are Bench's JSON keys, and every
  * leaf timed as a noop write plans on the staged inputs without running
  * a job, and leaves no cached frame once closed. */
class BenchLeavesSpec extends SparkSpec {

  test("registry names, after the pipeline_c* keys, are BENCH_r06's query keys") {
    val queries = new ObjectMapper().readTree(new java.io.File("BENCH_r06.json"))
      .get("parsed").get("queries")
    val keys = queries.fieldNames().asScala.toSeq
    val (pipeline, leaves) = keys.span(_.startsWith("pipeline_c"))
    assert(pipeline.nonEmpty)
    assert(leaves == BenchLeaves.all.map(_.name))
  }

  test("the timing modes: only the builders that run their own jobs clock their build") {
    assert(BenchLeaves.all.filter(_.timing == BenchLeaves.EagerBuild).map(_.name).toSet ==
      Set("pagerank", "tool_edges_auto", "connected_components", "kcenter", "max_coverage",
        "tfidf", "curation", "kmeans_step", "bm25_topk", "quality_deciles", "semantic_dedup",
        "lm_score", "conv_neardup", "bloom_prefilter", "dsir_weights", "triangles", "quality_z",
        "retrieval_eval", "vocab_drift", "reword_retries", "volume_trend", "phrase_search",
        "ks_drift", "homoglyph_dups", "salient_passage", "collocations", "log_templates",
        "exact_quantiles_2pass"))
  }

  test("every noop-write leaf plans on the sf0.001 inputs") {
    spark.catalog.clearCache() // what earlier suites left is not the leaves'
    val input = BenchLeaves.replicated(spark, tiny, 2, 4)
    val in = BenchLeaves.inputs(spark, tiny, 2, 4, input, BenchLeaves.routed(input))
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    val building = try {
      BenchLeaves.all.filter(_.timing == BenchLeaves.NoopWrite).filter { leaf =>
        val opened = leaf.open(in)
        try {
          org.apache.spark.ListenerBusDrain(spark.sparkContext)
          val before = jobs.get
          val plan = opened.build().queryExecution.executedPlan
          assert(plan.output.nonEmpty, leaf.name)
          org.apache.spark.ListenerBusDrain(spark.sparkContext)
          jobs.get != before
        } finally opened.close()
      }.map(_.name)
    } finally spark.sparkContext.removeSparkListener(counter)
    assert(building.isEmpty, s"noop-write leaves that run jobs while building: $building")
    assert(spark.sharedState.cacheManager.isEmpty, "a leaf left a cached frame")
  }
}
