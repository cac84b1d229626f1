package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import graft.sources.Transcripts

/** The cache contract of operator code: an operator caches only inside a
  * [[Graft.cached]] scope, so no query leaves an entry in the session's
  * `CacheManager`; an operator whose consumers share one exchange needs no
  * cache at all. */
class CacheScopeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def cacheManager = spark.sharedState.cacheManager

  private def noopWrite(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The queries whose operators cached an intermediate of their own. */
  private val caching = Seq(40, 64, 70, 86, 101, 105, 112, 115, 118, 119, 125,
    134, 140, 149, 156, 157, 171, 186, 187, 188, 193, 197, 199, 200, 202, 208,
    221, 222, 223, 232, 233, 234, 235, 236, 241, 243, 245, 249, 263, 265, 266,
    272, 275, 286, 289, 295)

  test("each query that caches an intermediate leaves the CacheManager as it " +
    "found it after a noop write") {
    spark.catalog.clearCache() // what earlier suites left is not these queries'
    val names = caching.map { n =>
      SparkEntry.queries.keys.find(_.startsWith(s"q${n}_"))
        .getOrElse(fail(s"no query q$n"))
    }
    val left = names.filter { name =>
      noopWrite(SparkEntry.queries(name)(spark, tiny))
      val dirty = !cacheManager.isEmpty
      spark.catalog.clearCache()
      dirty
    }
    assert(left.isEmpty, s"queries that left a cached frame: ${left.mkString(", ")}")
  }

  test("a cache scope whose body throws still releases every frame it cached") {
    spark.catalog.clearCache()
    val base = spark.range(0, 1000).toDF("id")
    val err = intercept[IllegalStateException] {
      Graft.cached { cache =>
        val even = cache(base.filter("id % 2 = 0"))
        cache(even.selectExpr("id * 3 AS x")).count()
        throw new IllegalStateException("body failed")
      }
    }
    assert(err.getMessage == "body failed")
    assert(cacheManager.isEmpty, "a failed scope must release its frames")
  }

  test("a cache scope's result is materialized before its frames are released") {
    spark.catalog.clearCache()
    val vecs = spark.read.parquet(s"$tiny/embeddings.parquet")
    val got = ann.Centroids.kCenterSelect(vecs)
    assert(cacheManager.isEmpty)
    assert(got.collect().toSeq == Seq(Row(1L, 0L, 0L), Row(2L, 310L, 2740216L),
      Row(3L, 74L, 2346943L), Row(4L, 334L, 2177167L)))
    assert(ann.Centroids.kCenterSelect(vecs, 8).collect().map(_.getLong(1)).toSeq ==
      Seq(0L, 310L, 74L, 334L, 357L, 488L, 46L, 174L))
  }

  test("operators that no longer cache read their input once: every other " +
    "consumer of the shared subtree reads a ReusedExchange") {
    val docs = spark.read.parquet(s"$tiny/documents.parquet")
    val transcripts = spark.sql(Transcripts.synthSql(s"parquet.`$tiny/events.parquet`"))
    val parsed = Pipeline.parse(transcripts)
    // (name, frame, parquet scans of the whole plan)
    val cases = Seq[(String, DataFrame, Int)](
      ("robustAnomaly", operators.Aggregates.robustAnomaly(parsed), 1),
      ("seasonalAnomaly", operators.Aggregates.seasonalAnomaly(parsed), 1),
      ("cusumChangepoints", operators.Aggregates.cusumChangepoints(parsed), 1),
      ("rebalancePlan", SparkEntry.queries("q275_rebalance")(spark, tiny), 1),
      ("mixturePlan", operators.Sampling.mixturePlan(docs), 1),
      ("waterFill", operators.Sampling.waterFill(docs), 1),
      ("kmvSetOps", operators.Sketches.kmvSetOps(docs), 1),
      ("convDedup", operators.Conversations.convDedup(transcripts), 1),
      ("sharedPrefixMass", operators.Conversations.sharedPrefixMass(transcripts), 1),
      // the BM25 top-k is a checkpoint; the reranker's logits scan the corpus
      ("rankAgreement", text.Bm25.rankAgreement(docs), 1))
    spark.catalog.clearCache()
    val wrong = cases.flatMap { case (name, df, scans) =>
      df.collect()
      val plan = df.queryExecution.executedPlan
      val read = collect(plan) { case s: FileSourceScanExec => s }.size
      val reused = collect(plan) { case r: ReusedExchangeExec => r }.size
      if (read == scans && reused > 0) None else Some(s"$name: $read scans, $reused reused")
    }
    assert(wrong.isEmpty, wrong.mkString("; "))
    assert(cacheManager.isEmpty)
  }
}
