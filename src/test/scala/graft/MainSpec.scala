package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.sources.Transcripts

class MainSpec extends SparkSpec {

  private def rm(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(x => Files.delete(x))
  }

  test("batch main writes all sinks + lineage (one-shot xelogstash mode)") {
    val root = "/tmp/graft_main_spec"
    rm(root)
    Transcripts.load(spark, tiny).write.parquet(s"$root/in")
    Main.main(Array("batch", s"$root/in", s"$root/out"))
    val n = spark.read.text(s"$root/out/logstash").count()
    assert(n == Pipeline.routed(spark, tiny).count())
    assert(Files.exists(Paths.get(s"$root/out/lineage")))
    assert(Files.exists(Paths.get(s"$root/out/elastic")))
  }

  // the registrations GraftExtensions injects
  private def registerSqlFunctions(): Unit =
    GraftExtensions.functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }

  test("parse_turn is usable from SQL via the extension's function builder") {
    registerSqlFunctions()
    Transcripts.load(spark, tiny).createOrReplaceTempView("t_sql")
    val out = spark.sql(
      "SELECT parse_turn(text).error_number AS en FROM t_sql WHERE parse_turn(text).name = 'error_reported'")
    assert(out.count() > 0)
    assert(out.filter(col("en").isNull).count() == 0)
  }

  test("token_sketches and shingle_hashes are usable from SQL") {
    registerSqlFunctions()
    import TestSpark.spark.implicits._
    Seq((1L, "one two three four")).toDF("doc_id", "text")
      .createOrReplaceTempView("d_sql")
    val lv = spark.sql(
      "SELECT lev_banded('kitten', 'sitting', 5) AS d, lev_banded('aa', 'zzzz', 1) AS x")
      .collect()(0)
    assert(lv.getInt(0) == 3 && lv.getInt(1) == -1)
    // optimizer rule (GraftExtensions injectOptimizerRule): bounded
    // builtin-levenshtein predicates rewrite to the banded kernel
    spark.experimental.extraOptimizations = Seq(graft.plans.BandedLevRewrite)
    try {
      import TestSpark.spark.implicits._
      val f = Seq(("kitten", "sitting"), ("abc", "zzzzzzzzzz")).toDF("a", "b")
        .filter(levenshtein(col("a"), col("b")) <= 5)
      // the rule fires on the analyzed plan (a LocalRelation source gets
      // constant-folded away afterwards, so check the rewrite directly)
      assert(graft.plans.BandedLevRewrite(f.queryExecution.analyzed)
        .toString.contains("levenshtein_banded"))
      assert(f.count() == 1)
      val v = Seq(("kitten", "sitting")).toDF("a", "b")
        .select(levenshtein(col("a"), col("b"), 5).as("d"))
      assert(graft.plans.BandedLevRewrite(v.queryExecution.analyzed)
        .toString.contains("levenshtein_banded"))
      assert(v.collect()(0).getInt(0) == 3)
    } finally spark.experimental.extraOptimizations = Nil
    val r = spark.sql(
      """SELECT token_sketches(text).fp AS fp, size(shingle_hashes(text)) AS n
         FROM d_sql""").collect()(0)
    assert(r.getInt(1) == 2)     // 4 tokens -> 2 shingles
    // fp equals the declarative fingerprint on the same text
    val want = text.TextAnalysis.fingerprintsDeclarative(
      Seq((1L, "one two three four")).toDF("doc_id", "text"))
      .collect()(0).getLong(1)
    assert(r.getLong(0) == want)
  }

  test("lev_banded rejects a column k, a NULL k and a wrong argument count by name") {
    registerSqlFunctions()
    import TestSpark.spark.implicits._
    Seq(("kitten", "sitting", 3)).toDF("a", "b", "k").createOrReplaceTempView("lev_sql")
    for ((q, why) <- Seq(
        "SELECT lev_banded(a, b, k) FROM lev_sql" -> "k (argument 3)",
        "SELECT lev_banded(a, b, NULL) FROM lev_sql" -> "k (argument 3)",
        "SELECT lev_banded(a, b) FROM lev_sql" -> "takes 3 arguments, got 2")) {
      val e = intercept[IllegalArgumentException](spark.sql(q).collect())
      assert(e.getMessage.contains("lev_banded") && e.getMessage.contains(why),
        s"$q: ${e.getMessage}")
    }
  }
}
