package graft

import org.apache.spark.sql.functions._
import graft.sources.Transcripts

/** JsonDocExpr parity with to_json: parsed-JSON equality (key order and
  * engine-specific whitespace are irrelevant; every consumer parses). */
class JsonDocSpec extends SparkSpec {

  test("json_doc output parses to the same documents as to_json") {
    val f = operators.Routing.withSinkIndex(
      Pipeline.process(Transcripts.load(spark, tiny), spark))
    val docStruct = struct(
      col("name"), col("conv_id"), col("turn_idx"), col("role"), col("tool"),
      col("ts").as("@timestamp"),
      col("error_number"), col("severity_num"), col("state_num"),
      col("client_addr"), col("xe_severity_value"), col("xe_severity_keyword"),
      col("xe_category"), col("xe_description"), col("xe_acct_app"),
      col("entity_name"), col("sink_index"))
    val both = f.select(
      functions.JsonDoc.jsonDoc(docStruct).as("fast"),
      to_json(docStruct).as("jackson")).cache()
    try {
      // parse both back with the same schema and compare field-by-field
      val parsedFast = spark.read.json(both.select("fast").as[String](org.apache.spark.sql.Encoders.STRING))
      val parsedJack = spark.read.json(both.select("jackson").as[String](org.apache.spark.sql.Encoders.STRING))
      assert(parsedFast.schema == parsedJack.schema,
        s"schemas differ:\n${parsedFast.schema}\n${parsedJack.schema}")
      val cols = parsedFast.columns.sorted.map(col(_))
      val a = parsedFast.select(cols: _*)
      val b = parsedJack.select(cols: _*)
      assert(a.except(b).count() == 0 && b.except(a).count() == 0)
    } finally both.unpersist()
  }

  test("json_doc escapes control chars, quotes, backslashes") {
    import TestSpark.spark.implicits._
    val df = Seq(("a\"b\\c\nd\tef", 7L)).toDF("s", "n")
    val out = df.select(functions.JsonDoc.jsonDoc(struct(col("s"), col("n"))).as("j"))
      .collect()(0).getString(0)
    val parsed = spark.read.json(Seq(out).toDS()).collect()(0)
    assert(parsed.getAs[String]("s") == "a\"b\\c\nd\tef")
    assert(parsed.getAs[Long]("n") == 7L)
    assert(!out.contains("\n")) // NDJSON-safe: raw newline escaped
  }
}
