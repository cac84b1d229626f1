package graft

import java.time.LocalDateTime
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Enrich
import graft.operators.Routing
import graft.sources.Lookups

/** The declarative twin of the pipeline's constant lookups: the broadcast
  * joins against the `Lookups` dims that `Enrich.withEntityName`,
  * `Enrich.withErrorFlags` and `Routing.withSinkIndex` replace with
  * expressions over the same driver-side rows. */
object LookupJoins {

  def withEntityName(df: DataFrame, spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("entity_id").orderBy("valid_from")
    val dim = Lookups.entityNames(spark).coalesce(1)
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .select(col("entity_id"), col("name").as("entity_name"),
        col("valid_from"), col("valid_to"))
    df.join(broadcast(dim),
      df("db_id") === dim("entity_id") && df("ts") >= dim("valid_from") &&
        (dim("valid_to").isNull || df("ts") < dim("valid_to")),
      "left")
      .drop("entity_id", "valid_from", "valid_to")
  }

  def withErrorFlags(df: DataFrame, spark: SparkSession): DataFrame = {
    import spark.implicits._
    val login = Lookups.loginErrorIds.toDF("len_")
      .withColumn("login_failed_flag", lit(true))
    val logged = spark.range(18000, 18500).filter(col("id") % 7 === 3)
      .select(col("id").as("lgn_"))
      .withColumn("logged_flag", lit(true))
    df.join(broadcast(login), df("error_number") === login("len_"), "left")
      .join(broadcast(logged), df("error_number") === logged("lgn_"), "left")
      .withColumn("login_failed", coalesce(col("login_failed_flag"), lit(false)))
      .withColumn("xe_is_event_logged", coalesce(col("logged_flag"), lit(false)))
      .drop("len_", "lgn_", "login_failed_flag", "logged_flag")
  }

  def withSinkIndex(df: DataFrame, spark: SparkSession): DataFrame =
    df.join(broadcast(Lookups.sinkIndexMap(spark)), Seq("name"), "left")
      .withColumn("sink_index", coalesce(col("sink_index"), lit(Lookups.defaultIndex)))
}

/** S6: the constant lookups equal their join twins row for row, on the
  * edge cases of each dim and on the parsed test transcripts. */
class LookupsSpec extends SparkSpec {

  private def at(s: String) = LocalDateTime.parse(s.replace(' ', 'T'))

  /** Every entity id of the dim plus a missing one (9) and null, each at
    * a version's first instant, the instant before the next version, the
    * instant before the first version and null; names and error numbers
    * cycle through the routing and flag cases, nulls included. */
  private lazy val edges: DataFrame = {
    val names = Seq("error_reported", "login", "sql_batch_completed", "wait_info", null)
    val errors = Seq[java.lang.Long](18456L, 18000L, 18003L, 18001L, 17892L, null)
    val froms = Lookups.entityNameRows.groupBy(_._1).map { case (id, vs) => id -> vs.map(_._3) }
    val ids = (1L to 9L).map(java.lang.Long.valueOf) :+ (null: java.lang.Long)
    val cases = for {
      id <- ids
      fs = Option(id).flatMap(i => froms.get(i.longValue)).getOrElse(Seq("2024-03-15 00:00:00"))
      ts <- fs.flatMap(f => Seq(at(f), at(f).minusNanos(1000))) :+ at("2030-01-01 00:00:00") :+ null
    } yield (id, ts)
    val rows = cases.zipWithIndex.map { case ((id, ts), k) =>
      Row(k, names(k % names.size), errors(k % errors.size), id, ts)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), StructType(Seq(
      StructField("k", IntegerType), StructField("name", StringType),
      StructField("error_number", LongType), StructField("db_id", LongType),
      StructField("ts", TimestampNTZType))))
  }

  private def sameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(got.schema.map(_.dataType) == want.schema.map(_.dataType))
    val g = got.orderBy("k").collect().toSeq
    val w = want.orderBy("k").collect().toSeq
    assert(g.size == edges.count() && w.size == g.size)
    g.zip(w).foreach { case (a, b) => assert(a == b, s"lookup $a != join twin $b") }
  }

  test("entity name: the CASE over validity intervals equals the as-of join") {
    val got = Enrich.withEntityName(edges)
    sameRows(got, LookupJoins.withEntityName(edges, spark))
    def nameAt(id: Long, ts: String) = got
      .filter(col("db_id") === id && col("ts") === lit(at(ts)))
      .select("entity_name").distinct().collect().map(_.getString(0)).toSeq
    assert(nameAt(1, "2024-01-01 00:00:00") == Seq("db_1_v1"))      // from: inclusive
    assert(nameAt(1, "2024-03-15 00:00:00") == Seq("db_1_v2"))      // next from: exclusive
    assert(nameAt(1, "2023-12-31 23:59:59.999999") == Seq(null))    // before the first version
    assert(nameAt(9, "2024-03-15 00:00:00") == Seq(null))           // not in the dim
  }

  test("error flags: set membership equals the two semi-joins") {
    val got = Enrich.withErrorFlags(edges)
    sameRows(got, LookupJoins.withErrorFlags(edges, spark))
    val flags = got.select("error_number", "login_failed", "xe_is_event_logged")
      .distinct().collect().map(r =>
        Option(r.get(0)).map(_.asInstanceOf[Long]) -> (r.getBoolean(1), r.getBoolean(2))).toMap
    assert(flags(Some(18456L)) == (true, false))
    assert(flags(Some(18000L)) == (false, true))
    assert(flags(Some(18001L)) == (false, false))
    assert(flags(Some(18003L)) == (false, false))
    assert(flags(None) == (false, false))
  }

  test("sink index: the CASE with default equals the USING join, name first") {
    val got = Routing.withSinkIndex(edges)
    assert(got.columns.head == "name")
    sameRows(got, LookupJoins.withSinkIndex(edges, spark))
    val idx = got.select("name", "sink_index").distinct().collect()
      .map(r => Option(r.getString(0)) -> r.getString(1)).toMap
    assert(idx(Some("login")) == "idx-auth" && idx(Some("wait_info")) == Lookups.defaultIndex)
    assert(idx(None) == Lookups.defaultIndex)
  }

  test("the logged-id constant is the set loggedErrorsSql describes") {
    val described = spark.sql(Lookups.loggedErrorsSql).collect().map(_.getLong(0)).toSet
    assert(described.size == 72)
    assert(Lookups.loggedErrorIds.toSet == described)
    assert(Lookups.loggedErrorIds.size == described.size)
  }

  test("the lookups equal their join twins on the parsed test transcripts") {
    val parsed = Pipeline.parsed(spark, tiny)
    val keys = Seq("conv_id", "turn_idx")
    def lookups(df: DataFrame) = Routing.withSinkIndex(Enrich.withErrorFlags(
      Enrich.withEntityName(df)))
    def joins(df: DataFrame) = LookupJoins.withSinkIndex(LookupJoins.withErrorFlags(
      LookupJoins.withEntityName(df, spark), spark), spark)
    val cols = (keys ++ Seq("name", "entity_name", "login_failed",
      "xe_is_event_logged", "sink_index")).map(col)
    val a = lookups(parsed).select(cols: _*)
    val b = joins(parsed).select(cols: _*)
    assert(a.count() == parsed.count())
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    assert(a.filter(col("entity_name").isNotNull).count() > 0)
  }
}
