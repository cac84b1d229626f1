package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Routing
import graft.sinks.Sinks

object SinkStageSpec {
  /** Rows the failing `doc_json` below has seen, across tasks and jobs. */
  val docs = new AtomicInteger()
}

/** The staged write's tasks write the sink lines themselves: only the
  * files their results list reach a sink, and the sink directories and
  * lines are those of Spark's `partitionBy(...).text` writers. */
class SinkStageSpec extends SparkSpec {

  private val root = "/tmp/graft_sink_stage_spec"

  private def fresh(name: String): String = {
    val dir = s"$root/$name"
    Graft.rmTree(dir)
    dir
  }

  private def walk(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toList finally s.close()
    }
  }

  private def partFiles(dir: String): Seq[Path] =
    walk(dir).filter(f => Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-"))

  /** Per sink, the rows on disk equal the routed rows, the lineage counts
    * each routed row once, and no staging directory remains. */
  private def assertPublishedOnce(out: String, routed: DataFrame): Unit = {
    val got = Sinks.countsFromDisk(spark, out).select("sink", "route_key", "n")
    val want = Routing.perSinkCounts(routed).select("sink", "route_key", "n")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "per-sink counts on disk differ from the routed counts")
    val lineage = spark.read.parquet(s"$out/lineage").agg(sum("n_events")).collect()(0).getLong(0)
    assert(lineage == routed.count())
    assert(!Files.exists(Paths.get(out, "_staging")), "the staging directory remains")
  }

  test("attempt isolation: staged files no task result lists are never published") {
    val routed = Pipeline.routed(spark, tiny)

    // a lost attempt's output, left in the batch's staging directory
    val planted = fresh("planted")
    val attempt = Paths.get(planted, "_staging", "batch=0", "attempt=999999")
    val name = "part-00000-00000000-0000-0000-0000-000000000000.c000.txt"
    val doc = """{"name":"login","conv_id":"planted","turn_idx":0}"""
    for ((dir, line) <- Seq("file/date_hour=20240301_10" -> doc, "logstash" -> doc,
                            "elastic/sink_index=idx-default" -> s"""{"index":{"_index":"idx-default"}}\n$doc""")) {
      Files.createDirectories(attempt.resolve(dir))
      Files.write(attempt.resolve(dir).resolve(name), s"$line\n".getBytes(UTF_8))
    }
    Sinks.writeAll(routed, planted)
    assertPublishedOnce(planted, routed)

    // a failed attempt's partial output: one write task fails after it
    // has written some lines, and the retried write succeeds
    val failed = fresh("failed")
    val failAt = SinkStageSpec.docs.get + 100
    val failOnce = udf { (doc: String) =>
      if (SinkStageSpec.docs.incrementAndGet() == failAt) throw new IllegalStateException("provoked")
      doc
    }.asNondeterministic()
    var leftBehind = -1
    Sinks.write(Sinks.sinkFrame(routed).withColumn("doc_json", failOnce(col("doc_json"))),
      failed, batchId = 0L, maxAttempts = 2, sleep = _ => leftBehind = partFiles(s"$failed/_staging").size)
    assert(leftBehind > 0, "the failed attempt left no staged file")
    assertPublishedOnce(failed, routed)
  }

  /** A routed-shaped batch with a null `ts`, an empty, a null and an
    * escaped `sink_index`. */
  private def synthetic: DataFrame = {
    val schema = StructType(Seq(
      StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
      StructField("ts", TimestampNTZType), StructField("doc_json", StringType),
      StructField("sink_index", StringType), StructField("src_file", StringType),
      StructField("src_offset", LongType)))
    val ts = java.time.LocalDateTime.of(2024, 3, 1, 10, 15)
    val rows = Seq[(String, Int, java.time.LocalDateTime, String)](
      ("c1", 1, ts, "idx-a"), ("c1", 2, null, "idx-a"), ("c2", 1, ts.plusHours(1), ""),
      ("c2", 2, ts.plusHours(1), "a/b:c"), ("c3", 1, null, null), ("c3", 2, ts, "a/b:c"),
      ("c4", 1, ts.plusHours(2), "100%=x"))
      .map { case (conv, turn, t, index) =>
        Row(conv, turn, t, s"""{"name":"login","note":"$conv/$turn ☃"}""", index, "a.parquet", turn.toLong)
      }
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Per directory of `dir` that holds part files, relative to `dir`: its
    * lines, sorted. */
  private def linesByDir(dir: String): Map[String, Seq[String]] =
    partFiles(dir).groupBy(f => Paths.get(dir).relativize(f.getParent).toString)
      .map { case (d, fs) =>
        d -> fs.flatMap(f => new String(Files.readAllBytes(f), UTF_8).split("\n", -1).dropRight(1)).sorted
      }

  test("partition-path parity: writeAll's sink directories and lines are Spark's partitionBy writers'") {
    val ours = fresh("parity_ours")
    val theirs = fresh("parity_spark")
    val routed = synthetic
    Sinks.writeAll(routed, ours)
    Sinks.writeFile(routed, s"$theirs/file")
    Sinks.writeLogstash(routed, s"$theirs/logstash")
    Sinks.writeElastic(routed, s"$theirs/elastic")
    for (sink <- Sinks.SinkNames) {
      val (got, want) = (linesByDir(s"$ours/$sink"), linesByDir(s"$theirs/$sink"))
      assert(got == want, sink)
    }
    val dirs = linesByDir(s"$ours/file").keySet ++ linesByDir(s"$ours/elastic").keySet
    assert(dirs.contains("date_hour=__HIVE_DEFAULT_PARTITION__") &&
      dirs.contains("sink_index=__HIVE_DEFAULT_PARTITION__") &&
      dirs.exists(d => d.startsWith("sink_index=a%2Fb%3Ac")), dirs)
  }
}
