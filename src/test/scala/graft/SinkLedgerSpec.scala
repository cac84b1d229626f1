package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.Type.Repetition
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sinks.Sinks

/** What the tasks of `Sinks.writeAll`'s one staged write return: the
  * lineage rows per source file, equal to the `groupBy` twin below and
  * written by the driver as one parquet file, and each sink's rows and
  * bytes, equal to what lands on disk. */
class SinkLedgerSpec extends SparkSpec {

  private val root = "/tmp/graft_sink_ledger_spec"

  /** The lineage `writeAll` wrote before the staged write's tasks
    * returned its rows: one `groupBy` job over the sink frame. */
  private def lineageTwin(frame: DataFrame, batchId: Long): DataFrame =
    frame.groupBy("src_file")
      .agg(min("src_offset").as("min_offset"), max("src_offset").as("max_offset"),
        count(lit(1)).as("n_events"))
      .withColumn("batch_id", lit(batchId))

  /** A routed-shaped batch over three files, a null file, and null
    * offsets, with multi-byte documents. */
  private def synthetic: DataFrame = {
    val schema = StructType(Seq(
      StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
      StructField("ts", TimestampNTZType), StructField("doc_json", StringType),
      StructField("sink_index", StringType), StructField("src_file", StringType),
      StructField("src_offset", LongType)))
    val ts = java.time.LocalDateTime.of(2024, 3, 1, 10, 15)
    def row(conv: String, turn: Int, hours: Int, file: String, offset: java.lang.Long) =
      Row(conv, turn, ts.plusHours(hours), s"""{"name":"login","note":"é—☃ $conv/$turn"}""",
        if (turn % 2 == 0) "idx-a" else "idx-b", file, offset)
    val rows = Seq(
      row("c1", 1, 0, "a.parquet", 5L), row("c1", 2, 0, "a.parquet", 1L),
      row("c2", 1, 1, "a.parquet", 9L), row("c2", 2, 1, "b.parquet", null),
      row("c3", 1, 2, "b.parquet", 7L), row("c3", 2, 2, null, 2L),
      row("c4", 1, 3, null, null), row("c4", 2, 3, "c.parquet", null))
    spark.createDataFrame(rows.asJava, schema)
  }

  private def fresh(name: String): String = {
    val dir = s"$root/$name"
    Graft.rmTree(dir)
    dir
  }

  test("the observed lineage equals the groupBy twin: null file, null offsets, " +
    "several files, batch_id") {
    for ((name, routed) <- Seq("synthetic" -> synthetic, "tiny" -> Pipeline.routed(spark, tiny))) {
      val out = fresh(name)
      Sinks.writeAll(routed, s"$out/sinks", batchId = 42L)
      val twin = lineageTwin(Sinks.sinkFrame(routed), 42L)
      assert(Sinks.LineageSchema == twin.schema, name)
      twin.write.parquet(s"$out/twin")
      val (got, want) = (spark.read.parquet(s"$out/sinks/lineage"), spark.read.parquet(s"$out/twin"))
      assert(got.schema == want.schema, name)
      assert(got.collect().toSeq.map(_.toSeq).sortBy(_.toString) ==
        want.collect().toSeq.map(_.toSeq).sortBy(_.toString), name)
    }
    val files = spark.read.parquet(s"$root/synthetic/sinks/lineage").collect()
      .map(r => Option(r.getString(0)) -> r.getLong(3)).toMap
    assert(files == Map(Some("a.parquet") -> 3L, Some("b.parquet") -> 2L,
      Some("c.parquet") -> 1L, None -> 2L))
  }

  test("writeAll's per-sink rows and bytes equal the sink files on disk") {
    for ((name, routed) <- Seq("synthetic" -> synthetic, "empty" -> synthetic.limit(0),
                               "tiny" -> Pipeline.routed(spark, tiny))) {
      val out = fresh(s"ledger_$name")
      val written = Sinks.writeAll(routed, out)
      val rows = Sinks.countsFromDisk(spark, out).groupBy("sink").agg(sum("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
      for (sink <- Sinks.SinkNames) {
        assert(Files.exists(Paths.get(out, sink, "_SUCCESS")), s"$name $sink")
        val stream = Files.walk(Paths.get(out, sink))
        val bytes = try stream.iterator().asScala.filter(Files.isRegularFile(_))
          .filter(_.getFileName.toString.startsWith("part-")).map(Files.size).sum
        finally stream.close()
        assert(written(sink) == Sinks.Written(rows(sink), bytes), s"$name $sink")
      }
      assert(!Files.exists(Paths.get(out, "_staging")))
    }
  }

  test("the driver writes the lineage rows as one parquet file: LineageSchema, " +
    "src_file order with the null file first, a _SUCCESS") {
    val out = fresh("driver_lineage")
    Sinks.writeAll(synthetic, out, batchId = 7L)
    val dir = Paths.get(out, "lineage")
    val names = Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    val parts = names.filter(_.startsWith("part-"))
    assert(parts.size == 1 && parts.head.endsWith(".snappy.parquet"), names)
    assert(names.toSet == Set(parts.head, s".${parts.head}.crc", "_SUCCESS", "._SUCCESS.crc"), names)
    val file = new Path(dir.resolve(parts.head).toString)
    val footer = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, spark.sessionState.newHadoopConf()))
      try r.getFooter.getFileMetaData finally r.close()
    }
    // Spark's own schema record, nullability included, and parquet's repetitions
    assert(DataType.fromJson(footer.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
      == Sinks.LineageSchema)
    assert(Sinks.LineageSchema.fields.toSeq.map(f => footer.getSchema.getType(Seq(f.name): _*).getRepetition) ==
      Sinks.LineageSchema.fields.toSeq.map(f => if (f.nullable) Repetition.OPTIONAL else Repetition.REQUIRED))
    val got = spark.read.parquet(file.toString).collect().toSeq.map(_.toSeq)
    assert(got == Seq(
      Seq(null, 2L, 2L, 2L, 7L), Seq("a.parquet", 1L, 9L, 3L, 7L),
      Seq("b.parquet", 7L, 7L, 2L, 7L), Seq("c.parquet", null, null, 1L, 7L)))
    assert(!Files.exists(Paths.get(out, "_staging")))
  }
}
