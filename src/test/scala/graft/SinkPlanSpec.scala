package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sinks.Sinks
import graft.sources.Transcripts
import graft.streaming.StreamingPipeline

/** A stream plans its sink frame once per query and rebinds it to each
  * micro-batch (`Sinks.SinkPlan`): the rebound plan writes what a plan
  * built for the batch writes, and a later query's micro-batches reuse the
  * code an earlier query generated. */
class SinkPlanSpec extends SparkSpec {

  private val root = "/tmp/graft_sink_plan_spec"

  private def walk(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toList finally s.close()
    }
  }

  private val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** The sink files under `out`, one map per write (the job UUID in their
    * names): (sink directory, file name with the UUID masked) → text. */
  private def sinkFilesByWrite(out: String): Set[Map[(String, String), String]] =
    Sinks.SinkNames.flatMap(s => walk(s"$out/$s"))
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-"))
      .groupBy(f => uuid.findFirstIn(f.getFileName.toString).get)
      .values.map(_.map { f =>
        (Paths.get(out).relativize(f.getParent).toString,
          uuid.replaceAllIn(f.getFileName.toString, "U")) -> new String(Files.readAllBytes(f), UTF_8)
      }.toMap).toSet

  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toSeq.mkString("|")).sorted

  test("the rebound sink plan writes each micro-batch's sink files, lineage and " +
    "quarantine as a plan built for the batch") {
    Graft.rmTree(root)
    val t = Transcripts.load(spark, tiny)
    // unnameable rows, so the quarantine holds rows of every batch
    t.withColumn("text", when(col("turn_idx") % 50 === 7, lit("")).otherwise(col("text")))
      .repartition(3).write.parquet(s"$root/in")
    StreamingPipeline.start(spark, s"$root/in", s"$root/drain", s"$root/ckpt",
      maxFilesPerTrigger = Some(1), quarantineDir = Some(s"$root/dlq")).awaitTermination()

    // the twin: the same source, and per micro-batch the plan built for the
    // batch in its own session, into a sink root of its own
    spark.readStream.schema(StreamingPipeline.schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$root/in")
      .withColumn("src_file", regexp_extract(input_file_name(), "([^/]+)$", 1))
      .writeStream.option("checkpointLocation", s"$root/twin_ckpt")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Filters.deadLetterRaw(batch)
          .write.mode("overwrite").parquet(s"$root/twin_dlq/batch=$batchId")
        Sinks.writeAll(Pipeline.transform(batch, spark), s"$root/twin/$batchId", batchId)
        ()
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()

    val batches = (0 until 3).map(_.toLong)
    val twin = batches.map(b => sinkFilesByWrite(s"$root/twin/$b"))
    assert(twin.forall(_.size == 1), "one write per twin batch")
    assert(sinkFilesByWrite(s"$root/drain") == twin.flatten.toSet,
      "the drain's sink files differ from the per-batch plans'")
    val twinLineage = batches.map(b => spark.read.parquet(s"$root/twin/$b/lineage"))
      .reduce(_ unionByName _)
    assert(rows(spark.read.parquet(s"$root/drain/lineage")) == rows(twinLineage))
    for (b <- batches) {
      val (got, want) = (rows(spark.read.parquet(s"$root/dlq/batch=$b")),
        rows(spark.read.parquet(s"$root/twin_dlq/batch=$b")))
      assert(got.nonEmpty && got == want, s"quarantine of batch $b")
    }
  }

  for (quarantine <- Seq(false, true))
    test("generated code is reused across queries: a second drain " +
      (if (quarantine) "with a quarantine " else "") + "compiles no class") {
      val dir = s"$root/codegen_$quarantine"
      Graft.rmTree(dir)
      Transcripts.load(spark, tiny)
        .withColumn("text", when(col("turn_idx") % 50 === 7, lit("")).otherwise(col("text")))
        .coalesce(1).write.parquet(s"$dir/in")
      def drain(n: Int): Unit =
        StreamingPipeline.start(spark, s"$dir/in", s"$dir/out$n", s"$dir/ckpt$n",
          quarantineDir = Option.when(quarantine)(s"$dir/dlq$n")).awaitTermination()
      drain(1)
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      drain(2)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      assert(compiled == 0, s"the second drain compiled $compiled classes")
      assert(sinkFilesByWrite(s"$dir/out2") == sinkFilesByWrite(s"$dir/out1"))
      if (quarantine) {
        val dlq = rows(spark.read.parquet(s"$dir/dlq2/batch=0"))
        assert(dlq.nonEmpty && dlq == rows(spark.read.parquet(s"$dir/dlq1/batch=0")))
      }
    }
}
