package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, ShuffleExchangeExec}
import org.apache.spark.sql.functions.col
import graft.sinks.Sinks
import graft.sources.Transcripts

/** W1 at the sinks: `Sinks.writeAll` writes every sink file with each
  * conversation's lines in turn order, from one sink frame that shuffles
  * and caches only the columns the sinks read. */
class SinkFrameSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val root = "/tmp/graft_sink_frame_spec"

  private def walk(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toList finally s.close()
    }
  }

  /** The data files of one sink; with `partition`, only those under a
    * `partition=...` directory. */
  private def partFiles(dir: String, partition: Option[String]): Seq[Path] =
    walk(dir).filter { f =>
      Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-") &&
        partition.forall(k => f.getParent.getFileName.toString.startsWith(s"$k="))
    }

  test("every sink file lists each conversation's turns in ascending turn_idx") {
    walk(root).reverse.foreach(Files.delete)
    // turns written newest first, so only the sink frame's sort orders them
    Transcripts.load(spark, tiny).orderBy(col("turn_idx").desc).write.parquet(s"$root/in")
    Main.main(Array("batch", s"$root/in", s"$root/out"))

    val json = new ObjectMapper()
    val sinks = Seq(
      "logstash" -> partFiles(s"$root/out/logstash", None),
      "elastic" -> partFiles(s"$root/out/elastic", Some("sink_index")),
      "file" -> partFiles(s"$root/out/file", Some("date_hour")))
    var multiTurn = 0
    for ((sink, files) <- sinks) {
      assert(files.nonEmpty, s"no $sink files")
      for (f <- files) {
        // elastic bulk files alternate action and document lines
        val docs = Files.readAllLines(f).asScala.toSeq.filterNot(_.startsWith("{\"index\":"))
          .map(json.readTree)
        val turns = docs.groupMap(_.get("conv_id").asText)(_.get("turn_idx").asInt)
        for ((conv, ts) <- turns)
          assert(ts == ts.sorted, s"$sink file ${f.getFileName}: conversation $conv turns $ts")
        multiTurn += turns.count(_._2.size > 1)
      }
    }
    assert(multiTurn > 0, "no file holds two turns of one conversation")
  }

  test("the sink frame shuffles and caches only the sink columns") {
    val routed = Pipeline.routed(spark, tiny)
    val frame = Sinks.sinkFrame(routed).persist()
    try {
      val scans = collect(frame.queryExecution.executedPlan) { case s: InMemoryTableScanExec => s }
      assert(scans.size == 1)
      assert(scans.head.relation.output.map(_.name) == Sinks.SinkColumns)
      val orderings = collect(scans.head.relation.cachedPlan) {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_COL => e
      }
      assert(orderings.size == 1)
      val allowed = Sinks.SinkColumns.toSet ++ Set("conv_id", "turn_idx")
      val shuffled = orderings.head.output.map(_.name)
      assert(shuffled.toSet.subsetOf(allowed), s"shuffled: $shuffled")
      assert(routed.columns.toSet.diff(allowed).nonEmpty) // the routed frame is wider
    } finally frame.unpersist()
  }
}
