package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions.col
import graft.sinks.Sinks
import graft.sources.Transcripts
import graft.streaming.StreamingPipeline

/** W1 at the sinks: `Sinks.writeAll` writes every sink file with each
  * conversation's lines in turn order, in one staged write whose only
  * exchange shuffles the columns the sinks read, with no cache. */
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

  test("the one sink write shuffles only the sink columns and caches nothing") {
    // read back from parquet, as `graft.Main batch` does: the synthesized
    // transcripts come hash-partitioned by conv_id already
    walk(s"$root/plan_in").reverse.foreach(Files.delete)
    Transcripts.load(spark, tiny).write.parquet(s"$root/plan_in")
    val routed = Pipeline.transform(
      spark.read.schema(StreamingPipeline.schema).parquet(s"$root/plan_in"), spark)
    val plans = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(funcName -> qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    walk(s"$root/plan").reverse.foreach(Files.delete)
    spark.listenerManager.register(listener)
    try {
      Sinks.writeAll(routed, s"$root/plan")
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    // the staged write: the one query that reads the routed batch
    val writes = plans.asScala.toSeq.collect {
      case (name, qe) if name.startsWith(s"${Sinks.StageExecution} ") &&
        name.contains("/_staging/") => qe.executedPlan
    }
    assert(writes.size == 1, s"${writes.size} staged writes")
    val exchanges = collect(writes.head) { case e: ShuffleExchangeExec => e }
    assert(exchanges.map(_.shuffleOrigin) == Seq(REPARTITION_BY_NUM), exchanges)
    val allowed = Sinks.SinkColumns.toSet ++ Set("conv_id", "turn_idx")
    val shuffled = exchanges.head.output.map(_.name)
    assert(shuffled.toSet.subsetOf(allowed), s"shuffled: $shuffled")
    assert(routed.columns.toSet.diff(allowed).nonEmpty) // the routed frame is wider
    assert(collect(writes.head) { case s: InMemoryTableScanExec => s }.isEmpty)
    assert(plans.asScala.forall(_._2.optimizedPlan.collectFirst { case r: InMemoryRelation => r }.isEmpty),
      "no query of writeAll reads a cached relation")
    assert(!Files.exists(Paths.get(s"$root/plan/_staging")))
  }
}
