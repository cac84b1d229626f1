package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sources.Transcripts

/** Checkpointed streaming on a REAL multi-executor cluster — the north
  * rule's full sentence in one artifact: the Structured-Streaming pipeline
  * (file source → parse/enrich/route → three sinks + per-partition
  * lineage) submitted via `spark-submit --master spark://…`, run TWICE
  * against one checkpoint:
  *
  *  - `init`: half the corpus staged, drained, sinks + lineage written;
  *  - `resume`: the other half APPENDED as new files; the restarted query
  *    resumes from the checkpoint and processes ONLY the new files, after
  *    which the on-disk sink counts must equal the batch pipeline's
  *    per-sink counts over the FULL corpus — proving no committed batch
  *    was lost and nothing was double-written at the sink-count level.
  *
  * Driven by tools/cluster_bench.sh (phase 2).
  */
object ClusterStream {

  def main(args: Array[String]): Unit = {
    val phase = if (args.nonEmpty) args(0) else "init"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val root = "/tmp/graft_cluster_stream"
    val spark = SparkSession.builder()
      .appName(s"graft-cluster-stream-$phase")
      .config("spark.sql.shuffle.partitions", "8")
      .getOrCreate()
    Graft.prep(spark)
    spark.sparkContext.setLogLevel("WARN")

    val t = Transcripts.load(spark, sfDir)

    // ---- stream-stream join phases (q279's streaming arm, ST-join on a
    // real cluster): time-split drain-append-resume across two separate
    // spark-submit invocations, then exact set equality against the batch
    // twin — the cluster analog of JoinStreamSpec. The cut is the exact
    // midpoint of the corpus time range (deterministic, recomputed
    // identically in both phases from the same input).
    if (phase == "join_init" || phase == "join_resume") {
      val jroot = "/tmp/graft_cluster_join"
      val win = 1440
      val mm = t.agg(min(col("ts")), max(col("ts"))).collect()(0)
      val (lo, hi) = (mm.getAs[java.time.LocalDateTime](0),
        mm.getAs[java.time.LocalDateTime](1))
      val cut = lo.plus(java.time.Duration.between(lo, hi).dividedBy(2))
      if (phase == "join_init") {
        Graft.rmTree(jroot)
        t.filter(col("ts") < lit(cut))
          .repartition(2).write.parquet(s"$jroot/in/f1")
      } else {
        t.filter(col("ts") >= lit(cut))
          .repartition(2).write.parquet(s"$jroot/in/f2")
      }
      streaming.JoinStream.start(spark, s"$jroot/in/*", s"$jroot/out",
        s"$jroot/ckpt", windowMinutes = win, lateness = "2 days")
        .awaitTermination()
      val got = spark.read.parquet(s"$jroot/out")
      val (matched, straddling, expectRows) = if (phase == "join_resume") {
        val expect = streaming.JoinStream.batchPairs(t, win)
          .select(col("conv_id"), col("u_turn"), col("t_turn"))
        val gotK = got.select(col("conv_id"), col("u_turn"), col("t_turn"))
        val m = gotK.exceptAll(expect).isEmpty && expect.exceptAll(gotK).isEmpty
        val s = got.filter(col("u_ts").cast("timestamp_ntz") < lit(cut) &&
          col("t_ts").cast("timestamp_ntz") >= lit(cut)).count()
        (m, s, expect.count())
      } else (true, 0L, -1L)
      val execs = spark.sparkContext.getExecutorMemoryStatus.size - 1
      println(s"""{"metric":"cluster_stream_join","phase":"$phase","pair_rows":${got.count()},"expected_rows":$expectRows,"pairs_match_batch":$matched,"straddling_pairs":$straddling,"executors":$execs}""")
      spark.stop()
      return
    }

    if (phase == "init") {
      Graft.rmTree(root)
      t.filter(col("src_offset") % 2 === 0)
        .repartition(2).write.mode("overwrite").parquet(s"$root/in")
    } else {
      t.filter(col("src_offset") % 2 === 1)
        .repartition(2).write.mode("append").parquet(s"$root/in")
    }

    streaming.StreamingPipeline.start(spark, s"$root/in", s"$root/sinks",
      s"$root/ckpt").awaitTermination()

    val counts = sinks.Sinks.countsFromDisk(spark, s"$root/sinks")
    val sinkRows = counts.agg(sum("n")).collect()(0).getLong(0)
    val lineage = spark.read.parquet(s"$root/sinks/lineage")
    val matched = if (phase == "resume") {
      val expect = operators.Routing.perSinkCounts(Pipeline.transform(t, spark))
        .select("sink", "route_key", "n")
      val got = counts.select("sink", "route_key", "n")
      got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty
    } else true
    val executors = spark.sparkContext.getExecutorMemoryStatus.size - 1
    println(s"""{"metric":"cluster_stream","phase":"$phase","sink_rows":$sinkRows,"lineage_rows":${lineage.count()},"lineage_batches":${lineage.select("batch_id").distinct().count()},"executors":$executors,"counts_match_batch":$matched}""")
    spark.stop()
  }
}
