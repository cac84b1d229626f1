package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Transcripts

/** Streaming-STATE-size harness (round-5, VERDICT r4 #5): the bounded-
  * state claims of the stateful streaming twins, MEASURED at two input
  * scales instead of argued from specs.
  *
  *  - [[graft.streaming.HllStream]]: cross-batch state is the pointer-
  *    flipped (name, reg, m) register table — claimed ≤ 64 rows per
  *    event name at ANY history length.
  *  - [[graft.streaming.AnomalyStream]]: state is the accumulated
  *    (name, hour, n) hourly count table — calendar-sized (names ×
  *    distinct hours), not volume-sized.
  *  - [[graft.streaming.JoinStream]]: state is the watermark band's
  *    in-flight rows, read per micro-batch from
  *    `StreamingQueryProgress.stateOperators` (numRowsTotal /
  *    memoryUsedBytes — the engine's own accounting).
  *
  * Method: the transcript corpus splits into 4 deterministic chunks;
  * the fold twins drain chunk-by-chunk (4 separate AvailableNow drains
  * against one checkpoint) and the state table is measured AFTER each
  * drain (rows + on-disk bytes of the CURRENT pointer target); the join
  * twin drains all 4 files in one run at maxFilesPerTrigger=1 and reads
  * the engine's per-batch state rows. Run at sf0.1 AND a 10× staged dir:
  * flat-or-bounded rows on every row of the printed table is the
  * evidence the 100 TB claim rests on (state growing with input volume
  * would OOM an executor long before the corpus ends).
  *
  * Usage: runMain graft.StateBench [sfDirA] [sfDirB]
  */
object StateBench {

  private def rm(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(x => java.nio.file.Files.delete(x))
    }
  }

  private def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  // (twin, tag, batch, input_rows_cum, state_rows, state_bytes)
  private val rows =
    scala.collection.mutable.ArrayBuffer[(String, String, Int, Long, Long, Long)]()

  def main(args: Array[String]): Unit = {
    val dirA = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dirB = args.lift(1).getOrElse("/tmp/graft_sf1")
    val spark = SparkSession.builder().master("local[32]")
      .appName("graft-state-bench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "0")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Graft.prep(spark)

    for ((tag, dir) <- Seq(("A", dirA), ("B", dirB))) visit(spark, tag, dir)

    println("\n| twin | sf | batch | input rows (cum) | state rows | state KB |")
    println("|---|---|---|---|---|---|")
    for ((tw, tag, b, in, sr, sb) <- rows)
      println(f"| $tw | $tag | $b | $in | $sr | ${sb / 1024}%d |")
    val qjson = rows.map { case (tw, tag, b, in, sr, sb) =>
      s"""{"twin":"$tw","sf":"$tag","batch":$b,"input_rows":$in,"state_rows":$sr,"state_bytes":$sb}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"stream_state_size","dir_a":"$dirA","dir_b":"$dirB","samples":$qjson}""")
    spark.stop()
  }

  private def visit(spark: SparkSession, tag: String, dir: String): Unit = {
    val root = s"/tmp/graft_statebench_$tag"
    rm(root)
    val t = Transcripts.load(spark, dir)
    val parsed = Pipeline.parse(t)
      .select(col("name"), col("conv_id"), col("ts"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    parsed.count()

    // ---- HllStream: chunked drains, state = CURRENT register table ----
    for (i <- 0 until 4) {
      val chunk = parsed.filter(pmod(xxhash64(col("conv_id")), lit(4)) === i)
        .select("name", "conv_id")
      chunk.coalesce(1).write.parquet(s"$root/hll_in/f$i")
      val stream = spark.readStream.schema("name STRING, conv_id STRING")
        .parquet(s"$root/hll_in/*")
      val q = graft.streaming.HllStream.start(stream, s"$root/hll",
        s"$root/hll_ckpt")
      q.awaitTermination()
      val cur = graft.streaming.FoldState.current(s"$root/hll").get
      val stateRows = spark.read.parquet(cur).count()
      val inCum = spark.read.parquet(s"$root/hll_in/*").count()
      rows += (("hll", tag, i, inCum, stateRows, dirBytes(cur)))
      println(f"[$tag] hll     batch $i: in=$inCum%9d state_rows=$stateRows%6d")
    }

    // ---- AnomalyStream: chunked drains, state = CURRENT hourly table ----
    for (i <- 0 until 4) {
      val chunk = parsed.filter(pmod(xxhash64(col("conv_id")), lit(4)) === i)
        .select(col("name"), col("ts").cast("timestamp").as("ts"))
      chunk.coalesce(1).write.parquet(s"$root/ano_in/f$i")
      val stream = spark.readStream.schema("name STRING, ts TIMESTAMP")
        .parquet(s"$root/ano_in/*")
      val q = graft.streaming.AnomalyStream.start(stream, s"$root/ano",
        s"$root/ano_ckpt")
      q.awaitTermination()
      val cur = graft.streaming.FoldState.current(s"$root/ano").get
      val stateRows = spark.read.parquet(cur).count()
      val inCum = spark.read.parquet(s"$root/ano_in/*").count()
      rows += (("anomaly", tag, i, inCum, stateRows, dirBytes(cur)))
      println(f"[$tag] anomaly batch $i: in=$inCum%9d state_rows=$stateRows%6d")
    }

    // ---- JoinStream: one drain, per-batch engine state accounting ----
    t.repartition(4).write.parquet(s"$root/join_in")
    val src = spark.readStream.schema(graft.streaming.StreamingPipeline.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/join_in")
    val (users, tools) = graft.streaming.JoinStream.sides(src, Some("10 minutes"))
    val q = graft.streaming.JoinStream.pairs(users, tools).writeStream
      .format("parquet").option("path", s"$root/join_out")
      .option("checkpointLocation", s"$root/join_ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    var inCum = 0L
    for ((p, i) <- q.recentProgress.zipWithIndex if p.numInputRows > 0) {
      inCum += p.numInputRows
      val st = p.stateOperators.headOption
      rows += (("join", tag, i, inCum,
        st.map(_.numRowsTotal).getOrElse(0L),
        st.map(_.memoryUsedBytes).getOrElse(0L)))
      println(f"[$tag] join    batch $i: in=$inCum%9d state_rows=${st.map(_.numRowsTotal).getOrElse(0L)}%8d")
    }
    parsed.unpersist()
  }
}
