package graft

import org.apache.spark.sql.SparkSession

/** Production entry point (`spark-submit --class graft.Main`): mirrors the
  * reference's two executables — one-shot batch (`cmd/xelogstash`,
  * main_app.go:41) and the polling service (`cmd/sqlxewriter`, main.go:28).
  *
  * Usage:
  *   graft.Main batch  <inputDir> <outRoot>
  *   graft.Main stream <inputDir> <outRoot> <checkpointDir> [--once]
  *
  * In batch mode the routed frame is written to all sinks once with
  * lineage (`Sinks.writeAll` orders it by conversation and turn), each
  * sink in a single attempt; in stream mode `StreamingPipeline.start`
  * runs until stopped (or drains once with --once): it refuses a damaged
  * checkpoint and retries a failed sink write.
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: batch|stream <inputDir> <outRoot> [checkpointDir] [--once]")
    val mode = args(0)
    val preexisting = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = preexisting.getOrElse {
      val b = SparkSession.builder().appName(s"graft-$mode")
      // spark-submit supplies spark.master; default to local[*] otherwise
      if (!sys.props.contains("spark.master")) b.master("local[*]")
      if (!sys.props.contains("spark.sql.shuffle.partitions"))
        b.config("spark.sql.shuffle.partitions",
          Runtime.getRuntime.availableProcessors.toString)
      b.getOrCreate()
    }
    Graft.prep(spark)
    spark.sparkContext.setLogLevel("WARN")
    mode match {
      case "batch" =>
        val Array(_, inputDir, outRoot) = args.take(3)
        val input = spark.read
          .schema(streaming.StreamingPipeline.schema)
          .parquet(inputDir)
        sinks.Sinks.writeAll(Pipeline.transform(input, spark), outRoot)
      case "stream" =>
        require(args.length >= 4, "stream mode needs <checkpointDir>")
        val once = args.contains("--once")
        streaming.StreamingPipeline.start(
          spark, args(1), args(2), args(3), availableNow = once).awaitTermination()
      case other => sys.error(s"unknown mode $other")
    }
    if (preexisting.isEmpty) spark.stop() // leave a caller-owned session alive
  }
}
