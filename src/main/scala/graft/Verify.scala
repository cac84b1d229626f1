package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // the sf tables are ONE parquet file each; without a small split
      // size every pre-shuffle stage runs as a single task at larger
      // sfs (the sf1 run measured 20-min single-thread stages). 4 MB
      // splits by row group restore scan parallelism at any sf.
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Graft.prep(spark)
    // One materialization feeds all ~130 queries (and keeps the giant
    // synthesis expressions out of their codegen spans — see Transcripts).
    sources.Transcripts.materialize(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // Harness-only subset filter (comma-separated name substrings); the
    // driver never sets it, so the full dump is the default.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    // Per-query wall clock, dumped as timings.json: explicit timing (not
    // output mtimes) so an sf0.1-vs-sf1 pair of drives yields the
    // per-query scaling-ratio table in BASELINE.md.
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.contains)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        timings(name) = (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/timings.json"),
      timings.map { case (k, v) => s""""$k": ${f"$v%.2f"}""" }
        .mkString("{", ",", "}"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
