package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Graft

/** The repository benchmark (see perfbench/README.md): one workload per
  * process, at local[nproc], calling the engine's public functions.
  *
  *   PerfBench --workload batch_backfill|stream_arrivals
  *             --seed N --seconds S --trace 0|1 --work DIR [--generate 1]
  *
  * With `--generate 1` it only writes the inputs of (workload, seed,
  * trace) when they are not cached yet, so that input generation never
  * shares a JVM with a measured run. Otherwise the inputs must exist:
  * with `--trace 0` it times operations until their summed time reaches S
  * seconds and prints the end-to-end metrics; with `--trace 1` it runs the
  * traced decomposition and prints the per-layer metrics. Either way the
  * last stdout line is one JSON object {correct, attempted, failed,
  * metrics}; the exit code is 1 when any output check failed.
  */
object PerfBench {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, generate: Boolean)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--work"), m.get("--generate").contains("1"))
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    Graft.prep(s)
  }

  /** Fixed CPU reference kernel: one hash aggregate over 2^26 ids. Timed
    * before and after the measured phase, so a loaded phase shows. */
  def refKernel(spark: SparkSession): Double = Util.time {
    spark.range(0L, 1L << 26, 1L, Runtime.getRuntime.availableProcessors)
      .agg(sum(xxhash64(col("id")))).collect()
  }._2

  /** Guard for the timed loops: stop when failing operations keep the
    * measured time from ever reaching `seconds`. */
  def overdue(t0: Long, seconds: Double): Boolean =
    (System.nanoTime() - t0) / 1e9 > 3 * seconds + 60

  /** One workload: the warm-up that ends set-up, the oracle computed
    * outside timing, the timed loop and the traced decomposition. */
  trait Workload {
    def warmUp(spark: SparkSession): Unit
    def prepare(spark: SparkSession): Unit
    def measure(spark: SparkSession, seconds: Double): Outcome
    def traced(spark: SparkSession, trace: Trace): Outcome
  }

  /** Operations attempted/failed plus the metrics of one run. */
  final class Outcome {
    var attempted = 0
    var failed = 0
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    /** Every operation time, in the order measured (for the run record). */
    val opTimes = mutable.ArrayBuffer[Double]()
    def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
    /** Record one operation; a throw or a failed check counts as failed. */
    def op(what: String)(body: => Boolean): Boolean = {
      attempted += 1
      val ok = try body catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $what threw: $e")
          e.printStackTrace()
          false
      }
      if (!ok) { failed += 1; System.err.println(s"[perfbench] $what FAILED") }
      ok
    }
    /** The batch-time metrics shared by every workload. A run holds 3-20
      * batches, too few for a percentile above the median with ten
      * samples beyond it, so the slowest batch is reported instead. */
    def putBatchTimes(samples: Seq[Double]): Unit = if (samples.nonEmpty) {
      opTimes ++= samples
      put("batch_p50_s", Util.median(samples), "s")
      put("batch_max_s", samples.max, "s")
      put("batch_samples", samples.size.toDouble, "count")
    }
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val jvmToMainS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val gen = Gen.Cache(s"${a.work}/gen", a.seed, a.workload, a.trace)
    if (a.generate) {
      if (!gen.ready) {
        val spark = session(a.work)
        try Gen.generate(spark, gen) finally spark.stop()
      }
      sys.exit(0)
    }
    if (!gen.ready) sys.error(s"inputs of ${a.workload} seed ${a.seed} not generated: " +
      "run with --generate 1 first")
    val runDir = s"${a.work}/run-${ProcessHandle.current().pid()}"
    val (spark, sessionS) = Util.time(session(a.work))
    val wl: Workload = a.workload match {
      case "batch_backfill" => new BatchBackfill(gen.inputs, runDir)
      case "stream_arrivals" => new StreamArrivals(gen.inputs, runDir)
      case other => sys.error(s"unknown workload $other")
    }
    // the oracle before the warm-up, so the JIT work it causes is done
    // before the first timed operation
    wl.prepare(spark)
    val (_, warmUpS) = Util.time(wl.warmUp(spark))
    refKernel(spark) // its own first run compiles it; the record times warm runs
    val refBefore = refKernel(spark)
    // set-up: process start to the first timed operation
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val out =
      if (!a.trace) wl.measure(spark, a.seconds)
      else {
        val trace = new Trace(spark.sparkContext,
          f"${a.workload}-${a.seed}%d-${System.currentTimeMillis()}%d")
        try wl.traced(spark, trace) finally {
          trace.close()
          val dir = Paths.get(a.work, "traces")
          Files.createDirectories(dir)
          Files.write(dir.resolve(s"${a.workload}-seed${a.seed}.json"),
            trace.json.getBytes("UTF-8"))
        }
      }
    val refAfter = refKernel(spark)
    spark.stop()
    Util.deleteTree(runDir)

    out.put("setup_s", setupS, "s")
    out.put("host.nproc", Runtime.getRuntime.availableProcessors.toDouble, "count")
    out.put("host.ref_kernel_before_s", refBefore, "s")
    out.put("host.ref_kernel_after_s", refAfter, "s")
    val record = Seq(
      s""""workload":"${a.workload}"""", s""""seed":${a.seed}""",
      s""""trace":${a.trace}""",
      s""""jvm_to_main_s":${Util.num(jvmToMainS)}""", s""""session_s":${Util.num(sessionS)}""",
      s""""warm_up_s":${Util.num(warmUpS)}""",
      s""""op_times_s":${out.opTimes.map(Util.num).mkString("[", ",", "]")}""") ++
      out.metrics.map { case (k, (v, u)) => s""""$k":{"value":${Util.num(v)},"unit":"$u"}""" }
    val line = record.mkString("{", ",", "}")
    Files.write(Paths.get(a.work, "records.jsonl"), (line + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    println("[perfbench] record " + line)
    val correct = out.failed == 0 && out.attempted > 0
    val metrics = out.metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${Util.num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":${out.attempted},"failed":${out.failed},"metrics":$metrics}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
