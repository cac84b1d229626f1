package graft

import org.apache.spark.sql.SparkSession

/** Session preparation shared by every query entry point.
  *
  * Spark 4 enables ANSI mode by default; the reference's cast semantics
  * (string→number coercion returns absent/zero on failure, never throws —
  * `pkg/xe/xe.go:69-107`) and the DuckDB oracle comparisons both want
  * permissive NULL-on-miscast behavior, so we pin ANSI off, UTC, and AQE on
  * (skew-join handling is part of the north rule).
  *
  * It also installs [[graft.sinks.LocalFs]] as the SparkContext's `file:`
  * file system: without native libhadoop, Hadoop's local file system
  * starts a `chmod` process for every file, `.crc` file and directory
  * the sinks and the streaming checkpoint create, and a `readlink`
  * process for both ends of every checkpoint-log rename. Every entry
  * point already calls `prep`; a repeated call changes nothing.
  */
object Graft {
  def prep(spark: SparkSession): SparkSession = {
    val c = spark.conf
    c.set("spark.sql.ansi.enabled", "false")
    c.set("spark.sql.session.timeZone", "UTC")
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // fall back from whole-stage codegen when the fused method exceeds the
    // JIT's compile threshold (-XX:-DontCompileHugeMethods default 8000
    // bytecodes): a WSCG stage that the JIT refuses to compile runs as
    // interpreted bytecode and is ~3x slower than split-expression codegen.
    // Measured on the description template stage: 4.4s -> 1.8s.
    c.set("spark.sql.codegen.hugeMethodLimit", "8000")
    sinks.LocalFs.install(spark.sparkContext.hadoopConfiguration)
    spark
  }
}
