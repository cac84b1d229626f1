package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Transcripts
import graft.streaming.StreamingPipeline

/** Seeded load generator. It rebuilds the shapes of the sf0.1 test tables
  * (100k `events` over 30 days, 1,500 users, five event types, `k` in
  * 0..99; 5,000 `documents` of 10-100 words from a 31-word vocabulary;
  * 2,000 unit-norm 64-d `embeddings` in ten labelled clusters) from the
  * seed alone, then derives the transcripts through the engine's own
  * `Transcripts.synthSql`, so the `conv_hot` skew (every 5th user, about
  * 20% of rows) is the engine's, not the benchmark's. Each workload
  * generates only the inputs it reads.
  *
  * Every random draw is a hash of (seed, row id, salt), so a seed gives
  * the same rows whatever the partitioning. The program under test only
  * ever sees the parquet files written here. Files are cached under
  * `cacheRoot/v<Version>-<synth hash>/seed-<seed>` and written by a JVM
  * of their own (`--generate 1`), so a measured JVM, whose start is part
  * of `setup_s`, never carries generation or its warming.
  */
object Gen {
  /** Bump when any generated shape changes: old caches are then ignored. */
  val Version = 1

  /** Analytics leaves: the sf0.1 shape, 100k events over 30 days. */
  val Events = 100000L
  val Days = 30
  val Docs = 5000L
  val Vecs = 2000L
  val Users = 1500L
  /** Analytics leaves: document replicas, as Bench's `docs` (doc_id offset). */
  val DocReplicas = 4

  /** batch_backfill and stream_arrivals share one corpus of 30k events
    * over one day (24 hour partitions in the file sink). The file sink
    * writes one file per (task, hour), so the hour count, not the row
    * count, sets its cost: over 30 days one batch run of 176k routed
    * events took 26-33 s at local[4], 19 s of it in the file sink. */
  val ArrivalEvents = 30000L
  val ArrivalDays = 1
  /** batch_backfill: replicas (conv_hot kept as one key) split into
    * files that each span the whole range. */
  val BatchReplicas = 2
  val BatchFiles = 32
  /** stream_arrivals: files cut in event-time order, each a contiguous
    * slice of `ArrivalDays * 24 / StreamFiles` hours. */
  val StreamFiles = 24

  private val T0Us = 1704067200L * 1000000L // 2024-01-01T00:00:00Z

  private val Vocab = Seq("query", "row", "stream", "the", "spark", "line",
    "small", "fast", "group", "customer", "batch", "sort", "value", "hash",
    "filter", "big", "data", "dup", "part", "column", "order", "scan", "a",
    "slow", "agg", "key", "window", "table", "merge", "vector", "join")
  private val Langs = Seq("en", "en", "en", "en", "en", "en", "en", "en",
    "zh", "zh", "zh", "de", "de", "de", "fr", "fr", "fr", "es", "es", "es")

  /** Uniform draw in [0, n) from (seed, id, salt). */
  private def draw(seed: Long, id: Column, salt: Int, n: Long): Column =
    pmod(xxhash64(lit(seed), id, lit(salt)), lit(n))

  /** Uniform double in [0, 1). */
  private def unit(seed: Long, id: Column, salt: Int): Column =
    draw(seed, id, salt, 1L << 30).cast("double") / (1L << 30).toDouble

  /** Standard normal via Box-Muller over two hashed uniforms. */
  private def normal(seed: Long, id: Column, salt: Int): Column =
    sqrt(lit(-2.0) * log(lit(1.0) - unit(seed, id, salt))) *
      cos(lit(2 * math.Pi) * unit(seed, id, salt + 1))

  /** `n` events spread evenly over `days` from 2024-01-01, ids in ts order. */
  def events(spark: SparkSession, seed: Long, n: Long, days: Int): DataFrame = {
    val id = col("id")
    val spanUs = days.toLong * 86400L * 1000000L
    spark.range(0L, n, 1L, 8).select(
      id.as("event_id"),
      timestamp_micros(lit(T0Us) + ((id.cast("double") + unit(seed, id, 1)) *
        (spanUs.toDouble / n)).cast("long")).cast("timestamp_ntz").as("ts"),
      draw(seed, id, 2, Users).as("user_id"),
      element_at(array(Seq("error", "view", "signup", "click", "purchase").map(lit): _*),
        draw(seed, id, 3, 5).cast("int") + 1).as("event_type"),
      (draw(seed, id, 4, 20000) / 100.0).as("value"),
      concat(lit("{\"k\": "), draw(seed, id, 5, 100), lit("}")).as("props"))
  }

  def documents(spark: SparkSession, seed: Long): DataFrame = {
    val id = col("id")
    val vocab = array(Vocab.map(lit): _*)
    val nWords = draw(seed, id, 10, 91) + 10
    val words = transform(sequence(lit(1L), nWords), i =>
      element_at(vocab, (pmod(xxhash64(lit(seed), id, i, lit(11)),
        lit(Vocab.size.toLong)) + 1).cast("int")))
    spark.range(0L, Docs, 1L, 4)
      .select(id.as("doc_id"), array_join(words, " ").as("text"),
        element_at(array(Langs.map(lit): _*), draw(seed, id, 12, Langs.size).cast("int") + 1).as("lang"),
        concat(lit("src"), id % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  def embeddings(spark: SparkSession, seed: Long): DataFrame = {
    val id = col("id")
    val label = draw(seed, id, 20, 10)
    // cluster centre d of label l: a normal keyed by (seed, l, d)
    val raw = transform(sequence(lit(0L), lit(63L)), d =>
      sqrt(lit(-2.0) * log(lit(1.0) - (pmod(xxhash64(lit(seed), label, d, lit(21)),
        lit(1L << 30)).cast("double") / (1L << 30).toDouble))) *
        cos(lit(2 * math.Pi) * (pmod(xxhash64(lit(seed), label, d, lit(22)),
          lit(1L << 30)).cast("double") / (1L << 30).toDouble)) +
        lit(0.6) * normal(seed, id * 64 + d, 23))
    val norm = sqrt(aggregate(col("raw"), lit(0.0), (a, x) => a + x * x))
    spark.range(0L, Vecs, 1L, 4)
      .select(id.as("vec_id"), raw.as("raw"), label.cast("int").as("label"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / norm).cast("float")).as("embedding"),
        col("label"))
  }

  /** Paths of one seed's generated inputs. */
  final case class Inputs(root: String) {
    def batch: String = s"$root/batch_backfill"
    def streamFiles: String = s"$root/stream_files"
    def transcripts: String = s"$root/transcripts"
    def documents: String = s"$root/documents"
    def embeddings: String = s"$root/embeddings"
  }

  private def inputCols: Seq[Column] =
    StreamingPipeline.schema.fieldNames.toSeq.map(c =>
      col(c).cast(StreamingPipeline.schema(c).dataType))

  private def transcripts(spark: SparkSession, seed: Long, n: Long, days: Int): DataFrame = {
    val view = s"perfbench_events_${seed}_$days"
    events(spark, seed, n, days).createOrReplaceTempView(view)
    spark.sql(Transcripts.synthSql(view)).select(inputCols: _*)
  }

  /** Write `dir` once: a `_READY` marker makes later runs reuse it, and
    * a run cut short before the marker leaves nothing that is reused. */
  private def once(dir: String)(write: String => Unit): Unit =
    if (!ready(dir)) {
      Util.deleteTree(dir)
      write(dir)
      Files.write(Paths.get(dir, "_READY"), Array.emptyByteArray)
    }

  private def ready(dir: String): Boolean = Files.exists(Paths.get(dir, "_READY"))

  /** The cached inputs of one (seed, workload, traced) run. */
  final case class Cache(cacheRoot: String, seed: Long, workload: String, traced: Boolean) {
    val inputs: Inputs = Inputs(s"$cacheRoot/v$Version-" +
      s"${Integer.toHexString(Transcripts.synthSql("events").hashCode)}/seed-$seed")
    /** The directories this run reads; a traced stream_arrivals run also
      * reads the analytics inputs. */
    def dirs: Seq[String] = workload match {
      case "batch_backfill" => Seq(inputs.batch)
      case _ if traced => Seq(inputs.streamFiles, inputs.transcripts, inputs.documents,
        inputs.embeddings)
      case _ => Seq(inputs.streamFiles)
    }
    /** A filesystem check only: no Spark session is started. */
    def ready: Boolean = dirs.forall(Gen.ready)
  }

  /** Generate the inputs `cache` names that are not there yet. */
  def generate(spark: SparkSession, cache: Cache): Unit = {
    // a few 10^4-row tables: interpreting them is cheaper than compiling
    // the synthesis SQL's generated code in a cold JVM
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val Cache(_, seed, workload, traced) = cache
    val in = cache.inputs
    def arrivals = transcripts(spark, seed, ArrivalEvents, ArrivalDays)
    if (workload == "batch_backfill") once(in.batch) { dir =>
      // replicas keep conv_hot as one key, like Bench.replicated
      val reps = spark.range(0L, BatchReplicas.toLong, 1L, 1).select(col("id").as("rep"))
      arrivals.crossJoin(reps).withColumn("conv_id",
        when(col("conv_id") === "conv_hot", col("conv_id"))
          .otherwise(concat(col("conv_id"), lit("_r"), col("rep"))))
        .drop("rep")
        .repartition(BatchFiles,
          pmod(xxhash64(lit(seed), col("conv_id"), col("turn_idx")), lit(BatchFiles.toLong)))
        .write.mode("overwrite").parquet(dir)
    }
    if (workload == "stream_arrivals") once(in.streamFiles) { dir =>
      // arrival order: file i holds hours [i*h, (i+1)*h) of the range
      val hoursPerFile = ArrivalDays * 24 / StreamFiles
      val hourIdx = (unix_micros(col("ts").cast("timestamp")) - lit(T0Us)) / 3600000000L
      val parts = s"${dir}_parts"
      arrivals.withColumn("_f", (hourIdx / hoursPerFile).cast("int"))
        .repartition(StreamFiles, col("_f")).sortWithinPartitions("_f", "ts")
        .write.mode("overwrite").partitionBy("_f").parquet(parts)
      // flatten to one file per slice, named in arrival order
      Files.createDirectories(Paths.get(dir))
      (0 until StreamFiles).foreach { i =>
        val ls = Files.list(Paths.get(parts, s"_f=$i"))
        try ls.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
          .foreach(f => Files.move(f, Paths.get(dir, f"part-$i%04d.parquet")))
        finally ls.close()
      }
      Util.deleteTree(parts)
    }
    if (workload == "stream_arrivals" && traced) {
      once(in.transcripts) { dir =>
        transcripts(spark, seed, Events, Days).repartition(8).write.mode("overwrite").parquet(dir)
      }
      once(in.documents)(documents(spark, seed).write.mode("overwrite").parquet(_))
      once(in.embeddings)(embeddings(spark, seed).write.mode("overwrite").parquet(_))
    }
  }
}
