package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregation operators (SURVEY.md §2.7): per-group counters (A2/A3),
  * summary stats (A4), rolling time-bucket metrics (A5/W3), sampler (A8),
  * and the lineage/checkpoint fold (A7). All are plain hash aggregates —
  * map-side partial + final after shuffle comes free from Catalyst.
  */
object Aggregates {

  /** A2: per-(event, role) read counters + byte sums — the labeled counter
    * analog (`pkg/prom/prom.go:11-41`). */
  def perEventCounters(df: DataFrame): DataFrame =
    df.groupBy("name", "role")
      .agg(count(lit(1)).as("n"), sum(length(col("text"))).as("bytes"))

  /** A4: summary per event type: count, sum/max of size
    * (`pkg/summary/summary.go:36-53`). */
  def summary(df: DataFrame): DataFrame =
    df.groupBy("name").agg(
      count(lit(1)).as("n"),
      sum(length(col("text"))).as("sum_bytes"),
      max(length(col("text"))).as("max_bytes"))

  /** A5/W3: hourly time-bucket metrics (`pkg/metric/metric.go:35-113`;
    * rotator hourly buckets `pkg/sink/rotator.go:132-137`). */
  def hourly(df: DataFrame): DataFrame =
    df.groupBy(window(col("ts"), "1 hour").as("w"), col("name"))
      .agg(count(lit(1)).as("n"),
        sum(col("duration")).as("sum_duration"),
        max(col("severity_num")).as("max_severity"))
      .select(col("w.start").as("hour_start"), col("name"),
        col("n"), col("sum_duration"), col("max_severity"))

  /** A5 sliding variant: 2-hour windows sliding by 1 hour — every event
    * lands in two windows (`pkg/metric/metric.go:66-95` frame semantics). */
  def slidingCounts(df: DataFrame): DataFrame =
    df.groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("name"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("win_start"), col("name"), col("n"))

  /** A8: sampler — first event per (name, duration bucket); the bucket
    * duration is configurable like the reference's per-arbitrary-duration
    * sampling (`pkg/sink/sampler/sampler.go:51-89`). `duration` takes any
    * date_trunc unit ("minute", "hour", "day", ...). */
  def sampler(df: DataFrame, duration: String = "hour"): DataFrame = {
    val bucket = date_trunc(duration, col("ts"))
    val w = Window.partitionBy(col("name"), bucket)
      .orderBy(col("ts"), col("conv_id"), col("turn_idx"))
    df.withColumn("bucket", bucket)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("name"), col("bucket"), col("conv_id"), col("turn_idx"))
  }

  /** Read the lineage table effectively-once: sink writes are
    * at-least-once on crash-replay (ST2), so a batch may append duplicate
    * lineage rows; keep one row per (batch_id, src_file). */
  def lineageDeduped(lineage: DataFrame): DataFrame =
    lineage.dropDuplicates("batch_id", "src_file")

  /** Field-coverage profile over the PARSED frame — the schema-drift
    * monitor a long-running log pipeline needs: per event name, how often
    * each key extracted field is actually present (permille). A feed
    * whose `duration` coverage collapses for `wait_info` is emitting a
    * changed payload shape; this catches it before the enrichment arms
    * silently start producing nulls. One hash-agg on the (small) name
    * key; all rates are integer permille. */
  val CoverageFields: Seq[String] = Seq("error_number", "duration",
    "principal", "client_addr", "wait_type", "db_id")
  def fieldCoverage(parsed: DataFrame): DataFrame = {
    val rates = CoverageFields.map { f =>
      floor(sum(when(col(f).isNotNull, 1L).otherwise(0L)) * lit(1000.0)
        / count(lit(1))).cast("long").as(s"${f}_permille")
    }
    parsed.groupBy("name")
      .agg(count(lit(1)).as("n_events"), rates: _*)
  }

  /** Field-coverage DRIFT across days — the schema-drift monitor built on
    * [[fieldCoverage]]'s snapshot: per (event, field, day), presence
    * permille next to the previous day's, with the day-over-day delta and
    * a |delta| ≥ `driftPermille` flag. An upstream producer silently
    * dropping a field shows up here as a −1000-permille day, long before
    * a downstream null-pointer does.
    *
    * Scale shape: one corpus hash-agg down to (events × days) rows with
    * map-side combine; the stack to long format and the per-(event,
    * field) lag window both run on that aggregate-sized frame — the
    * corpus never shuffles. */
  def coverageDrift(parsed: DataFrame, driftPermille: Int = 200): DataFrame = {
    val perDay = parsed
      .groupBy(col("name"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        CoverageFields.map { f =>
          floor(sum(when(col(f).isNotNull, 1L).otherwise(0L)) * lit(1000.0)
            / count(lit(1))).cast("long").as(f)
        }: _*)
    val stacked = perDay.select(col("name"), col("day"), col("n_events"),
      expr(s"stack(${CoverageFields.length}, " +
        CoverageFields.map(f => s"'$f', $f").mkString(", ") +
        ") as (field, permille)"))
    val w = Window.partitionBy("name", "field").orderBy("day")
    stacked
      .withColumn("prev_permille", lag("permille", 1).over(w))
      .withColumn("delta", col("permille") - col("prev_permille"))
      .withColumn("drifted",
        coalesce(abs(col("delta")) >= driftPermille, lit(false)))
  }

  /** Per-source-file parse-health roll-up — the dead-letter/ops surface a
    * long-running ingest needs per input file: row volume, how many rows
    * yielded an event name (parse success permille — the reference logs and
    * skips bad XML rather than aborting, `pkg/xe/xe.go:130-135`), distinct
    * conversations, error density, and the offset span for lineage. One
    * hash-agg keyed on src_file; count_distinct(conv_id) shuffles
    * (file, conv) pairs — bounded by the file's own row count, never the
    * corpus. */
  def parseHealth(parsed: DataFrame): DataFrame =
    parsed.groupBy("src_file").agg(
      count(lit(1)).as("n_rows"),
      floor(sum(when(col("name").isNotNull && col("name") =!= "", 1L)
        .otherwise(0L)) * lit(1000.0) / count(lit(1))).cast("long")
        .as("named_permille"),
      countDistinct(col("conv_id")).as("n_convs"),
      floor(sum(when(col("error_number").isNotNull, 1L).otherwise(0L))
        * lit(1000.0) / count(lit(1))).cast("long").as("error_permille"),
      min(col("src_offset")).as("min_offset"),
      max(col("src_offset")).as("max_offset"))

  /** Hourly event-volume anomaly detector: each (event, hour) bucket's
    * count vs the trailing 3-bucket mean, as an integer-exact permille
    * ratio (n·1000·prev_cnt / prev_sum — multiply before the one double
    * divide), flagged at ≥3×. The corpus-sized pass is the hash-agg down
    * to (name, hour); the trailing window then runs over a frame bounded
    * by |events| × |hours|, partitioned per event — never a single global
    * reducer, never corpus-sized state. This is the feed-health monitor
    * that catches an error storm or a stuck producer within hours. */
  def volumeAnomaly(parsed: DataFrame, spikeX1e3: Long = 3000L): DataFrame = {
    val hourly = parsed
      .groupBy(col("name"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
    val trailing = Window.partitionBy("name").orderBy("hour")
      .rowsBetween(-3, -1)
    hourly
      .withColumn("prev_sum", sum("n").over(trailing))
      .withColumn("prev_cnt", count("n").over(trailing))
      .withColumn("ratio_x1e3",
        when(col("prev_cnt") >= 1L && col("prev_sum") > 0L,
          floor(col("n") * lit(1000.0) * col("prev_cnt") / col("prev_sum"))
            .cast("long")))
      .withColumn("is_spike",
        coalesce(col("ratio_x1e3") >= spikeX1e3, lit(false)))
      .drop("prev_cnt")
  }

  /** Alert coalescing over the [[volumeAnomaly]] feed: consecutive spike
    * hours for one event collapse into a single alert episode (classic
    * gaps-and-islands — a new episode starts when the previous spike hour
    * is more than one hour back), so an 8-hour error storm pages once
    * with a span, not eight times. The window runs per event over the
    * ALREADY-AGGREGATED hourly frame (|events| × |hours| rows), never
    * the corpus. */
  def alertEpisodes(parsed: DataFrame, spikeX1e3: Long = 3000L): DataFrame = {
    val spikes = volumeAnomaly(parsed, spikeX1e3).filter(col("is_spike"))
    val byName = Window.partitionBy("name").orderBy("hour")
    spikes
      .withColumn("gap",
        when(unix_timestamp(col("hour")) -
          unix_timestamp(lag(col("hour"), 1).over(byName)) === 3600L, 0L)
          .otherwise(1L))
      .withColumn("episode", sum(col("gap")).over(byName))
      .groupBy("name", "episode")
      .agg(min(col("hour")).as("alert_start"), max(col("hour")).as("alert_end"),
        count(lit(1)).as("n_hours"), max(col("n")).as("peak_n"),
        max(col("ratio_x1e3")).as("peak_ratio_x1e3"))
  }

  /** Bucketized INTERVAL JOIN: which events fall inside which alert
    * episode. The point-in-range predicate (hour BETWEEN alert_start AND
    * alert_end) is turned into a pure equi-join by exploding each episode
    * into its covered hour buckets — fanout bounded by episode length
    * (n_hours), paid on the AGGREGATE-sized episode table, never on
    * events. The event side computes its bucket map-side and joins on
    * (name, hour); episodes are disjoint per name, so each event matches
    * at most one bucket — no double counting. At 100 TB this is the
    * standard range-join strategy: without it the range predicate forces
    * a broadcast nested-loop over every event row. */
  def episodeCoverage(parsed: DataFrame, spikeX1e3: Long = 3000L): DataFrame = {
    val buckets = alertEpisodes(parsed, spikeX1e3)
      .select(col("name"), col("alert_start"), col("alert_end"))
      .withColumn("hour",
        explode(expr("sequence(alert_start, alert_end, interval 1 hour)")))
    val ev = parsed.select(col("name"),
      date_trunc("hour", col("ts")).as("hour"), col("conv_id"))
    ev.join(buckets, Seq("name", "hour"))
      .groupBy("name", "alert_start", "alert_end")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("conv_id")).as("n_convs"))
  }

  /** Robust (median/MAD) volume-anomaly detector — the distribution-level
    * complement of [[volumeAnomaly]]'s trailing mean. A trailing window is
    * blind in exactly the cases that matter most: a multi-hour error storm
    * pollutes its own baseline (hours 2..n of the storm look "normal"
    * vs hours 1..n-1), and a slow leak never trips a 3× step. The median
    * and the median-absolute-deviation have a 50% breakdown point — up to
    * half the hours can be anomalous before the baseline moves.
    *
    * Integer-exact across engines: the interpolated median of BIGINTs is
    * always a multiple of 0.5, so `2·median` is an exact integer in both
    * Spark (`percentile`) and DuckDB (`quantile_cont`) — the frame carries
    * `med_x2` (2× the hourly-count median) and `mad_x4` (4× the MAD,
    * because deviations are already ×2), and the robust z-score is one
    * integer division: `z_x1e3 = 4·dev · 1000 DIV max(mad_x4, 1)`.
    *
    * Scale shape: ONE corpus-sized hash-agg down to (name, hour); the
    * cached hourly frame (|events| × |hours| rows) feeds the median, the
    * MAD, and the final join — the two percentile aggregates and both
    * broadcast joins run on aggregate-sized data only. */
  def robustAnomaly(parsed: DataFrame, zX1e3Min: Long = 3500L): DataFrame =
    robustAnomalyFromHourly(
      hourlyCounts(parsed)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      zX1e3Min)

  /** The corpus-sized reduction feeding [[robustAnomaly]] — also the
    * sum-mergeable state the streaming twin
    * ([[graft.streaming.AnomalyStream]]) folds across micro-batches. */
  def hourlyCounts(parsed: DataFrame): DataFrame =
    parsed.groupBy(col("name"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))

  /** The percentile half of [[robustAnomaly]], off an already-aggregated
    * (name, hour, n) frame. Callers with more than one consumer should
    * persist the input (the frame is aggregate-sized; three consumers —
    * median, MAD, final join — read it). */
  def robustAnomalyFromHourly(hourly: DataFrame,
                              zX1e3Min: Long = 3500L): DataFrame = {
    val med = hourly.groupBy("name")
      .agg((expr("percentile(n, 0.5)") * 2).cast("long").as("med_x2"))
    val dev = hourly.join(broadcast(med), Seq("name"))
      .withColumn("dev_x2", abs(col("n") * 2 - col("med_x2")))
    val mad = dev.groupBy("name")
      .agg((expr("percentile(dev_x2, 0.5)") * 2).cast("long").as("mad_x4"))
    dev.join(broadcast(mad), Seq("name"))
      .withColumn("z_x1e3",
        expr("dev_x2 * 2 * 1000 DIV greatest(mad_x4, 1L)"))
      .withColumn("is_outlier", col("z_x1e3") >= zX1e3Min)
      .select("name", "hour", "n", "med_x2", "mad_x4", "z_x1e3", "is_outlier")
  }

  /** SEASONAL robust anomaly — [[robustAnomaly]] with the baseline keyed
    * on (name, hour-of-day) instead of name alone. A global median calls
    * every 3 a.m. quiet hour an outlier on a diurnal workload and misses
    * a 3 a.m. spike that would be normal at 3 p.m.; here each of a name's
    * 24 hour-of-day cells gets its own median/MAD computed across DAYS,
    * so the detector measures "unusual for this time of day".
    *
    * Same integer framing as [[robustAnomaly]] (`med_x2`/`mad_x4`,
    * `z_x1e3 = 4·dev·1000 DIV max(mad_x4,1)`) so the DuckDB oracle
    * hash-matches. Scale shape is identical: ONE corpus hash-agg to
    * (name, hour); the seasonal key adds no exchange — `hod` derives from
    * `hour`, and the median/MAD aggregates still run on the cached
    * aggregate-sized hourly frame (now into ≤ 24× more, still bounded,
    * cells). */
  def seasonalAnomaly(parsed: DataFrame, zX1e3Min: Long = 3500L): DataFrame =
    seasonalAnomalyFromHourly(
      hourlyCounts(parsed)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      zX1e3Min)

  /** The percentile half of [[seasonalAnomaly]], off an aggregated
    * (name, hour, n) frame (persist the input — three consumers). */
  def seasonalAnomalyFromHourly(hourly: DataFrame,
                                zX1e3Min: Long = 3500L): DataFrame = {
    val h = hourly.withColumn("hod", hour(col("hour")).cast("long"))
    val med = h.groupBy("name", "hod")
      .agg((expr("percentile(n, 0.5)") * 2).cast("long").as("med_x2"))
    val dev = h.join(broadcast(med), Seq("name", "hod"))
      .withColumn("dev_x2", abs(col("n") * 2 - col("med_x2")))
    val mad = dev.groupBy("name", "hod")
      .agg((expr("percentile(dev_x2, 0.5)") * 2).cast("long").as("mad_x4"))
    dev.join(broadcast(mad), Seq("name", "hod"))
      .withColumn("z_x1e3",
        expr("dev_x2 * 2 * 1000 DIV greatest(mad_x4, 1L)"))
      .withColumn("is_outlier", col("z_x1e3") >= zX1e3Min)
      .select("name", "hod", "hour", "n", "med_x2", "mad_x4", "z_x1e3",
        "is_outlier")
  }

  /** Source FRESHNESS monitor — per source file: volume, newest event,
    * and its lag behind the corpus high-water mark. A source whose
    * max(ts) trails the rest by a day is a stuck poller / dead shipper
    * long before its volume trend shows it (the reference surfaces this
    * as per-session state files going stale; at table scale the same
    * question is one aggregation). One corpus hash-agg to |files| rows +
    * a 1-row broadcast of the global max. */
  def sourceFreshness(parsed: DataFrame, staleHours: Long = 24L): DataFrame = {
    val per = parsed.groupBy("src_file").agg(
      count(lit(1)).as("n_events"), max("ts").as("max_ts"))
    val global = per.agg(max("max_ts").as("corpus_max"))
    per.crossJoin(broadcast(global))
      .withColumn("lag_hours",
        expr("(unix_timestamp(corpus_max) - unix_timestamp(max_ts)) DIV 3600"))
      .withColumn("stale", col("lag_hours") >= staleHours)
      .select("src_file", "n_events", "max_ts", "lag_hours", "stale")
  }

  /** Inter-arrival burstiness per event name — the timing-MICROSTRUCTURE
    * monitor: volume detectors (q141/q186/q208) see how many events land
    * per hour; this sees HOW they land within the hour. A steady drip and
    * a once-an-hour burst of the same volume are indistinguishable to
    * every hourly counter but behave completely differently against
    * sinks, rate limits, and autoscaling. The Fano factor
    * (variance÷mean of the gap distribution, ×1000) is the standard
    * dispersion index: ≈ mean_gap for a memoryless Poisson drip, far
    * above it for bursty arrival, near 0 for a metronome.
    *
    * Gaps are within-(name, hour) only — the lag window partitions on
    * (name, hour), so no partition outgrows one hour of one event's
    * traffic (a per-name-only window would funnel each event's full
    * history through one reducer: the 100 TB anti-pattern). Gap stats are
    * sum-mergeable across hours: Σg, Σg², n pool into the per-name
    * rollup exactly. Fano = (n·Σg² − (Σg)²) ÷ (n·Σg) with Σg² carried in
    * DECIMAL (a long Σg² overflows at ~3 µs-gap-squared × 10⁶ rows);
    * everything is floor division on non-negative integers so the oracle
    * hash-matches. */
  def interArrival(parsed: DataFrame): DataFrame =
    interArrivalFromMoments(gapMoments(parsed))

  /** The mergeable reduction under [[interArrival]] — per (name, hour)
    * cell: gap-moment sums (n, Σg, Σg², max) plus the cell's first/last
    * event time. Within a cell the moments are exactly mergeable across
    * consecutive chunks by adding ONE boundary gap (next chunk's min_us −
    * this chunk's max_us) — the stitch [[graft.streaming.GapStream]]
    * folds across micro-batches, same shape as SkewWindows' chunked-lag
    * boundary stitch. Single-event cells stay in the frame with
    * n_gaps = 0: they anchor future boundaries. */
  def gapMoments(parsed: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(col("name"), date_trunc("hour", col("ts")))
      .orderBy(col("ts"), col("conv_id"), col("turn_idx"))
    // ts is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP — the cast is an
    // identity relabel under the engine's fixed UTC session timezone.
    val us = unix_micros(col("ts").cast("timestamp"))
    parsed
      .select(col("name"), col("ts"), col("conv_id"), col("turn_idx"))
      .withColumn("us", us)
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
      .groupBy(col("name"), date_trunc("hour", col("ts")).as("hour"))
      .agg(
        count(col("gap_us")).as("n_gaps"),
        coalesce(sum(col("gap_us").cast("decimal(18,0)")),
          lit(0L).cast("decimal(18,0)")).as("sum_g"),
        coalesce(sum(col("gap_us").cast("decimal(18,0)")
          * col("gap_us").cast("decimal(18,0)")),
          lit(0L).cast("decimal(18,0)")).as("sum_g2"),
        max(col("gap_us")).as("max_gap_us"),
        min(col("us")).as("min_us"),
        max(col("us")).as("max_us"))
  }

  /** The finalizer over [[gapMoments]] (or a cross-batch fold of them):
    * per-name pooled gap stats + Fano. DIV (IntegralDivide), not
    * floor(a/b): Spark decimal `/` rounds HALF_UP at the result scale
    * before the floor and can cross an integer boundary; DIV is the
    * exact integral quotient. */
  def interArrivalFromMoments(moments: DataFrame): DataFrame =
    moments.groupBy("name").agg(
        sum("n_gaps").as("n_gaps"),
        sum("sum_g").as("sum_g"),
        sum("sum_g2").as("sum_g2"),
        max("max_gap_us").as("max_gap_us"))
      .filter(col("n_gaps") > 0)
      .select(col("name"), col("n_gaps"),
        expr("sum_g DIV n_gaps").as("mean_gap_us"),
        col("max_gap_us"),
        expr("""(n_gaps * sum_g2 - sum_g * sum_g) * 1000
                DIV (n_gaps * sum_g)""").as("fano_x1e3"))

  /** Theil–Sen robust volume trend per event name — the GRADUAL-drift
    * detector beside the spike detectors (q141/q186/q208 flag outlier
    * hours; a feed slowly doubling over a month never trips them). The
    * estimator is the median of all pairwise per-day slopes — 29%
    * breakdown point, so storms and gaps don't bend the trend line the
    * way a least-squares fit would. Slopes are integer ×1000 with the
    * truncate-toward-zero division written as sign-split non-negative
    * DIVs (Spark DIV truncates, DuckDB // floors — they differ below
    * zero, so the query never divides a negative).
    *
    * The series is DAILY (not hourly): event streams are hour-sparse —
    * empty hours leave no row, and a slope over a gapped grid of 1-2
    * counts floors to zero — while every active day has volume, so the
    * day grid is dense and the drift visible.
    *
    * Scale shape: the pairwise self-join runs on the (name, day)
    * AGGREGATE (days², not events²); at decade-scale histories sample
    * the day grid first — the estimator is sampling-stable by design. */
  def volumeTrend(parsed: DataFrame, slopeX2e3Min: Long = 1000L): DataFrame = {
    val daily = dailyCounts(parsed)
      .withColumn("d", expr("unix_timestamp(CAST(day AS TIMESTAMP)) DIV 86400"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = daily.select(col("name"), col("d").as("d1"), col("n").as("n1"))
    val b = daily.select(col("name"), col("d").as("d2"), col("n").as("n2"))
    val slopes = a.join(b, "name").filter(col("d2") > col("d1"))
      .withColumn("slope_x1e3", expr(
        """CASE WHEN n2 >= n1 THEN (n2 - n1) * 1000 DIV (d2 - d1)
                ELSE -((n1 - n2) * 1000 DIV (d2 - d1)) END"""))
    val perName = slopes.groupBy("name").agg(
      count(lit(1)).as("n_pairs"),
      (expr("percentile(slope_x1e3, 0.5)") * 2).cast("long")
        .as("med_slope_x2e3"))
    daily.groupBy("name").agg(count(lit(1)).as("n_days"))
      .join(perName, "name")
      .withColumn("trend",
        when(col("med_slope_x2e3") >= slopeX2e3Min, "rising")
          .when(col("med_slope_x2e3") <= -slopeX2e3Min, "falling")
          .otherwise("flat"))
  }

  /** Two-sample Kolmogorov–Smirnov drift per source file on a numeric
    * field's distribution — the NUMERIC complement of vocabDrift (q223):
    * a source whose durations shifted from milliseconds to seconds has
    * identical volume and vocabulary but a displaced CDF, and the KS
    * statistic (max CDF gap, in ppm) is the standard distribution-shift
    * test. Values bucket to log2 magnitude first (the logHistPercentiles
    * grid), so the CDFs live on a ≤64-point grid and the statistic is
    * bucket-granular by design — the price that keeps it integer-exact
    * (count ratios only, no empirical-CDF interpolation) and
    * aggregate-sized at any corpus scale.
    *
    * Shape: ONE corpus hash-agg to (src_file, bucket); the dense
    * grid (sources × global buckets), cumulative windows, and the
    * corpus-marginal comparison all run on that aggregate. */
  def ksDrift(parsed: DataFrame, driftPpmMin: Long = 100000L): DataFrame = {
    val hist = parsed
      .filter(col("duration").isNotNull && col("duration") >= 1L)
      .select(col("src_file"),
        length(bin(col("duration"))).cast("long").as("bucket"))
      .groupBy("src_file", "bucket").agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val buckets = hist.select("bucket").distinct()
    val srcs = hist.groupBy("src_file").agg(sum("n").as("n_src"))
    val glob = hist.groupBy("bucket").agg(sum("n").as("n_g"))
      .crossJoin(broadcast(hist.agg(sum("n").as("n_tot"))))
    val grid = srcs.crossJoin(broadcast(buckets))
      .join(hist, Seq("src_file", "bucket"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val w = Window.partitionBy("src_file").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wg = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid.withColumn("cum_s", sum("n").over(w))
    val cumG = glob.withColumn("cum_g", sum("n_g").over(wg))
      .select("bucket", "cum_g", "n_tot")
    cum.join(broadcast(cumG), "bucket")
      .withColumn("gap_ppm", abs(
        expr("cum_s * 1000000 DIV n_src") - expr("cum_g * 1000000 DIV n_tot")))
      .groupBy("src_file")
      .agg(first("n_src").as("n_values"), max("gap_ppm").as("ks_ppm"))
      .withColumn("drift", col("ks_ppm") >= driftPpmMin)
  }

  /** The daily twin of [[hourlyCounts]] — the trend/changepoint grain
    * (dense where the hour grid is gappy). */
  def dailyCounts(parsed: DataFrame): DataFrame =
    parsed.groupBy(col("name"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))

  /** CUSUM changepoint detection per event name — the LEVEL-SHIFT
    * detector: a feed that permanently halves never has an outlier hour
    * (each hour is near the new level), but the cumulative drift from
    * the old mean grows without bound. Both one-sided statistics via the
    * prefix-sum identity S_t = C_t − min(0, min_{j≤t} C_j) (the
    * window-expressible form of the max(0, S+y) recursion): y⁺ = n−μ−κ
    * for upward shifts, y⁻ = μ−n−κ for drops, slack κ = max(μ/10, 1),
    * alarm at 5·max(μ,1). Integer-exact; μ is the integral mean.
    *
    * The series is DAILY for the same density reason as [[volumeTrend]]
    * (a dropped feed leaves EMPTY hours — no rows — so an hourly CUSUM
    * never sees the post-shift level; every active day has a row).
    *
    * Scale shape: one corpus hash-agg to (name, day); the mean join is
    * a broadcast of |names| rows; the two running windows order the
    * AGGREGATE per name. */
  def cusumChangepoints(parsed: DataFrame): DataFrame = {
    val daily = dailyCounts(parsed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mu = daily.groupBy("name")
      .agg(expr("sum(n) DIV count(1)").as("mu"))
    val w = Window.partitionBy("name").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(broadcast(mu), Seq("name"))
      .withColumn("k", greatest(expr("mu DIV 10"), lit(1L)))
      .withColumn("c_up", sum(expr("n - mu - k")).over(w))
      .withColumn("c_dn", sum(expr("mu - n - k")).over(w))
      .withColumn("s_up", col("c_up") - least(min(col("c_up")).over(w), lit(0L)))
      .withColumn("s_dn", col("c_dn") - least(min(col("c_dn")).over(w), lit(0L)))
      .withColumn("h_alarm", lit(5L) * greatest(col("mu"), lit(1L)))
      .select(col("name"), col("day"), col("n"), col("mu"),
        col("s_up"), col("s_dn"),
        (col("s_up") > col("h_alarm")).as("alarm_up"),
        (col("s_dn") > col("h_alarm")).as("alarm_down"))
  }

  /** Watermark-lateness profile — the out-of-orderness audit that PICKS
    * the streaming watermark delay: per event name, how far events arrive
    * behind the high-water mark of their source file's read order, and
    * exactly what permille of events a 1 m / 5 m / 1 h watermark would
    * drop as late. Lateness = running max(ts) in arrival order (src_file,
    * src_offset) minus the event's own ts — the same definition Spark's
    * event-time watermark applies, so the loss columns read directly as
    * "withWatermark(X) loses this much".
    *
    * Scale shape: the running max partitions on src_file — the reader's
    * natural unit (files are rotation-bounded, so no partition outgrows
    * one file); a per-file ordered pass is exactly what any offset-ordered
    * reader already does. The rollup is one hash-agg to |names| rows.
    * Threshold counts are sum-mergeable, so the hourly/streaming fold of
    * this profile is the same shape as interArrival's. */
  def latenessProfile(parsed: DataFrame): DataFrame = {
    val us = unix_micros(col("ts").cast("timestamp"))
    // us tiebreak: src_offset SHOULD be unique within a file (the
    // reader's contract), but a replicated/merged corpus can collide
    // keys — the tiebreak keeps the running max total-ordered and the
    // result deterministic either way (caught by the sf1 run, where
    // id-shifted staging collided the truncated file names)
    val w = Window.partitionBy("src_file").orderBy("src_offset", "us")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val late = parsed
      .select(col("name"), col("src_file"), col("src_offset"), us.as("us"))
      .withColumn("late_us", max(col("us")).over(w) - col("us"))
    late.groupBy("name").agg(
        count(lit(1)).as("n_events"),
        expr("sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) * 1000" +
          " DIV count(1)").as("late_permille"),
        max("late_us").as("max_late_us"),
        expr("sum(CASE WHEN late_us > 60000000 THEN 1 ELSE 0 END) * 1000" +
          " DIV count(1)").as("lost_1m_permille"),
        expr("sum(CASE WHEN late_us > 300000000 THEN 1 ELSE 0 END) * 1000" +
          " DIV count(1)").as("lost_5m_permille"),
        expr("sum(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END) * 1000" +
          " DIV count(1)").as("lost_1h_permille"))
  }

  /** A7/E11: lineage fold — max/min offset + count per source file, the
    * `(file, offset, status)` checkpoint analog
    * (`pkg/app/process_session.go:137-177`; `pkg/status/status.go:273-297`). */
  def lineage(df: DataFrame): DataFrame =
    df.groupBy("src_file").agg(
      min(col("src_offset")).as("min_offset"),
      max(col("src_offset")).as("max_offset"),
      count(lit(1)).as("n_events"))

  /** Referential-integrity audit between two tables — the gate a pipeline
    * runs after every export (does each embedding have a document? each
    * doc an embedding? any key collisions?). Both sides reduce to per-key
    * COUNTS first (map-side-combinable hash-aggs whose size is the key
    * domain, not the row count), then one full-outer join of the two
    * count frames feeds a single summary row. Orphans never carry
    * payloads — only keys and counts cross the network. */
  def integrityAudit(child: DataFrame, parent: DataFrame,
                     childKey: String, parentKey: String): DataFrame = {
    val c = child.groupBy(col(childKey).as("k")).agg(count(lit(1)).as("n_c"))
    val p = parent.groupBy(col(parentKey).as("k")).agg(count(lit(1)).as("n_p"))
    c.join(p, Seq("k"), "full_outer").agg(
      sum(coalesce(col("n_c"), lit(0L))).as("n_child_rows"),
      sum(coalesce(col("n_p"), lit(0L))).as("n_parent_rows"),
      count(when(col("n_p").isNull, 1)).as("n_orphan_child_keys"),
      count(when(col("n_c").isNull, 1)).as("n_childless_parent_keys"),
      count(when(col("n_c") > 1L, 1)).as("n_dup_child_keys"),
      count(when(col("n_p") > 1L, 1)).as("n_dup_parent_keys"))
      .withColumn("is_consistent",
        col("n_orphan_child_keys") === 0L && col("n_dup_parent_keys") === 0L)
  }

  /** Incremental view maintenance for the (name, day) count aggregate:
    * apply a signed CDC delta (sign = +1 insert, −1 delete/retraction)
    * to a previously-materialized aggregate WITHOUT re-scanning the base
    * corpus — the refresh step every nightly-rollup pipeline needs when
    * late events and GDPR deletes arrive after the aggregate shipped.
    *
    * Cost scales with |delta| + |aggregate| (the delta is hash-agged to
    * its own key grid, then one outer-merge with the old aggregate —
    * both aggregate-sized frames); the base table is never touched.
    * Keys whose refreshed count reaches 0 are dropped, so the result is
    * bit-identical to a full recompute over (base ∖ deletes ∪ inserts)
    * — OperatorsSpec proves that identity and q246 oracles it. */
  def incrementalRefresh(oldAgg: DataFrame, delta: DataFrame): DataFrame = {
    val d = delta.groupBy(col("name"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(col("sign")).as("d_net"))
    oldAgg.join(d, Seq("name", "day"), "full_outer")
      .select(col("name"), col("day"),
        coalesce(col("n"), lit(0L)).as("n_old"),
        coalesce(col("d_net"), lit(0L)).as("d_net"))
      .withColumn("n_new", col("n_old") + col("d_net"))
      .filter(col("n_new") =!= 0L)
  }

  /** EXACT k-th order statistic (P50/P95/P99) by two-pass distributed
    * SELECTION — the scale path for A5's exact percentiles. The builtin
    * `percentile` sorts every group's values inside one task; at 100 TB a
    * hot event's durations do not fit. This instead (1) hash-aggregates a
    * fixed-width value histogram per group, (2) reads the candidate
    * bucket for each target rank off the cumulative grid, and (3) sorts
    * ONLY the rows that land in candidate buckets — per-group memory
    * bounded by one bucket's population (tune `bucketWidth` so a bucket
    * fits; recurse the same trick inside a bucket if it doesn't). The
    * answer is bit-identical to a full sort: the k-th smallest value,
    * k = ceil(n·p/100) — no interpolation, no approximation.
    *
    * Shapes: pass 1 is one corpus hash-agg (map-side combined); the
    * cumulative scan runs on the histogram grid; pass 2's sort touches
    * only candidate-bucket rows (an equi-join on (name, bucket) against
    * the ≤ |names|·|ps| candidate list — broadcast). */
  def exactQuantiles2Pass(parsed: DataFrame, ps: Seq[Int] = Seq(50, 95, 99),
                          bucketWidth: Long = 16L): DataFrame = {
    // the narrow (name, v, bucket) projection feeds BOTH the histogram
    // pass and the candidate-bucket join — persisted so the parse runs
    // once, not once per pass (the cache lives until `unpersist` or
    // `clearCache`, as TfIdf.topTerms' tf does)
    val vals = parsed.select(col("name"), col("duration").cast("long").as("v"))
      .filter(col("v").isNotNull)
      .withColumn("bucket", expr(s"v DIV $bucketWidth"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wCum = Window.partitionBy("name").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = vals.groupBy("name", "bucket").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("cum_before", col("cum") - col("c"))
      .withColumn("n", sum("c").over(Window.partitionBy("name")))
    val candidates = cum
      .withColumn("p", explode(typedLit(ps.map(_.toLong))))
      .withColumn("k", expr("(n * p + 99) DIV 100"))
      .filter(col("cum") >= col("k") && col("cum_before") < col("k"))
      .select("name", "bucket", "p", "k", "n", "cum_before")
    vals.join(broadcast(candidates), Seq("name", "bucket"))
      .groupBy("name", "p", "k", "n", "cum_before")
      .agg(sort_array(collect_list(col("v"))).as("vs"))
      .select(col("name"), col("p"), col("n"), col("k"),
        element_at(col("vs"),
          (col("k") - col("cum_before")).cast("int")).as("value"))
  }

  /** WINSORIZED mean per group — the robust aggregation between the
    * median (throws away all magnitude) and the raw mean (one tail
    * outlier owns it): values clamp to the EXACT [P_lo, P_hi] order
    * statistics from [[exactQuantiles2Pass]] (rank-definition
    * quantiles, no interpolation ambiguity), then average. The standard
    * latency-reporting aggregate when P50 hides regressions and the
    * mean is hostage to timeouts.
    *
    * Integer-exact: clamp is min/max against broadcast thresholds, the
    * mean is Σclamp·1000 DIV n. Shape: the 2-pass selection's
    * histogram + candidate-bucket machinery (per-group memory bounded
    * by one bucket), one threshold broadcast back over the scan, one
    * |names| hash-agg. */
  def winsorizedMean(parsed: DataFrame, pLo: Int = 5,
                     pHi: Int = 95): DataFrame = {
    val qs = exactQuantiles2Pass(parsed, Seq(pLo, pHi))
    val th = qs.groupBy("name").agg(
      max(when(col("p") === pLo, col("value"))).as("lo"),
      max(when(col("p") === pHi, col("value"))).as("hi"))
    parsed.select(col("name"), col("duration").cast("long").as("v"))
      .filter(col("v").isNotNull)
      .join(broadcast(th), "name")
      .withColumn("w", greatest(col("lo"), least(col("hi"), col("v"))))
      .groupBy("name").agg(
        count(lit(1)).as("n"),
        max("lo").as("lo"), max("hi").as("hi"),
        expr("sum(v) * 1000 DIV count(1)").as("raw_mean_x1000"),
        expr("sum(w) * 1000 DIV count(1)").as("winsor_mean_x1000"))
  }

  /** MULTI-WINDOW BURN-RATE alerting (the SRE workbook rule): page only
    * when the error-budget burn is high in BOTH a short window (the
    * "it's happening now" signal) and its enclosing long window (the
    * "it's not a blip" signal) — the standard fix for the
    * single-threshold alert that either pages on noise or sleeps through
    * slow burns. Per short bucket: event/error counts at both grains,
    * burn ×1000 = err‰ · 1000 DIV budget‰, and the two-window verdict.
    *
    * Integer-exact throughout; 5-minute buckets via epoch DIV (the
    * engines' date_trunc have no 5-minute grain) and hours as the
    * enclosing parent by construction. Shape: TWO time-bucket hash-aggs
    * off one scan and an equi-join of the short grid to its parent hour
    * — both aggregate-sized; no windows over the corpus. */
  def burnRate(parsed: DataFrame, budgetPermille: Long = 50L,
               burnX: Long = 6L): DataFrame = {
    val base = parsed.select(
      expr("CAST(unix_seconds(CAST(ts AS TIMESTAMP)) DIV 300 AS BIGINT)")
        .as("b5"),
      when(col("name") === "error_reported", 1L).otherwise(0L).as("is_err"))
    val short = base.groupBy("b5").agg(
        count(lit(1)).as("n_s"), sum("is_err").as("err_s"))
      .withColumn("err_s_permille", expr("err_s * 1000 DIV n_s"))
      .withColumn("hour", expr("b5 DIV 12"))
    val long = base.withColumn("hour", expr("b5 DIV 12"))
      .groupBy("hour").agg(
        count(lit(1)).as("n_l"), sum("is_err").as("err_l"))
      .withColumn("err_l_permille", expr("err_l * 1000 DIV n_l"))
    short.join(long, "hour")
      .withColumn("burn_s_x1000",
        expr(s"err_s_permille * 1000 DIV $budgetPermille"))
      .withColumn("burn_l_x1000",
        expr(s"err_l_permille * 1000 DIV $budgetPermille"))
      .withColumn("alert",
        col("burn_s_x1000") >= burnX * 1000L &&
          col("burn_l_x1000") >= burnX * 1000L)
      .select("b5", "hour", "n_s", "err_s_permille", "n_l",
        "err_l_permille", "burn_s_x1000", "burn_l_x1000", "alert")
  }
}
