package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.functions.AgentJobs
import graft.operators.{Incremental, TurnOrdering}
import graft.sinks.Sinks
import graft.sources.Transcripts

class OperatorsSpec extends SparkSpec {
  import TestSpark.spark.implicits._

  test("incremental cursor: catchUp skips rows at or before (file, offset)") {
    val df = Seq(
      ("events_0000", 499L), ("events_0000", 500L), ("events_0000", 501L),
      ("events_0001", 0L)).toDF("src_file", "src_offset")
    val out = Incremental.catchUp(df, "events_0000", 500L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out == Set(("events_0000", 501L), ("events_0001", 0L)))
  }

  test("incremental cursor: nextCursor is max (file, offset) pair") {
    val df = Seq(("events_0001", 3L), ("events_0000", 999L), ("events_0001", 7L))
      .toDF("src_file", "src_offset")
    val c = Incremental.nextCursor(df).collect()(0)
    assert(c.getString(0) == "events_0001" && c.getLong(1) == 7L)
  }

  test("agent jobs: run_date/run_time ints → timestamp (process_agent.go:126-145)") {
    val df = Seq((20240215L, 134502L)).toDF("run_date", "run_time")
    val ts = df.select(AgentJobs.runTimestamp(col("run_date"), col("run_time")))
      .collect()(0).getTimestamp(0)
    assert(ts.toString.startsWith("2024-02-15 13:45:02"))
  }

  test("agent jobs: failed/retry/cancelled are severity 3, mode gate filters") {
    val df = Seq(0, 1, 2, 3, 4, 5).toDF("run_status")
    val sevs = df.select(col("run_status"),
      AgentJobs.runStatusSeverity(col("run_status"))).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(sevs == Map(0 -> 3, 1 -> 6, 2 -> 3, 3 -> 3, 4 -> 6, 5 -> 6))
    assert(df.filter(AgentJobs.jobsModeGate("failed")).count() == 3)
    assert(df.filter(AgentJobs.jobsModeGate("all")).count() == 6)
    assert(df.filter(AgentJobs.jobsModeGate("none")).count() == 0)
  }

  test("salted repartition preserves row set and per-conv recoverability") {
    val t = Transcripts.load(spark, tiny)
    val salted = TurnOrdering.saltedRepartition(t, Seq("conv_hot"), 8)
      .drop("_salt")
    assert(salted.except(t).count() == 0 && t.except(salted).count() == 0)
  }

  test("file-sink retention drops hour partitions older than retain window") {
    val root = "/tmp/graft_retention_spec"
    val p = Paths.get(root)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(x => Files.delete(x))
    val routed = Pipeline.routed(spark, tiny)
    Sinks.writeFile(routed, root)
    val partsBefore = Files.list(p).filter(_.getFileName.toString.startsWith("date_hour=")).count()
    assert(partsBefore > 5)
    val dropped = Sinks.applyRetention(spark, root, retainHours = 3)
    val partsAfter = Files.list(p).filter(_.getFileName.toString.startsWith("date_hour=")).count()
    assert(dropped.nonEmpty && partsAfter.toInt == partsBefore.toInt - dropped.size)
    assert(partsAfter <= 4) // max hour + 3 retained
  }

  test("observe() counters ride the sink write (A1/A2)") {
    val root = "/tmp/graft_observe_spec"
    val p = Paths.get(root)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(x => Files.delete(x))
    val routed = Pipeline.routed(spark, tiny)
    val (n, bytes) = Sinks.writeFileObserved(routed, root)
    assert(n == routed.count())
    assert(bytes > 0)
  }

  test("mods $(NOW)/$(VERSION) substitutions (config.go:314-345)") {
    val cfg = operators.Mods.defaultConfig.copy(
      adds = Seq("global.ingested_at" -> "$(NOW)", "global.v" -> "$(VERSION)"))
    val parsed = Pipeline.parse(Transcripts.load(spark, tiny).limit(1))
    val r = operators.Mods(parsed, cfg).select("doc.global.ingested_at", "doc.global.v")
      .collect()(0)
    assert(r.get(0) != null)       // a real timestamp
    assert(r.getString(1) == "0.1.0")
  }

  test("fieldCoverage: per-event presence permille over the key fields") {
    // wait_info: duration present on 1 of 2 rows (500‰); login: principal on both (1000‰)
    val parsed = Seq(
      ("wait_info", Some(1L), None, Option.empty[String], None, Some("PAGEIOLATCH_SH"), None),
      ("wait_info", None, Some(42L), Option.empty[String], None, None, None),
      ("login", None, None, Some("sa"), Some("10.0.0.1"), None, Some(5L)),
      ("login", None, None, Some("app"), None, None, None))
      .toDF("name", "error_number", "duration", "principal",
        "client_addr", "wait_type", "db_id")
    val out = operators.Aggregates.fieldCoverage(parsed).collect()
      .map(r => r.getString(0) -> r).toMap
    val w = out("wait_info")
    assert(w.getLong(1) == 2L)
    assert(w.getAs[Long]("error_number_permille") == 500L)
    assert(w.getAs[Long]("duration_permille") == 500L)
    assert(w.getAs[Long]("principal_permille") == 0L)
    val l = out("login")
    assert(l.getAs[Long]("principal_permille") == 1000L)
    assert(l.getAs[Long]("client_addr_permille") == 500L)
    assert(l.getAs[Long]("db_id_permille") == 500L)
  }

  test("parseHealth: per-file rates, conv counts, and offset span") {
    val parsed = Seq(
      ("f0", 0L, "c1", Some("login"), Some(1L)),
      ("f0", 10L, "c1", Some("login"), None),
      ("f0", 20L, "c2", None, None),          // unnamed → parse failure
      ("f1", 0L, "c3", Some("wait_info"), None))
      .toDF("src_file", "src_offset", "conv_id", "name", "error_number")
    val out = operators.Aggregates.parseHealth(parsed).collect()
      .map(r => r.getString(0) -> r).toMap
    val f0 = out("f0")
    assert(f0.getLong(1) == 3L)                        // n_rows
    assert(f0.getLong(2) == 666L)                      // named_permille
    assert(f0.getLong(3) == 2L)                        // n_convs
    assert(f0.getLong(4) == 333L)                      // error_permille
    assert(f0.getLong(5) == 0L && f0.getLong(6) == 20L)
    assert(out("f1").getLong(2) == 1000L)
  }

  test("scd2 build: same-value runs merge, ranges chain, last is current") {
    val ts = (s: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    val ev = Seq(
      ("k1", "a", ts(1)), ("k1", "a", ts(2)), ("k1", "b", ts(3)),
      ("k1", "a", ts(5)),
      ("k2", "z", ts(4)))
      .toDF("principal", "app_name", "ts")
    val out = operators.Scd2.build(ev, "principal", "app_name")
      .orderBy("principal", "version_idx").collect()
    assert(out.length == 4)
    val Array(v1, v2, v3, v4) = out
    assert(v1.getString(2) == "a" && v1.getLong(4) == 2L)      // run of 2
    assert(v1.getTimestamp(3) == ts(1) && v1.getTimestamp(5) == ts(3))
    assert(!v1.getBoolean(6))
    assert(v2.getString(2) == "b" && v2.getTimestamp(5) == ts(5))
    assert(v3.getString(2) == "a" && v3.isNullAt(5) && v3.getBoolean(6))
    assert(v4.getString(0) == "k2" && v4.getBoolean(6))        // single version
  }

  test("joinForecast: per-key pair products, threshold filter, exploding flag") {
    val l = Seq("a", "a", "a", "b", "c").toDF("conv_id")
    val r = Seq("a", "a", "b", "c").toDF("conv_id")
    val out = operators.JoinPlanner.joinForecast(l, r, "conv_id", minPairs = 2L)
      .collect().map(x => x.getString(0) -> x).toMap
    assert(out.keySet == Set("a"))               // b:1, c:1 filtered
    assert(out("a").getLong(1) == 3L && out("a").getLong(2) == 2L)
    assert(out("a").getLong(3) == 6L && !out("a").getBoolean(4))
    val big = operators.JoinPlanner.joinForecast(
      Seq.fill(10)("h").toDF("conv_id"), Seq.fill(10)("h").toDF("conv_id"),
      "conv_id", minPairs = 10L).collect()(0)
    assert(big.getLong(3) == 100L && big.getBoolean(4))  // 100 >= 10*10
  }

  test("alertEpisodes: consecutive spike hours coalesce, gaps split") {
    val ts = (h: Int, m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // baseline 3/hr at hours 0-2; spikes at 3 (12 rows, ratio 4000) and
    // 4 (30 rows, ratio 5000) -> one 2-hour episode; baseline 7-9, spike
    // at 10 (12 rows) -> second episode
    val rows =
      (0 to 2).flatMap(h => (0 until 3).map(m => ("e", ts(h, m)))) ++
      (0 until 12).map(m => ("e", ts(3, m))) ++
      (0 until 30).map(m => ("e", ts(4, m))) ++
      (7 to 9).flatMap(h => (0 until 3).map(m => ("e", ts(h, m)))) ++
      (0 until 12).map(m => ("e", ts(10, m)))
    val out = operators.Aggregates.alertEpisodes(rows.toDF("name", "ts"))
      .orderBy("alert_start").collect()
    assert(out.length == 2)
    assert(out(0).getTimestamp(2).toString.startsWith("2024-01-01 03:00") &&
      out(0).getTimestamp(3).toString.startsWith("2024-01-01 04:00"))
    assert(out(0).getLong(4) == 2L && out(0).getLong(5) == 30L)
    assert(out(0).getLong(6) == 5000L)
    assert(out(1).getTimestamp(2).toString.startsWith("2024-01-01 10:00") &&
      out(1).getLong(4) == 1L)
  }

  test("episodeCoverage: events land in their covering episode only") {
    val ts = (h: Int, m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // same fixture as alertEpisodes: episode 1 = hours 3-4, episode 2 =
    // hour 10; conv ids alternate so n_convs is provable
    val rows =
      (0 to 2).flatMap(h => (0 until 3).map(m => ("e", ts(h, m), s"c$m"))) ++
      (0 until 12).map(m => ("e", ts(3, m), s"c${m % 4}")) ++
      (0 until 30).map(m => ("e", ts(4, m), s"c${m % 4}")) ++
      (7 to 9).flatMap(h => (0 until 3).map(m => ("e", ts(h, m), s"c$m"))) ++
      (0 until 12).map(m => ("e", ts(10, m), s"c${m % 2}"))
    val out = operators.Aggregates
      .episodeCoverage(rows.toDF("name", "ts", "conv_id"))
      .orderBy("alert_start").collect()
    assert(out.length == 2)
    assert(out(0).getLong(3) == 42L && out(0).getLong(4) == 4L) // 12+30 events, convs c0-c3
    assert(out(1).getLong(3) == 12L && out(1).getLong(4) == 2L) // hour-10 spike, c0/c1
  }

  test("volumeAnomaly: trailing-3 ratio flags a 4x hour as a spike") {
    val ts = (h: Int, m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // hours 0..2 at 3 rows each, hour 3 at 12 rows (4x the trailing mean)
    val rows = (0 to 2).flatMap(h => (0 until 3).map(m => ("e", ts(h, m)))) ++
      (0 until 12).map(m => ("e", ts(3, m)))
    val out = operators.Aggregates.volumeAnomaly(rows.toDF("name", "ts")).collect()
      .map(r => r.getTimestamp(1).toString -> r).toMap
    val first = out("2024-01-01 00:00:00.0")
    assert(first.isNullAt(3) && first.isNullAt(4) && !first.getBoolean(5))
    val h1 = out("2024-01-01 01:00:00.0")
    assert(h1.getLong(3) == 3L && h1.getLong(4) == 1000L && !h1.getBoolean(5))
    val h3 = out("2024-01-01 03:00:00.0")
    assert(h3.getLong(2) == 12L && h3.getLong(3) == 9L)
    assert(h3.getLong(4) == 4000L && h3.getBoolean(5))
  }

  test("robustAnomaly: a 6-hour storm is fully flagged where the " +
    "trailing mean adapts after one hour") {
    val ts = (h: Int, m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // hours 0..11 at 10 events, hours 12..17 at 100 (a 6-hour storm)
    val rows = (0 to 11).flatMap(h => (0 until 10).map(m => ("e", ts(h, m)))) ++
      (12 to 17).flatMap(h => (0 until 100).map(m => ("e", ts(h, m % 60))))
    val df = rows.toDF("name", "ts")
    val robust = operators.Aggregates.robustAnomaly(df).collect()
    // median of [10×12, 100×6] = 10, MAD = 0 → every storm hour scores
    assert(robust.forall(_.getLong(3) == 20L))          // med_x2
    assert(robust.forall(_.getLong(4) == 0L))           // mad_x4 (majority exact)
    assert(robust.count(_.getBoolean(6)) == 6)          // all 6 storm hours
    assert(robust.filter(_.getBoolean(6)).forall(_.getLong(2) == 100L))
    // the trailing-mean detector self-poisons: only the storm's FIRST
    // hour trips 3× (hour 13 trails [10,10,100] → 2.5×, then ~1×)
    val trailing = operators.Aggregates.volumeAnomaly(df).collect()
    assert(trailing.count(_.getBoolean(5)) == 1)
  }

  test("robustAnomaly: nonzero MAD — hand-computed z-scores") {
    val ts = (h: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    // hourly counts 4, 6, 8, 10, 12, 100
    val rows = Seq(4, 6, 8, 10, 12, 100).zipWithIndex.flatMap {
      case (n, h) => (0 until n).map(_ => ("e", ts(h)))
    }
    val out = operators.Aggregates.robustAnomaly(rows.toDF("name", "ts"))
      .collect().map(r => r.getLong(2) -> r).toMap
    // median of counts = 9 → med_x2 = 18; dev_x2 = [10,6,2,2,6,182],
    // MAD(dev_x2) = 6 → mad_x4 = 12
    assert(out(4L).getLong(3) == 18L && out(4L).getLong(4) == 12L)
    assert(out(100L).getLong(5) == (182L * 2000L) / 12L)  // 30333
    assert(out(100L).getBoolean(6))
    assert(out(4L).getLong(5) == (10L * 2000L) / 12L)     // 1666 < 3500
    assert(Seq(4L, 6L, 8L, 10L, 12L).forall(n => !out(n).getBoolean(6)))
  }

  test("mixturePlan: Hamilton apportionment sums exactly to the budget, " +
    "largest remainder wins the leftover unit") {
    import TestSpark.spark.implicits._
    // counts 100/50/10 → weights 10/7/3, Σw=20, budget 10:
    // base 5/3/1 (Σ9), rem 0/10/10 → the 1 leftover goes to b (rem tie
    // with c, lexically first)
    val docs = (1 to 100).map(i => (i.toLong, "a")) ++
      (1 to 50).map(i => (1000L + i, "b")) ++
      (1 to 10).map(i => (2000L + i, "c"))
    val out = operators.Sampling.mixturePlan(docs.toDF("doc_id", "source"), 10L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out("a") == ((10L, 5L, 0L, 5L)))
    assert(out("b") == ((7L, 3L, 10L, 4L)))
    assert(out("c") == ((3L, 1L, 10L, 1L)))
    assert(out.values.map(_._4).sum == 10L)
  }

  test("waterFill: scarce sources taken whole, abundant equalized, " +
    "remainder to lex-first uncapped, infeasible budget reports unused") {
    import TestSpark.spark.implicits._
    def mk = (1 to 2).map(i => (i.toLong, "a")) ++
      (1 to 3).map(i => (100L + i, "b")) ++
      (1 to 10).map(i => (200L + i, "c")) ++
      (1 to 20).map(i => (300L + i, "d"))
    def run(b: Long) = operators.Sampling
      .waterFill(mk.toDF("doc_id", "source"), b).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getLong(5)))).toMap
    // caps 2/3/10/20, budget 17: r*=2, level (17−5)/2 = 6, rem 0
    assert(run(17L) == Map("a" -> ((2L, 2L, true, 0L)),
      "b" -> ((3L, 3L, true, 0L)), "c" -> ((10L, 6L, false, 0L)),
      "d" -> ((20L, 6L, false, 0L))))
    // budget 18: rem 1 goes to c (lex-first uncapped); Σ alloc = 18
    val r18 = run(18L)
    assert(r18("c") == ((10L, 7L, false, 0L)) &&
      r18("d") == ((20L, 6L, false, 0L)))
    assert(r18.values.map(_._2).sum == 18L)
    // budget 40 > Σcap 35: everyone capped, 5 unused
    assert(run(40L) == Map("a" -> ((2L, 2L, true, 5L)),
      "b" -> ((3L, 3L, true, 5L)), "c" -> ((10L, 10L, true, 5L)),
      "d" -> ((20L, 20L, true, 5L))))
  }

  test("winsorizedMean: exact P5/P95 clamps, tails stop owning the mean") {
    import TestSpark.spark.implicits._
    val df = (1L to 100L).map(v => ("a", v)).toDF("name", "duration")
    val r = operators.Aggregates.winsorizedMean(df).collect()(0)
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == (("a", 100L, 5L, 95L, 50500L, 50450L)))
    // an outlier moves the raw mean 10× more than the winsorized one
    val out = operators.Aggregates.winsorizedMean(
      df.unionByName(Seq(("a", 1000000L)).toDF("name", "duration")))
      .collect()(0)
    assert(out.getLong(4) > 9000000L && out.getLong(5) < 60000L,
      s"raw ${out.getLong(4)} vs winsor ${out.getLong(5)}")
  }

  test("contextTruncate: middle turns drop with exact char accounting, " +
    "short conversations pass whole") {
    import TestSpark.spark.implicits._
    val t = ((0 until 10).map(i => ("a", i, "t" * (i + 1))) ++
      (0 until 3).map(i => ("b", i, "xx")))
      .toDF("conv_id", "turn_idx", "text")
    val out = operators.Conversations.contextTruncate(t).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // a: keeps 0,1 and 4..9; drops idx 2,3 (chars 3+4 of 55)
    assert(out("a") == ((10L, 8L, 55L, 48L, 2L, 48L * 1000 / 55)))
    assert(out("b") == ((3L, 3L, 6L, 6L, 0L, 1000L)))
  }

  test("schemaDiff: added / removed / type_changed / stable verdicts") {
    import TestSpark.spark.implicits._
    val oldT = Seq("event=foo a=1 b=x", "event=foo a=2 b=y",
      "event=bar z=9").toDF("text")
    val newT = Seq("event=foo a=hello b=x c=5").toDF("text")
    val out = operators.DqRules.schemaDiff(oldT, newT).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2),
        r.getLong(3), r.getString(4), r.getString(5), r.getString(6))))
      .toMap
    assert(out(("foo", "a")) == ((2L, 1L, "int", "string", "type_changed")))
    assert(out(("foo", "b")) == ((2L, 1L, "string", "string", "stable")))
    assert(out(("foo", "c")) == ((0L, 1L, "", "int", "added")))
    assert(out(("bar", "z")) == ((1L, 0L, "int", "", "removed")))
    assert(out.size == 4)
  }

  test("burnRate: alert only when BOTH windows burn — blip in a quiet " +
    "hour stays silent, sustained burn pages") {
    import TestSpark.spark.implicits._
    def rows(b5: Long, n: Int, errs: Int) = (0 until n).map(i =>
      (b5 * 300 + i, if (i < errs) "error_reported" else "ok"))
    val df = (rows(0, 10, 6) ++ rows(1, 90, 24) ++
      rows(12, 10, 6) ++ rows(13, 190, 0))
      .toDF("off", "name")
      .withColumn("ts", to_timestamp(col("off")))
    val out = operators.Aggregates.burnRate(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getBoolean(8)))).toMap
    assert(out(0L) == ((10L, 600L, 100L, 300L, 12000L, 6000L, true)))
    assert(out(1L) == ((90L, 266L, 100L, 300L, 5320L, 6000L, false)))
    assert(out(12L) == ((10L, 600L, 200L, 30L, 12000L, 600L, false)),
      "short-window blip in a healthy hour must not page")
    assert(out(13L) == ((190L, 0L, 200L, 30L, 0L, 600L, false)))
  }

  test("survivalHazard: reaching counts telescope, hazards exact, " +
    "last length always 1000 permille") {
    import TestSpark.spark.implicits._
    // conv lengths 1, 1, 3, 5 → ends at t=0 (2 convs of 4 reaching),
    // t=2 (1 of 2), t=4 (1 of 1)
    val t = Seq(("a", 0), ("b", 0), ("c", 0), ("c", 1), ("c", 2),
      ("d", 0), ("d", 1), ("d", 2), ("d", 3), ("d", 4))
      .toDF("conv_id", "turn_idx")
    val out = operators.Conversations.survivalHazard(t).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out == Map(0L -> ((4L, 2L, 500L)), 2L -> ((2L, 1L, 500L)),
      4L -> ((1L, 1L, 1000L))))
  }

  test("benfordAudit: Benford-shaped file reads ~0 distance, " +
    "single-digit file flagged with its dominant digit") {
    import TestSpark.spark.implicits._
    val nat = operators.DqRules.benfordPermille.zipWithIndex.flatMap {
      case (c, i) => (0L until c).map(j => ("nat", (i + 1) * 1000L + j)) }
    val skew = (0 until 10).map(i => ("skew", 500L + i))
    val df = (nat ++ skew).toDF("src_file", "duration")
    val out = operators.DqRules.benfordAudit(df).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))).toMap
    // 995 rows at exactly the table's shares: only d1 floors 1‰ high
    assert(out("nat") == ((995L, 1L, 1L, false)))
    // all-5s: |1000−79| + (995−79) missing mass = 1837‰, top digit 5
    assert(out("skew") == ((10L, 1837L, 5L, true)))
  }

  test("lDiversity: homogeneous cell flagged, mixed cell diverse, " +
    "dominant share exact") {
    import TestSpark.spark.implicits._
    def doc(id: Long, lang: String, src: String, n: Long) =
      (id, lang, src, n)
    val docs = Seq(
      // cell (en, 1): 3 sources → diverse, top share 2/4 = 500
      doc(1, "en", "s1", 150), doc(2, "en", "s1", 160),
      doc(3, "en", "s2", 170), doc(4, "en", "s3", 180),
      // cell (en, 9): all one source → homogeneous, share 1000
      doc(5, "en", "leak", 900), doc(6, "en", "leak", 910),
      // cell (de, 1): two sources < l=3 → not diverse
      doc(7, "de", "s1", 100), doc(8, "de", "s2", 199)
    ).toDF("doc_id", "lang", "source", "n_chars")
    val out = operators.Governance.lDiversity(docs).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(out(("en", 1L)) == ((4L, 3L, 500L, true)))
    assert(out(("en", 9L)) == ((2L, 1L, 1000L, false)))
    assert(out(("de", 1L)) == ((2L, 2L, 500L, false)))
  }

  test("joinOrderAdvisor: exact intermediates per order, min flagged best") {
    import TestSpark.spark.implicits._
    val a = Seq(("k1", 1), ("k1", 2), ("k2", 3)).toDF("conv_id", "x")
    val b = Seq(("k1", 1), ("k1", 2), ("k1", 3)).toDF("conv_id", "x")
    val c = Seq(("k1", 1), ("k3", 1), ("k3", 2), ("k3", 3), ("k3", 4),
      ("k3", 5)).toDF("conv_id", "x")
    val out = operators.JoinPlanner.joinOrderAdvisor(a, b, c, "conv_id")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    // ab = 2·3 = 6, ac = 2·1 = 2, bc = 3·1 = 3, abc = 6
    assert(out == Map("(A*B)*C" -> ((6L, 6L, false)),
      "(A*C)*B" -> ((2L, 6L, true)), "(B*C)*A" -> ((3L, 6L, false))))
  }

  test("mixtureSample: per-source admits equal the plan, total equals " +
    "the budget, and the sample is partitioning-invariant") {
    import TestSpark.spark.implicits._
    val docs = ((1 to 100).map(i => (i.toLong, "a")) ++
      (1 to 50).map(i => (1000L + i, "b")) ++
      (1 to 10).map(i => (2000L + i, "c"))).toDF("doc_id", "source")
    val out = operators.Sampling.mixtureSample(docs, 10L).collect()
    val bySrc = out.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(bySrc == Map("a" -> 5, "b" -> 4, "c" -> 1))
    assert(out.length == 10)
    val again = operators.Sampling.mixtureSample(docs.repartition(7), 10L)
      .collect().map(_.getLong(0)).toSet
    assert(again == out.map(_.getLong(0)).toSet)
  }

  test("upsert: latest version wins, ties go to the change side, " +
    "unmatched rows pass through both ways") {
    import TestSpark.spark.implicits._
    val base = Seq(
      ("k1", 1, "old", 10L),   // updated by a higher version
      ("k2", 1, "keep", 20L),  // no change row → passes through
      ("k3", 1, "stale", 30L)) // change arrives with the SAME version
      .toDF("conv_id", "turn_idx", "text", "src_offset")
    val changes = Seq(
      ("k1", 1, "new", 11L),
      ("k3", 1, "reapplied", 30L),  // idempotent re-apply: must win the tie
      ("k4", 1, "insert", 40L))     // new key → inserts
      .toDF("conv_id", "turn_idx", "text", "src_offset")
    val out = Incremental.upsert(base, changes,
      Seq("conv_id", "turn_idx"), Seq("src_offset")).collect()
      .map(r => r.getString(0) -> (r.getString(2), r.getLong(3))).toMap
    assert(out == Map(
      "k1" -> ("new", 11L), "k2" -> ("keep", 20L),
      "k3" -> ("reapplied", 30L), "k4" -> ("insert", 40L)))
    // a change OLDER than the base must lose (out-of-order replay)
    val late = Seq(("k2", 1, "ancient", 5L))
      .toDF("conv_id", "turn_idx", "text", "src_offset")
    val replay = Incremental.upsert(base, late,
      Seq("conv_id", "turn_idx"), Seq("src_offset")).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(replay("k2") == "keep")
  }

  test("saltedEquiJoin: row-identical to the plain join under planted " +
    "skew, and the hot key really scatters") {
    import TestSpark.spark.implicits._
    val left = ((1 to 200).map(i => ("hot", i)) ++ (1 to 3).map(i => ("cold", i)))
      .toDF("conv_id", "turn_idx")
    val right = Seq(("hot", "H"), ("cold", "C"), ("orphan", "O"))
      .toDF("conv_id", "tag")
    val plain = left.join(right, Seq("conv_id"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).sorted
    val salted = operators.JoinPlanner
      .saltedEquiJoinAuto(left, right, "conv_id", salt = 8, minCount = 100L)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).sorted
    assert(salted.toSeq == plain.toSeq)
    // the hot key occupies several salt sub-keys (scatter really happened):
    // with 200 distinct payload hashes mod 8, all 8 sub-keys are populated
    val hot = left.groupBy("conv_id").agg(count(lit(1)).as("_n"))
      .filter(col("_n") >= 100L)
    val spread = left.join(broadcast(hot.select("conv_id")
        .withColumn("_hot", lit(true))), Seq("conv_id"), "left")
      .withColumn("_salt", when(col("_hot"),
        pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(8)).cast("int"))
        .otherwise(0))
      .filter(col("conv_id") === "hot")
      .select("_salt").distinct().count()
    assert(spread >= 4L, s"hot key spread over only $spread sub-keys")
    // no hot keys at all → degenerates to the plain join
    val noHot = operators.JoinPlanner
      .saltedEquiJoinAuto(left, right, "conv_id", salt = 8, minCount = 100000L)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).sorted
    assert(noHot.toSeq == plain.toSeq)
  }

  test("round-7 ops hold their invariants on a seeded random corpus") {
    import TestSpark.spark.implicits._
    val rnd = new scala.util.Random(1907)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "the", "of", "and", "to")
    val docs = (0L until 120L).map { i =>
      val n = rnd.nextInt(40)
      val t = if (i % 13 == 0) "alpha beta gamma delta eps zeta" // cross-parity dups
              else Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (i, t)
    }.toDF("doc_id", "text")

    // Bloom: counting invariants + NO FALSE NEGATIVES per shingle
    val bp = operators.Sketches.bloomPrefilter(docs).collect()
    bp.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), "n_true > n_maybe (false negative)")
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getLong(4) == r.getLong(2) - r.getLong(3))
    }
    val sh = docs.select(col("doc_id"),
      explode(array_distinct(dedup.Dedup.shingleHashes(col("text")))).as("sh"))
      .withColumn("key", col("sh").cast("string"))
    val idx = sh.filter(col("doc_id") % 2 === 0).select("key", "sh").distinct()
    val row = operators.Sketches.bloomRow(
      operators.Sketches.bloomWordTable(idx, "key"))
    val fn = operators.Sketches
      .bloomProbe(sh.filter(col("doc_id") % 2 === 1), "key", row)
      .join(idx.select(col("sh").as("ish")), col("sh") === col("ish"), "left_semi")
      .filter(!col("maybe_member")).count()
    assert(fn == 0L, "a true index member failed its bloom probe")

    // upsert: idempotent re-apply, one row per key, max version wins
    val base = (0L until 80L).map(i => (s"k${i % 30}", i, s"b$i"))
      .toDF("k", "ver", "payload")
    val ch = (0L until 40L).map(i => (s"k${rnd.nextInt(40)}", 60L + i, s"c$i"))
      .toDF("k", "ver", "payload")
    val once = Incremental.upsert(base, ch, Seq("k"), Seq("ver"))
    val twice = Incremental.upsert(once, ch, Seq("k"), Seq("ver"))
    assert(once.collect().toSet == twice.collect().toSet, "upsert not idempotent")
    val keys = base.select("k").union(ch.select("k")).distinct().count()
    assert(once.count() == keys)
    val maxVer = base.unionByName(ch).groupBy("k").agg(max("ver").as("mv"))
    assert(once.join(maxVer, "k").filter(col("ver") =!= col("mv")).count() == 0)

    // salted join: row-equal to the plain join on a random skewed frame
    val left = (0L until 400L).map { i =>
      (if (rnd.nextInt(100) < 60) "hot" else s"k${rnd.nextInt(20)}", i)
    }.toDF("k", "v")
    val right = ("hot" +: (0 until 20).map(i => s"k$i")).map(k => (k, s"p_$k"))
      .toDF("k", "p")
    val plain = left.join(right, Seq("k")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val salted = operators.JoinPlanner
      .saltedEquiJoinAuto(left, right, "k", salt = 1 + rnd.nextInt(15),
        minCount = 50L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sorted.toSeq
    assert(salted == plain)

    // z-order: bijective over a 64x64 grid, prefix bounds hold
    val grid = for (a <- 0L until 64L; b <- 0L until 64L) yield (a * 16, b * 16)
    val zs = grid.toDF("a", "b")
      .select(operators.Layout.zValue(col("a"), col("b"))).collect()
      .map(_.getLong(0))
    assert(zs.distinct.length == grid.length, "zValue collision on the grid")
  }

  test("integrityAudit: planted orphans, childless parents, and key dups " +
    "are each counted; the clean case is consistent") {
    import TestSpark.spark.implicits._
    val parent = Seq((1L, "p"), (2L, "p"), (3L, "p"), (3L, "dup"))
      .toDF("doc_id", "x")                       // 3 is a duplicated key
    val child = Seq((1L, "c"), (1L, "c2"), (2L, "c"), (9L, "orphan"))
      .toDF("vec_id", "y")                       // 9 has no parent; 1 is dup
    val r = operators.Aggregates
      .integrityAudit(child, parent, "vec_id", "doc_id").collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 4L)
    assert(r.getLong(2) == 1L, "orphan child key 9")
    assert(r.getLong(3) == 1L, "childless parent key 3")
    assert(r.getLong(4) == 1L, "dup child key 1")
    assert(r.getLong(5) == 1L, "dup parent key 3")
    assert(!r.getBoolean(6))
    val clean = operators.Aggregates.integrityAudit(
      Seq((1L, "c")).toDF("vec_id", "y"),
      Seq((1L, "p")).toDF("doc_id", "x"), "vec_id", "doc_id").collect()(0)
    assert(clean.getBoolean(6))
  }

  test("deletePropagation: requested docs delete as 'direct', content " +
    "copies as 'copy', everything else is kept") {
    import TestSpark.spark.implicits._
    val docs = Seq(
      (0L, "dup", "s1"),       // requested (0 % 23 == 0)
      (23L, "unique23", "s1"), // requested
      (1L, "dup", "s2"),       // copy of requested content
      (2L, "other", "s2"))     // kept
      .toDF("doc_id", "text", "source")
    val out = operators.Governance.deletePropagation(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(2), r.getBoolean(3), Option(r.getString(4))))).toMap
    assert(out(0L) == ((true, true, Some("direct"))))
    assert(out(23L) == ((true, true, Some("direct"))))
    assert(out(1L) == ((false, true, Some("copy"))))
    assert(out(2L) == ((false, false, None)))
  }

  test("deadLetter: keeps only unnameable rows, with lineage and reason " +
    "taxonomy") {
    import TestSpark.spark.implicits._
    val parsed = Seq(
      ("c1", 1L, "f1", 10L, "event=login ok", "login"), // well-formed → out
      ("c1", 2L, "f1", 20L, "", null),                  // empty_text
      ("c2", 3L, "f2", 30L, "   ", ""),                 // whitespace → empty
      ("c2", 4L, "f2", 40L, "junk no event", null))     // unparsed
      .toDF("conv_id", "turn_idx", "src_file", "src_offset", "text", "name")
    val out = operators.Filters.deadLetter(parsed).collect()
      .map(r => r.getLong(1) -> r.getString(4)).toMap
    assert(out == Map(2L -> "empty_text", 3L -> "empty_text",
      4L -> "unparsed"))
  }

  test("throttle: admits exactly the quota per (name, hour) cell, rank is " +
    "a total order") {
    import TestSpark.spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-15 10:00:00")
    val rows = (1 to 60).map(i => ("c1", i.toLong, "login", ts0)) ++
      (1 to 3).map(i => ("c2", i.toLong, "attention", ts0))
    val parsed = rows.toDF("conv_id", "turn_idx", "name", "ts")
    val out = operators.Sampling.throttle(parsed, quota = 50).collect()
    val login = out.filter(_.getString(2) == "login")
    assert(login.count(_.getBoolean(5)) == 50)
    assert(login.count(!_.getBoolean(5)) == 10)
    assert(login.map(_.getLong(4)).sorted.toSeq == (1L to 60L))
    assert(out.filter(_.getString(2) == "attention").forall(_.getBoolean(5)))
  }

  test("kAnonymity: cells under k flag, bucket width coarsens the grid") {
    import TestSpark.spark.implicits._
    val docs = (
      (1 to 10).map(i => (i.toLong, "en", "s1", 150L)) ++      // k=10 cell
      Seq((100L, "en", "s1", 420L)) ++                         // singleton
      (1 to 3).map(i => (200L + i, "fr", "s2", 80L))           // k=3 cell
    ).toDF("doc_id", "lang", "source", "n_chars")
    val out = operators.Governance.kAnonymity(docs, k = 5L).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) ->
        (r.getLong(3), r.getBoolean(4))).toMap
    assert(out(("en", "s1", 1L)) == ((10L, false)))
    assert(out(("en", "s1", 4L)) == ((1L, true)))
    assert(out(("fr", "s2", 0L)) == ((3L, true)))
    // widening the bucket merges the en cells: 11 docs, no longer at risk
    val wide = operators.Governance.kAnonymity(docs, k = 5L,
      lenBucketWidth = 1000L).collect()
      .map(r => (r.getString(0), r.getLong(2)) -> r.getLong(3)).toMap
    assert(wide(("en", 0L)) == 11L)
  }

  test("curriculumInterleave: difficulty rises per source, sources round-" +
    "robin within tiers, epoch keys are unique") {
    import TestSpark.spark.implicits._
    // 3 sources x 4 docs, lengths so rank tiers are unambiguous
    val docs = (for {
      (src, base) <- Seq(("a", 0L), ("b", 100L), ("c", 200L))
      i <- 1 to 4
    } yield (base + i, src, "x" * (i * 10 + base.toInt / 10)))
      .toDF("doc_id", "source", "text")
    val out = operators.TrainingExport.curriculumInterleave(docs).collect()
    assert(out.length == 12)
    assert(out.map(_.getLong(5)).distinct.length == 12)   // epoch_key unique
    // within each source, epoch order == difficulty order
    out.groupBy(_.getString(1)).foreach { case (_, rows) =>
      val byKey = rows.sortBy(_.getLong(5)).map(_.getLong(2))
      assert(byKey.sorted.sameElements(byKey))
    }
    // tier 1 (rk=1) holds one doc per source, in src_idx order
    val tier1 = out.filter(_.getLong(4) == 1L).sortBy(_.getLong(5))
    assert(tier1.map(_.getString(1)).toSeq == Seq("a", "b", "c"))
    assert(tier1.map(_.getLong(5)).toSeq == Seq(0L, 1L, 2L))
  }

  test("snapshotDiff: added/removed/changed/same per key off content hashes") {
    import TestSpark.spark.implicits._
    val v1 = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("doc_id", "text")
    val v2 = Seq((1L, "a"), (3L, "c2"), (4L, "d"), (5L, "e")).toDF("doc_id", "text")
    val out = operators.Governance.snapshotDiff(v1, v2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "same", 2L -> "removed", 3L -> "changed",
      4L -> "same", 5L -> "added"))
  }

  test("coverageDrift: a field dropped by the producer flags a -1000 day") {
    val ts1 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val ts2 = java.sql.Timestamp.valueOf("2026-01-02 10:00:00")
    // day 1: duration always present; day 2: never (upstream drop)
    val parsed = Seq(
      ("ev", ts1, Some(5L)), ("ev", ts1, Some(6L)),
      ("ev", ts2, None), ("ev", ts2, None)
    ).toDF("name", "ts", "duration")
      .withColumn("error_number", lit(null).cast("long"))
      .withColumn("principal", lit(null).cast("string"))
      .withColumn("client_addr", lit(null).cast("string"))
      .withColumn("wait_type", lit(null).cast("string"))
      .withColumn("db_id", lit(null).cast("long"))
    val out = operators.Aggregates.coverageDrift(parsed).collect()
      .map(r => (r.getString(3), r.getDate(1).toString) ->
        ((r.getLong(4), Option(r.get(6)).map(_.asInstanceOf[Long]), r.getBoolean(7))))
      .toMap
    assert(out(("duration", "2026-01-01")) == ((1000L, None, false)))
    assert(out(("duration", "2026-01-02")) == ((0L, Some(-1000L), true)))
    // a field absent on both days never drifts
    assert(out(("db_id", "2026-01-02")) == ((0L, Some(0L), false)))
  }

  test("round-12 ops hold their invariants on a seeded random corpus") {
    import TestSpark.spark.implicits._
    val rnd = new scala.util.Random(2026)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "the", "of", "and", "to", "mail", "at")
    val docs = (0L until 150L).map { i =>
      val n = 3 + rnd.nextInt(30)
      val t = if (i % 97 == 0) "alpha beta gamma delta eps zeta the of and to"
              else if (i % 19 == 3) "alpha beta gamma delta eps zeta the of and to" // copies of the bench doc
              else Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (i, if (i % 5 == 0) "en" else "de", s"src${i % 4}", t)
    }.toDF("doc_id", "lang", "source", "text")

    // dupSizeHistogram: docs conserved, mass shares exact
    val hist = dedup.Dedup.dupSizeHistogram(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(hist.map(_._3).sum == 150L, "documents must be conserved")
    hist.foreach { case (size, nc, nd, mass) =>
      assert(nd == size * nc)
      assert(mass == nd * 1000L / 150L)
    }

    // fuzzy decontamination: an exact copy of a benchmark doc matches on
    // ALL bands (identical signatures) -> never a false negative
    val ff = text.Decontaminate.fuzzyFlags(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    ff.filter(t => t._1 % 19 == 3 && t._1 % 97 != 0).foreach { t =>
      assert(t._2 == 4L && t._3, s"planted copy ${t._1} missed")
    }
    ff.filter(_._1 % 97 == 0).foreach(t => assert(!t._3, "bench member flagged"))

    // qualityZ: histogram medians equal exact percentiles on random data
    val qz = text.CorpusOps.qualityZ(docs)
    val exactMed = qz.select("lang", "logit_x1e3").groupBy("lang")
      .agg((expr("percentile(logit_x1e3, 0.5)") * 2).cast("long").as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    qz.collect().foreach { r =>
      assert(r.getLong(3) == exactMed(r.getString(1)))
      assert(r.getLong(5) >= 0L)
    }

    // sourceOverlapMatrix: union dominates both sides, overlap bounded
    operators.Sketches.sourceOverlapMatrix(docs).collect().foreach { r =>
      val (ea, eb, eu, ovl) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(6))
      assert(eu >= math.max(ea, eb), "union estimate below a side")
      assert(ovl >= 0L && ovl <= 1000L)
    }

    // coverageDrift: deltas telescope to last - first per (name, field)
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val parsed = (0L until 200L).map { i =>
      ("ev", new java.sql.Timestamp(ts0.getTime + (i % 5) * 86400000L),
        if (rnd.nextBoolean()) Some(i) else None)
    }.toDF("name", "ts", "duration")
      .withColumn("error_number", lit(null).cast("long"))
      .withColumn("principal", lit(null).cast("string"))
      .withColumn("client_addr", lit(null).cast("string"))
      .withColumn("wait_type", lit(null).cast("string"))
      .withColumn("db_id", lit(null).cast("long"))
    val cd = operators.Aggregates.coverageDrift(parsed).collect()
      .map(r => (r.getString(3), r.getDate(1).toString, r.getLong(4),
        Option(r.get(6)).map(_.asInstanceOf[Long])))
    cd.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.head._4.isEmpty, "first day must have null delta")
      val telescoped = sorted.flatMap(_._4).sum
      assert(telescoped == sorted.last._3 - sorted.head._3)
    }

    // clusterBalancedSample: EXACTLY the budget, no duplicate picks
    val vecs = (0L until 220L).map { i =>
      (i, Array.tabulate(8)(j => (rnd.nextInt(17) - 8).toFloat))
    }.toDF("vec_id", "embedding")
    val cs = operators.Sampling.clusterBalancedSample(vecs, budget = 64L,
      centroidMod = 100).collect()
    assert(cs.length == 64)
    assert(cs.map(_.getLong(0)).distinct.length == 64)
  }

  test("pseudonymize: stable salted keys, no identifier in the output, rarity flag") {
    val parsed = Seq(
      ("c1", Some("alice")), ("c1", Some("alice")), ("c2", Some("alice")),
      ("c2", Some("bob")), ("c3", None)
    ).toDF("conv_id", "principal")
    val out = operators.Governance.pseudonymize(parsed, k = 2L).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out.size == 2, "null principals drop; two actors remain")
    assert(!out.keySet.exists(k => k.contains("alice") || k.contains("bob")))
    assert(out.keySet.forall(k => k.startsWith("u_") && k.length == 14))
    // alice: 3 events over 2 convs, not rare at k=2; bob: 1 event, rare
    assert(out.values.toSet == Set((3L, 2L, false), (1L, 1L, true)))
    // stable across salt reuse, different under another salt
    val again = operators.Governance.pseudonymize(parsed, k = 2L).collect()
      .map(_.getString(0)).toSet
    assert(again == out.keySet)
    val other = operators.Governance.pseudonymize(parsed, salt = "other", k = 2L)
      .collect().map(_.getString(0)).toSet
    assert(other.intersect(out.keySet).isEmpty)
  }

  test("sourceFreshness: lag vs corpus max; stale at threshold") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val parsed = Seq(
      ("fa", ts("2024-01-10 12:00:00")), ("fa", ts("2024-01-09 00:00:00")),
      ("fb", ts("2024-01-09 10:00:00")),   // 26 h behind → stale
      ("fc", ts("2024-01-10 09:30:00")))   // 2.5 h behind → floor 2, fresh
      .toDF("src_file", "ts")
    val out = operators.Aggregates.sourceFreshness(parsed).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3), r.getBoolean(4)))).toMap
    assert(out("fa") == ((2L, 0L, false)))
    assert(out("fb") == ((1L, 26L, true)))
    assert(out("fc") == ((1L, 2L, false)))
  }

  test("deadLetterTemplates: digit-collapsed failure modes with blast radius") {
    val parsed = Seq(
      ("c1", 1L, "f1", 0L, null.asInstanceOf[String], "timeout after 123 ms on node 7"),
      ("c1", 2L, "f2", 0L, "", "Timeout after 456 ms on node 9"),
      ("c2", 1L, "f1", 1L, "", ""),
      ("c2", 2L, "f1", 2L, "", ""),
      ("c3", 1L, "f1", 3L, "", "solo unique failure 5"),  // below minRows
      ("c3", 2L, "f1", 4L, "ok_event", "healthy row 1")   // well-formed
    ).toDF("conv_id", "turn_idx", "src_file", "src_offset", "name", "text")
    val out = operators.Filters.deadLetterTemplates(parsed, minRows = 2).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out == Map(
      ("unparsed", "timeout after 0 ms on node 0") -> ((2L, 2L)),
      ("empty_text", "") -> ((2L, 1L))))
  }

  test("seasonalAnomaly: flags a night-hour spike the global baseline calls normal") {
    // name "a", 5 days: hod 3 runs at 10/day except day 5 spikes to 100;
    // hod 15 runs at 100/day every day. Globally 100 is a normal value
    // (half the cells are 100) — only the seasonal per-hod baseline sees
    // the hod-3 spike.
    val rows = (1 to 5).flatMap { day =>
      Seq((s"a", java.sql.Timestamp.valueOf(f"2024-01-0$day 03:00:00"),
            if (day == 5) 100L else 10L),
          (s"a", java.sql.Timestamp.valueOf(f"2024-01-0$day 15:00:00"), 100L))
    }.toDF("name", "hour", "n")
    val hourly = rows.select(col("name"), col("hour"), col("n"))
    val seasonal = operators.Aggregates.seasonalAnomalyFromHourly(hourly)
      .collect().map(r => (r.getLong(1), r.getTimestamp(2).toString,
        r.getLong(3), r.getLong(7 - 1), r.getBoolean(7))).toList
    // hod 3: median 10 (med_x2 20); spike dev_x2 = |200-20| = 180; MAD of
    // (0,0,0,0,180) = 0 → mad_x4 clamps to 1 → z huge → flagged
    val spike = seasonal.filter(t => t._1 == 3L && t._3 == 100L)
    assert(spike.size == 1 && spike.head._5, s"spike must flag: $seasonal")
    // every other cell: unflagged
    assert(seasonal.count(_._5) == 1)
    // contrast: the GLOBAL robust detector — four 10s vs six 100s, so the
    // global median is 100 and MAD 0: it flags every QUIET hod-3 cell as
    // an outlier (the diurnal false positive) and scores the actual spike
    // z = 0 (false negative) — the failure mode the seasonal key fixes
    val global = operators.Aggregates.robustAnomalyFromHourly(hourly)
      .collect().map(r => (r.getLong(2), r.getBoolean(6)))
    assert(global.count(_._2) == 4, "global flags the four quiet cells")
    assert(global.filter(_._1 == 100L).forall(!_._2),
      "global baseline misses the seasonal spike entirely")
  }

  test("interArrival: hand-computed Fano, hour-boundary gaps excluded") {
    import TestSpark.spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val parsed = Seq(
      ("a", t("2024-01-01 00:00:00"), "c1", 0L),
      ("a", t("2024-01-01 00:00:10"), "c1", 1L),   // gap 1e7 µs
      ("a", t("2024-01-01 00:00:30"), "c1", 2L),   // gap 2e7 µs
      ("a", t("2024-01-01 01:00:05"), "c1", 3L),   // hour boundary: dropped
      ("a", t("2024-01-01 01:00:10"), "c1", 4L),   // gap 5e6 µs
      ("b", t("2024-01-01 00:00:00"), "c1", 5L)    // lone event: no gaps
    ).toDF("name", "ts", "conv_id", "turn_idx")
    val out = operators.Aggregates.interArrival(parsed).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // n=3, Σg=3.5e7, Σg²=5.25e14 → mean = 11666666,
    // fano = (3·5.25e14 − 3.5e7²)·1000 ÷ (3·3.5e7) = 3333333333
    assert(out("a") == ((3L, 11666666L, 20000000L, 3333333333L)))
    assert(!out.contains("b"), "a single event has no inter-arrival gap")
  }

  test("latenessProfile: stragglers vs the offset-order high-water mark") {
    import TestSpark.spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val parsed = Seq(
      ("a", "f1", 0L, t("2024-01-01 00:00:00")),
      ("a", "f1", 1L, t("2024-01-01 00:01:40")),   // new high-water mark
      ("a", "f1", 2L, t("2024-01-01 00:00:50")),   // 50 s late
      ("a", "f1", 3L, t("2024-01-01 00:00:10"))    // 90 s late (> 1 m)
    ).toDF("name", "src_file", "src_offset", "ts")
    val out = operators.Aggregates.latenessProfile(parsed).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // 2 of 4 late → 500‰; only the 90 s one exceeds the 1 m watermark
    assert(out("a") == ((4L, 500L, 90000000L, 250L, 0L, 0L)))
  }

  test("fdAudit: broken dependency flags its smallest key, intact holds") {
    import TestSpark.spark.implicits._
    val parsed = Seq(
      (Some(1L), Some(10L), "a", "cat_a", Some(1L)),
      (Some(1L), Some(11L), "a", "cat_a", Some(1L)),   // err 1 → two sevs
      (Some(2L), Some(10L), "b", "cat_b", Some(1L)),   // db 1 → a and b
      (None, None, "b", "cat_b", Some(2L))
    ).toDF("error_number", "severity_num", "name", "xe_category", "db_id")
    val out = operators.DqRules.fdAudit(parsed).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.getString(4)).getOrElse("-")))).toMap
    assert(out("error_number->severity_num") == ((2L, 1L, 500L, "1")))
    assert(out("name->xe_category") == ((2L, 0L, 0L, "-")))
    assert(out("db_id->name") == ((2L, 1L, 500L, "1")))
  }

  test("ttlSimulation: per-(file, ttl) drops exactly the over-age mass") {
    import TestSpark.spark.implicits._
    def t(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    val parsed = Seq(
      ("f1", t(20), "abcd"), ("f1", t(10), "ab"),   // 0 and 10 days old
      ("f2", t(1), "abcdefgh")                       // 19 days old
    ).toDF("src_file", "ts", "text")
    val out = operators.Governance.ttlSimulation(parsed, Seq(7))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    assert(out(("f1", 7L)) == ((2L, 6L, 1L, 2L, 500L)))
    assert(out(("f2", 7L)) == ((1L, 8L, 1L, 8L, 1000L)))
  }

  test("ksDrift: shifted magnitude distribution flags, gap hand-computed") {
    import TestSpark.spark.implicits._
    // src a: buckets 1,1,2,2 ; src b: all bucket 4 → pooled CDF sits
    // between them; max gap 500000 ppm for both
    val parsed = Seq(
      ("a", 1L), ("a", 1L), ("a", 2L), ("a", 2L),
      ("b", 8L), ("b", 8L), ("b", 8L), ("b", 8L)
    ).toDF("src_file", "duration")
    val out = operators.Aggregates.ksDrift(parsed).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(out("a") == ((4L, 500000L, true)))
    assert(out("b") == ((4L, 500000L, true)))
  }

  test("volumeTrend: planted drift rises, constant is flat, decay falls") {
    import TestSpark.spark.implicits._
    def t(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    val rows =
      (1 to 10).flatMap(d => Seq.fill(10 * d)(("r", t(d)))) ++      // +10/day
      (1 to 10).flatMap(d => Seq.fill(5)(("f", t(d)))) ++           // constant
      (1 to 10).flatMap(d => Seq.fill(100 - 5 * d)(("d", t(d))))    // −5/day
    val out = operators.Aggregates.volumeTrend(rows.toDF("name", "ts"))
      .collect().map(r => r.getString(0) -> ((r.getLong(3), r.getString(4))))
      .toMap
    assert(out("r") == ((20000L, "rising")))   // every pair slope = 10/day
    assert(out("f") == ((0L, "flat")))
    assert(out("d") == ((-10000L, "falling")))
  }

  test("cusumChangepoints: level shift alarms both sides at hand-computed days") {
    import TestSpark.spark.implicits._
    def t(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    // 10 days at 20, then 10 days at 2: μ=11, κ=1, h=55
    val rows = (1 to 10).flatMap(d => Seq.fill(20)(("e", t(d)))) ++
      (11 to 20).flatMap(d => Seq.fill(2)(("e", t(d))))
    val out = operators.Aggregates.cusumChangepoints(rows.toDF("name", "ts"))
      .collect().map(r => r.getTimestamp(1).toString.take(10) ->
        ((r.getLong(4), r.getLong(5), r.getBoolean(6), r.getBoolean(7)))).toMap
    // s_up = 8/day while high, decays −10/day after; >55 on days 7..12
    assert((7 to 12).forall(d => out(f"2024-01-$d%02d")._3), s"$out")
    assert(out.count(_._2._3) == 6)
    // s_dn floors at 0 while high, grows 8/day after; >55 on days 17..20
    assert((17 to 20).forall(d => out(f"2024-01-$d%02d")._4))
    assert(out.count(_._2._4) == 4)
    assert(out("2024-01-10") == ((80L, 0L, true, false)))
    assert(out("2024-01-20") == ((0L, 80L, false, true)))
  }

  test("ruleAudit: one pass, per-rule scopes, violations, first offender") {
    import TestSpark.spark.implicits._
    val parsed = Seq(
      // (conv, turn, name, severity, duration, principal, state, client)
      ("c1", 1L, "login", Some(14L), Some(10L), Some("u1"), Some(1L), Some("::1")),
      ("c1", 2L, "login", Some(14L), Some(-5L), None, Some(1L), Some("10.0.0.1")),
      ("c2", 1L, "error_reported", Some(114L), None, Some("u2"), None, Some("bogus")),
      ("c2", 2L, "wait_info", None, Some(7L), None, None, None)
    ).toDF("conv_id", "turn_idx", "name", "severity_num", "duration",
      "principal", "state_num", "client_addr")
    val out = operators.DqRules.ruleAudit(parsed).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.getString(4)).getOrElse("-")))).toMap
    assert(out("severity_in_range") == ((3L, 1L, 333L, "c2:000001")))
    assert(out("duration_non_negative") == ((3L, 1L, 333L, "c1:000002")))
    assert(out("login_has_principal") == ((2L, 1L, 500L, "c1:000002")))
    assert(out("error_has_state") == ((1L, 1L, 1000L, "c2:000001")))
    assert(out("client_addr_shape") == ((3L, 1L, 333L, "c2:000001")))
  }

  test("ruleAudit: a rule name outside [A-Za-z0-9_]+ is rejected by name") {
    import TestSpark.spark.implicits._
    val parsed = Seq(("c1", 1L, "login")).toDF("conv_id", "turn_idx", "name")
    val bad = "x', 1, 2, 3, 'y"
    val e = intercept[IllegalArgumentException] {
      operators.DqRules.ruleAudit(parsed,
        Seq(("ok_rule", lit(true), lit(true)), (bad, lit(true), lit(true))))
    }
    assert(e.getMessage.contains(bad))
  }

  test("incrementalRefresh: delta-applied aggregate == full recompute; zero rows drop") {
    import TestSpark.spark.implicits._
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 10:00:00")
    val base = Seq(("a", ts(1)), ("a", ts(1)), ("a", ts(2)), ("b", ts(1)))
      .toDF("name", "ts")
    val oldAgg = operators.Aggregates.dailyCounts(base)
    // delta: +2 late 'a' day-2 rows, -1 'a' day-1, -1 'b' day-1 (retracts
    // b's only row -> key must vanish), +1 brand-new 'c' day-3
    val delta = Seq(
      ("a", ts(2), 1L), ("a", ts(2), 1L), ("a", ts(1), -1L),
      ("b", ts(1), -1L), ("c", ts(3), 1L)).toDF("name", "ts", "sign")
    val out = operators.Aggregates.incrementalRefresh(oldAgg, delta)
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString.take(10)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(("a", "2024-01-01")) == ((2L, -1L, 1L)))
    assert(out(("a", "2024-01-02")) == ((1L, 2L, 3L)))
    assert(out(("c", "2024-01-03")) == ((0L, 1L, 1L)))
    assert(!out.contains(("b", "2024-01-01")), "fully-retracted key drops")
    // identity: n_new == full recompute over (base minus deletes plus inserts)
    val recomputed = operators.Aggregates.dailyCounts(
      Seq(("a", ts(1)), ("a", ts(2)), ("a", ts(2)), ("a", ts(2)), ("c", ts(3)))
        .toDF("name", "ts"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString.take(10)) ->
        r.getLong(2)).toMap
    assert(out.map { case (k, v) => k -> v._3 } == recomputed)
  }

  test("dpCounts: bounded deterministic noise, clamped release, exact CDF table") {
    import TestSpark.spark.implicits._
    val cdf = operators.Governance.dpNoiseCdfMicro(500L)
    assert(cdf.length == 31 && cdf.last == ((15, 1000000L)))
    assert(cdf.sliding(2).forall { case Seq((_, a), (_, b)) => a <= b })
    // symmetric mechanism: P(noise=+k) == P(noise=-k) in table mass
    val mass = cdf.map(_._2).zip(0L +: cdf.map(_._2)).map { case (a, b) => a - b }
    assert(mass == mass.reverse)
    val docs = ((1 to 40).map(i => (i.toLong, "en", "src1")) ++
      (1 to 3).map(i => (i + 100L, "de", "src2")))
      .map { case (id, l, s) => (id, s"doc $id", l, s) }
      .toDF("doc_id", "text", "lang", "source")
    val out = operators.Governance.dpCounts(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val (n1, e1, r1) = out(("en", "src1"))
    assert(n1 == 40L && e1 >= -15L && e1 <= 15L && r1 == math.max(0L, n1 + e1))
    val (n2, e2, r2) = out(("de", "src2"))
    assert(n2 == 3L && r2 == math.max(0L, n2 + e2), "small cell clamps at 0")
    // deterministic: rerun produces the identical release
    val again = operators.Governance.dpCounts(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    assert(again(("en", "src1")) == r1 && again(("de", "src2")) == r2)
  }

  test("inferSchema: value-shape census with majority + conflict flag") {
    import TestSpark.spark.implicits._
    val t = Seq(
      "event=login db_id=5 ok=true handle=0x1f score=1.5 note=",
      "event=login db_id=6 ok=false handle=0x2a score=2.0 note=hello",
      "event=login db_id=oops ok=true",
      "event=other db_id=7").toDF("text")
    val out = operators.DqRules.inferSchema(t).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getString(4), r.getLong(6),
          r.getBoolean(7)))).toMap
    // login.db_id: 2 int + 1 string -> majority int, conflict
    assert(out(("login", "db_id")) == ((3L, 2L, "int", 666L, true)))
    assert(out(("login", "ok")) == ((3L, 1L, "bool", 1000L, false)))
    assert(out(("login", "handle")) == ((2L, 1L, "hex", 1000L, false)))
    assert(out(("login", "score")) == ((2L, 1L, "float", 1000L, false)))
    // note: one empty + one string -> tie broken by type name ('empty' <
    // 'string'), still 1 non-empty type so no conflict
    assert(out(("login", "note")) == ((2L, 1L, "empty", 500L, false)))
    assert(out(("other", "db_id")) == ((1L, 1L, "int", 1000L, false)))
  }

  test("logTemplates: frequent tokens stay literal, rare collapse to <*>") {
    import TestSpark.spark.implicits._
    val turns = ((1 to 5).map(i => ("c", i, s"login user=u$i ok")) :+
      (("c", 9, "logout now")))
      .toDF("conv_id", "turn_idx", "text")
    val out = operators.DqRules.logTemplates(turns, minCount = 3L).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // login/ok appear 5x (literal); each user=uN once, logout/now once
    assert(out == Map("login <*> ok" -> 5L, "<*> <*>" -> 1L))
  }

  test("exactQuantiles2Pass: k-th order statistics match hand-ranked truth") {
    import TestSpark.spark.implicits._
    val rows = (1L to 100L).map(v => ("a", v)) ++
      Seq(("b", 5L), ("b", 5L), ("b", 5L), ("b", 7L))
    val parsed = rows.toDF("name", "duration")
    val out = operators.Aggregates.exactQuantiles2Pass(parsed).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // a: n=100, k = ceil(n*p/100) => 50, 95, 99; values are the ranks
    assert(out(("a", 50L)) == ((100L, 50L, 50L)))
    assert(out(("a", 95L)) == ((100L, 95L, 95L)))
    assert(out(("a", 99L)) == ((100L, 99L, 99L)))
    // b: n=4 with ties; k50=2 -> 5, k95=k99=4 -> 7
    assert(out(("b", 50L)) == ((4L, 2L, 5L)))
    assert(out(("b", 95L)) == ((4L, 4L, 7L)))
    assert(out(("b", 99L)) == ((4L, 4L, 7L)))
  }

  test("termBursts: storm term tops its day, hand-computed integer lifts") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions.timestamp_seconds
    val rows = (1 to 50).map(i => (3600L, "base")) ++
      (1 to 50).map(i => (90000L, "base")) ++
      (1 to 30).map(i => (90000L, "storm"))
    val turns = rows.toDF("sec", "text")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    val out = operators.Conversations.termBursts(turns).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3), r.getLong(4)))).toMap
    // totals: all=130, base=100, storm=30; day0=50, day1=80
    assert(out((0L, 1L)) == (("base", 50L, 1300L)))   // 50·130k/(100·50)
    assert(out((1L, 1L)) == (("storm", 30L, 1625L)))  // 30·130k/(30·80)
    assert(out((1L, 2L)) == (("base", 50L, 812L)))    // 50·130k/(100·80)
    assert(out.size == 3)
  }

  test("merkleDiff: changed buckets localized, drill-down invariant holds") {
    import TestSpark.spark.implicits._
    val v1 = (0L until 100L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val v2 = (0L until 100L).filter(_ != 20L)
      .map(i => (i, if (i == 5L) "doc 5 edited" else s"doc $i"))
      .toDF("doc_id", "text")
      .unionByName(Seq((200L, "new doc")).toDF("doc_id", "text"))
    val out = operators.Governance.merkleDiff(v1, v2).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    // fine: bucket 0 edited (counts equal, xor differs), bucket 1 lost a
    // doc, bucket 12 is the new doc's home
    assert(out(("fine", 0L)) == ((16L, 16L)))
    assert(out(("fine", 1L)) == ((16L, 15L)))
    assert(out(("fine", 12L)) == ((0L, 1L)))
    // coarse bucket 0: equal counts (one delete + one add) — ONLY the
    // xor digest catches it
    assert(out(("coarse", 0L)) == ((100L, 100L)))
    assert(out.size == 4)
    // drill-down: every changed fine bucket has a changed coarse parent
    out.keys.filter(_._1 == "fine").foreach { case (_, b) =>
      assert(out.contains(("coarse", b * 16L / 256L)))
    }
  }

  test("kAnonGeneralize: finest safe rung per doc, drop and suppress arms") {
    import TestSpark.spark.implicits._
    def doc(id: Long, lang: String, src: String, n: Long) =
      (id, s"doc $id", lang, src, n)
    val docs = (
      (1L to 6L).map(i => doc(i, "en", "s", 10L * i)) ++         // b0=0, k0=6
      (11L to 13L).map(i => doc(i, "en", "s", 110L)) ++          // b0=1: k0=3, k1=9
      Seq(805L, 905L, 1005L, 1105L, 1205L).zipWithIndex.map {    // k3(b3=1)=5
        case (n, i) => doc(20L + i, "en", "s", n) } ++
      (31L to 32L).map(i => doc(i, "en", "s", 1700L)) ++         // only k_all>=5
      Seq(doc(40L, "de", "s2", 50L))                             // suppressed
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = operators.Governance.kAnonGeneralize(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(3),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5)))).toMap
    (1L to 6L).foreach(i => assert(out(i) == (("w100", 0L, 6L))))
    (11L to 13L).foreach(i => assert(out(i) == (("w200", 0L, 9L))))
    // the five spread docs only stabilize at the 800-wide rung
    (20L to 24L).foreach(i => assert(out(i) == (("w800", 800L, 5L))))
    // 1700-char pair: every length rung is under k, lang x source is not
    (31L to 32L).foreach(i => assert(out(i) == (("len_dropped", -1L, 16L))))
    // singleton cell: suppressed outright, nothing released
    assert(out(40L) == (("suppressed", -1L, -1L)))
  }
}
