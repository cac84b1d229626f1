package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import graft.operators.Sketches

/** Specs for the sketch-shaped aggregates: log2-histogram percentiles
  * (q129) and the HLL-style distinct sketch (q132). */
class SketchesSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import TestSpark.spark.implicits._

  test("logHistPercentiles: bucket cumulative reads give power-of-2 floors") {
    // durations 1,2,3,4,8,100 → buckets 1,2,2,3,4,7; n=6
    // cum: b1=1 b2=3 b3=4 b4=5 b7=6; thr50=3→b2, thr95=6→b7, thr99=6→b7
    val parsed = Seq(
      ("e", Some(1L)), ("e", Some(2L)), ("e", Some(3L)), ("e", Some(4L)),
      ("e", Some(8L)), ("e", Some(100L)),
      ("e", None), ("e", Some(0L)),       // excluded: null and < 1
      ("noDur", None))                    // excluded entirely (no durations)
      .toDF("name", "duration")
    val out = Sketches.logHistPercentiles(parsed).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getString(0) == "e")
    assert(r.getLong(1) == 6L)
    assert(r.getLong(2) == 2L)    // p50: bucket 2 → 2^1
    assert(r.getLong(3) == 64L)   // p95: bucket 7 → 2^6
    assert(r.getLong(4) == 64L)   // p99
  }

  test("hllDistinct: register math is consistent and the estimate lands") {
    // 500 distinct conversations under one event name; m=64 → expected
    // relative error ~1.04/sqrt(64) = 13%; assert within 40%.
    val parsed = (1 to 500).flatMap(i => Seq.fill(3)(("e", f"conv_$i%06d")))
      .toDF("name", "conv_id")
    val out = Sketches.hllDistinct(parsed).collect()
    assert(out.length == 1)
    val r = out(0)
    val (exact, nonzero, sumPow, est) =
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(exact == 500L)
    assert(nonzero > 0L && nonzero <= 64L)
    // sum_pow always carries 64 registers' worth of 2^(25-m) terms
    assert(sumPow > 0L && sumPow <= 64L * 33554432L)
    assert(math.abs(est - exact) <= 200L, s"est=$est too far from 500")
    // duplicates don't move the sketch: same distinct set → same output
    val again = Sketches.hllDistinct(
      (1 to 500).map(i => ("e", f"conv_$i%06d")).toDF("name", "conv_id"))
      .collect()(0)
    assert(again.getLong(3) == sumPow && again.getLong(4) == est)
  }

  test("hllDistinct: one plan branch over the input feeds the registers and the exact count") {
    val dir = "/tmp/graft_sketches_spec_hll"
    (1 to 500).flatMap(i => Seq.fill(2)((s"e${i % 3}", f"conv_$i%06d")))
      .toDF("name", "conv_id").write.mode("overwrite").parquet(dir)
    val out = Sketches.hllDistinct(spark.read.parquet(dir))
    def plan = out.queryExecution.executedPlan
    def scans = collect(plan) { case s: FileSourceScanExec => s }.size
    assert(scans == 1, plan) // as planned; a second branch would scan again
    assert(out.collect().map(_.getLong(1)).sum == 500L)
    // as run: no branch for AQE to fold into a reused exchange, no join
    assert(scans == 1, plan)
    assert(collect(plan) { case e: ReusedExchangeExec => e }.isEmpty, plan)
    assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty, plan)
  }

  test("hllDistinct: null keys count neither as a distinct key nor as a register") {
    val keys = Seq(Some("c1"), Some("c2"), Some("c3"), Some("c2"))
    val withNulls = (keys ++ Seq(None, None)).map(k => ("e", k)).toDF("name", "conv_id")
    val plain = keys.map(k => ("e", k)).toDF("name", "conv_id")
    assert(Sketches.hllRegs(withNulls).filter(col("reg").isNull).count() == 0L)
    val r = Sketches.hllDistinct(withNulls).collect()
    assert(r.length == 1 && r(0).getLong(1) == 3L)
    // the sketch sees exactly what it sees without the null rows
    assert(r.toSeq == Sketches.hllDistinct(plain).collect().toSeq)
    // a name whose every key is null has nothing to sketch
    val allNull = Seq(("n", None: Option[String])).toDF("name", "conv_id")
    assert(Sketches.hllDistinct(allNull).count() == 0L)
  }

  test("hllRegs merge: element-wise max of shard tables equals the full table") {
    val half1 = (1 to 250).map(i => ("e", f"conv_$i%06d")).toDF("name", "conv_id")
    val half2 = (200 to 500).map(i => ("e", f"conv_$i%06d")).toDF("name", "conv_id")
    val full = (1 to 500).map(i => ("e", f"conv_$i%06d")).toDF("name", "conv_id")
    val merged = Sketches.hllMergeRegs(
      Sketches.hllRegs(half1), Sketches.hllRegs(half2))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val direct = Sketches.hllRegs(full)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == direct)   // fold-by-day == recompute-from-scratch
  }

  test("hllSetOps: exact columns exact; union estimate equals the sketch " +
    "of the concatenation; inclusion-exclusion stays in the error band") {
    val a = (1 to 300).map(i => f"conv_$i%06d").toDF("conv_id")
    val b = (200 to 500).map(i => f"conv_$i%06d").toDF("conv_id")
    val r = Sketches.hllSetOps(a, b).collect()(0)
    assert(r.getAs[Long]("exact_a") == 300L)
    assert(r.getAs[Long]("exact_b") == 301L)
    assert(r.getAs[Long]("exact_union") == 500L)
    assert(r.getAs[Long]("exact_intersect") == 101L)
    // union registers = max-merge ⇒ identical to sketching a ++ b directly
    val direct = Sketches.hllDistinct(
      a.unionByName(b).withColumn("name", lit("u"))).collect()(0)
      .getAs[Long]("hll_est")
    assert(r.getAs[Long]("est_union") == direct)
    // m=64 ⇒ σ ≈ 13%; assert each estimate within 40% of its exact twin
    for ((e, x) <- Seq("est_a" -> 300L, "est_b" -> 301L, "est_union" -> 500L))
      assert(math.abs(r.getAs[Long](e) - x) <= (x * 2) / 5, s"$e off: $r")
    assert(r.getAs[Long]("est_intersect") >= 0L)
  }

  test("cmsMerge: cell-wise sum of shard tables equals the full table") {
    val mk = (lo: Int, hi: Int) => (lo to hi).map(i => s"row value $i")
      .toDF("text").select(Sketches.templateKey(col("text")).as("tkey"))
    val merged = Sketches.cmsMerge(
      Sketches.cmsCounterTable(mk(1, 250)), Sketches.cmsCounterTable(mk(251, 500)))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val direct = Sketches.cmsCounterTable(mk(1, 500))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == direct)   // fold-by-batch == recompute-from-scratch
  }

  test("cmsHeavyHitters: estimates never undercount; hot template leads") {
    // digit runs normalize away: "hot row 1"/"hot row 2" are ONE template
    val rows = Seq.fill(15)("hot row 1") ++ Seq.fill(15)("hot row 2") ++
      Seq.fill(5)("warm row 22") ++ Seq.fill(3)("cold row 333") ++
      ('a' to 'y').map(c => s"unique filler $c")   // 25 distinct templates
    val t = rows.toDF("text")
    val out = Sketches.cmsHeavyHitters(t).collect()
    assert(out.length == 20)                     // topK probe set
    out.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1))       // CMS never undercounts
      assert(r.getLong(3) >= 0L)                 // over_permille
    }
    val top = out.maxBy(_.getLong(1))
    assert(top.getLong(1) == 30L)                // normalized hot template
    assert(out.map(_.getLong(1)).sorted.reverse.take(3).toSeq == Seq(30L, 5L, 3L))
  }

  test("hllDistinct: registers split by event name independently, and the " +
    "linear-counting correction makes tiny counts exact") {
    val parsed = Seq(("a", "c1"), ("a", "c2"), ("b", "c1"))
      .toDF("name", "conv_id")
    val out = Sketches.hllDistinct(parsed).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("a").getLong(1) == 2L && out("b").getLong(1) == 1L)
    // sub-m regime → linear counting: floor(64·ln(64/V)) with V=62 → 2,
    // V=63 → 1 (assuming no register collision among the 2 keys)
    if (out("a").getLong(2) == 2L) assert(out("a").getLong(4) == 2L)
    assert(out("b").getLong(2) == 1L && out("b").getLong(4) == 1L)
  }

  test("bloom: no false negatives, near-zero FPs at low fill, and the " +
    "word-table merge equals the rebuild") {
    val a = (1 to 5).map(i => s"member_a_$i").toDF("key")
    val b = (1 to 5).map(i => s"member_b_$i").toDF("key")
    val both = a.unionByName(b)
    // merge property: bit_or of shard tables == table of the union
    val merged = Sketches.bloomMerge(
      Sketches.bloomWordTable(a, "key"), Sketches.bloomWordTable(b, "key"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = Sketches.bloomWordTable(both, "key")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == direct)
    // no false negatives: every inserted key probes true
    val row = Sketches.bloomRow(Sketches.bloomWordTable(both, "key"))
    val members = Sketches.bloomProbe(both, "key", row).collect()
    assert(members.forall(_.getBoolean(1)), "bloom false negative")
    // 10 keys set ≤40 of 65536 bits: P(any of 200 non-members probing
    // all-4-bits-set) < 1e-10, and md5 makes the outcome deterministic
    val nonMembers = (1 to 200).map(i => s"outsider_$i").toDF("key")
    val probed = Sketches.bloomProbe(nonMembers, "key", row).collect()
    assert(probed.forall(!_.getBoolean(1)), "unexpected FP at near-zero fill")
  }

  test("bloomPrefilter: planted cross-stratum duplicate needs verify; " +
    "novel batch doc does not") {
    val shared = (1 to 30).map(i => s"tok$i").mkString(" ")
    val novel = (1 to 30).map(i => s"other$i word$i").mkString(" ")
    val docs = Seq(
      (2L, shared),              // index side (even)
      (3L, shared),              // batch side: true duplicate of doc 2
      (5L, novel)                // batch side: nothing in common
    ).toDF("doc_id", "text")
    val out = Sketches.bloomPrefilter(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(3L, 5L))
    val dup = out(3L)
    assert(dup.getLong(2) == dup.getLong(1), "all dup shingles must probe maybe")
    assert(dup.getLong(3) == dup.getLong(1), "all dup shingles are true members")
    assert(dup.getBoolean(5), "duplicate doc must be routed to verify")
    val fresh = out(5L)
    assert(fresh.getLong(3) == 0L, "novel doc shares no true shingles")
    // n_maybe - n_true == n_false_pos by construction
    out.values.foreach(r => assert(r.getLong(4) == r.getLong(2) - r.getLong(3)))
  }

  test("sourceOverlapMatrix: identical sources overlap fully, disjoint ones barely") {
    // 'a' and 'b' share ALL content (identical register tables -> union ==
    // per-side estimate -> 1000 permille); 'z' is disjoint vocabulary
    val docs = (
      (0L until 40L).map(i => (i, "a", s"shared document number $i body")) ++
      (0L until 40L).map(i => (i + 100L, "b", s"shared document number $i body")) ++
      (0L until 40L).map(i => (i + 200L, "z", s"completely different corpus item $i"))
    ).toDF("doc_id", "source", "text")
    val out = Sketches.sourceOverlapMatrix(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(out.keySet == Set(("a", "b"), ("a", "z"), ("b", "z")))
    val ab = out(("a", "b"))
    assert(ab._1 == ab._2 && ab._3 == ab._1, "identical content: union == side")
    assert(ab._5 == 1000L, "full containment")
    assert(out(("a", "z"))._5 < 1000L && out(("b", "z"))._5 < 1000L)
    // union of disjoint sources must exceed either side's estimate
    assert(out(("a", "z"))._3 > out(("a", "z"))._1)
  }

  test("kmvSetOps: identical sources intersect fully, disjoint ones at zero") {
    // 'a' and 'b' carry IDENTICAL content (same hash sets -> sketch
    // jaccard 1000, intersection == union == side estimate, diff 0);
    // 'z' is disjoint (jaccard 0, intersection 0, diff == est_a).
    val docs = (
      (0L until 50L).map(i => (i, "a", s"shared document number $i body")) ++
      (0L until 50L).map(i => (i + 100L, "b", s"shared document number $i body")) ++
      (0L until 50L).map(i => (i + 200L, "z", s"completely different corpus item $i"))
    ).toDF("doc_id", "source", "text")
    val out = Sketches.kmvSetOps(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7)))).toMap
    assert(out.keySet == Set(("a", "b"), ("a", "z"), ("b", "z")))
    val (estA, estB, estU, jac, estI, diffA) = out(("a", "b"))
    assert(estA == estB && estU == estA, "identical content: union == side")
    assert(jac == 1000L && estI == estU && diffA == 0L)
    val az = out(("a", "z"))
    assert(az._4 == 0L && az._5 == 0L, "disjoint: jaccard and intersect 0")
    assert(az._6 == az._1, "disjoint: difference is the whole side")
    assert(az._3 > az._1, "union exceeds either disjoint side")
  }

  test("hllRollingDistinct: exact 7-day rollups, estimate lands, gaps age out") {
    // 10 calendar days, 10 fresh conversations per day, with day 5 MISSING
    // (ingestion gap): rolling exact = 10·(days observed in [d-6, d])
    val rows = for {
      d <- 0 to 10 if d != 5
      c <- 0 until 10
    } yield (s"conv-$d-$c", d)
    val df = rows.toDF("conv_id", "d")
      .withColumn("ts", timestamp_seconds(col("d") * 86400L + 3600L))
      .drop("d")
    val out = Sketches.hllRollingDistinct(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(4), r.getLong(5))))
      .toMap
    assert(out.size == 10)               // only observed days emit a row
    // window [d-6, d]: day 4 sees days 0-4 (50); day 10 sees [4..10] minus
    // the missing 5 => {4,6,7,8,9,10} = 60; day 6 sees {0,1,2,3,4,6} = 60
    assert(out(4L)._1 == 50L && out(10L)._1 == 60L && out(6L)._1 == 60L)
    // estimates stay honest (64-register HLL on <=70 keys: small-range
    // linear counting territory, well under 40% error)
    out.values.foreach { case (_, _, err) => assert(err < 400L, s"err=$err") }
    // rolling distinct never drops below the densest single day (10)
    out.values.foreach { case (exact, est, _) =>
      assert(exact >= 10L && est >= 5L)
    }
  }

  test("kmvSketch/kmvEstimates: exact below k, order-stat estimate near truth above") {
    // 10 distinct values (< k=32): the sketch IS the value set, estimate
    // exact; 5000 distinct values: estimate within 40% (k=32 -> ~18% rel err)
    val small = (0L until 10L).map(i => (i, "s", s"tiny $i"))
      .toDF("doc_id", "source", "text")
    val es = Sketches.kmvEstimates(Sketches.kmvSketch(small)).collect()(0)
    assert(es.getLong(1) == 10L && es.getAs[Long]("kmv_est") == 10L)
    val big = (0L until 5000L).map(i => (i, "b", s"corpus document $i"))
      .toDF("doc_id", "source", "text")
    val eb = Sketches.kmvEstimates(Sketches.kmvSketch(big)).collect()(0)
    val est = eb.getAs[Long]("kmv_est")
    assert(math.abs(est - 5000L) < 2000L, s"est=$est too far from 5000")
    // duplicates never move the sketch
    val dup = big.unionByName(big)
    val ed = Sketches.kmvEstimates(Sketches.kmvSketch(dup)).collect()(0)
    assert(ed.getAs[Long]("kmv_est") == est)
  }

  test("amsF2: sums match a first-principles recompute; mean estimate " +
    "lands within 2x of exact on the tiny corpus") {
    val docs = TestSpark.spark.read.parquet(s"$tiny/documents.parquet")
    val P = 1000000007L
    def tokHash(t: String): Long =
      t.codePoints().toArray.foldLeft(7L)((a, c) => (a * 31 + c) % P)
    val insts = docs.collect().flatMap(r =>
      r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty)
        .map(tokHash))
    val expS = (0 until 8).map { h =>
      val m = 2L * h + 3L
      insts.map(t => if (java.lang.Long.bitCount(t * m % 1048576L) % 2 == 0)
        1L else -1L).sum
    }
    val expF2 = insts.groupBy(identity).values
      .map(g => BigInt(g.length) * g.length).sum
    val expMean = expS.map(s => BigInt(s) * s).sum / 8
    val out = operators.Sketches.amsF2(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size == 8)
    (0 until 8).foreach { h =>
      val r = out(h.toLong)
      assert(r.getLong(1) == expS(h), s"S_$h")
      assert(r.getLong(2) == (BigInt(expS(h)) * expS(h)).toLong)
      assert(r.getLong(3) == expF2.toLong)
      assert(r.getLong(4) == expMean.toLong)
      assert(r.getLong(6) ==
        ((expMean - expF2).abs * 1000000 / expF2).toLong)
    }
    // the unbiased mean-of-squares summary is within 2× of exact here
    assert(out(0L).getLong(6) < 1000000L,
      s"mean err ${out(0L).getLong(6)} ppm")
  }
}
