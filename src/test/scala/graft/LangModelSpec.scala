package graft

import graft.text.{LangModel, TextAnalysis}

/** Specs for the LM-quality / tokenizer-mining / repetition operators
  * (q134–q136). */
class LangModelSpec extends SparkSpec {
  import TestSpark.spark.implicits._

  test("lmScore: mean conditional bigram probability, pruned pairs score 0") {
    // pair counts: (x,y)=3 (y,x)=2 (q,r)=1; prefix counts x=3 y=2 q=1
    // d0 pairs: xy yx xy yx xy -> pp = 3000 DIV 3 = 1000, 2000 DIV 2 = 1000
    // d1 pair qr pruned at minCount=2 -> pp=0
    val docs = Seq((0L, "x y x y x y"), (1L, "q r")).toDF("doc_id", "text")
    val out = LangModel.lmScore(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getLong(1) == 5L)
    assert(out(0L).getLong(2) == 1000L)
    assert(out(1L).getLong(1) == 1L && out(1L).getLong(2) == 0L)
    // a doc mixing seen and unseen continuations averages between them:
    // corpus2 pairs: ab=2, bc=1 -> d3 pps = 1000, 0 -> 500
    val docs2 = Seq((2L, "a b"), (3L, "a b c")).toDF("doc_id", "text")
    val out2 = LangModel.lmScore(docs2).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out2(3L) == 500L)
  }

  test("lmScore: docs with fewer than two tokens are omitted") {
    val docs = Seq((0L, "only"), (1L, ""), (2L, "two words two words"))
      .toDF("doc_id", "text")
    val ids = LangModel.lmScore(docs).select("doc_id").as[Long].collect()
    assert(ids.toSet == Set(2L))
  }

  test("bpeTopPairs: per-lang char-pair counts, rank by count then pair") {
    // en: aaab -> aa,aa,ab ; aab -> aa,ab  => aa:3 ab:2
    // de: zz zz => zz:2
    val docs = Seq(("en", "aaab aab"), ("de", "zz zz")).toDF("lang", "text")
    val out = LangModel.bpeTopPairs(docs).collect()
      .map(r => (r.getString(0), r.getInt(3)) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(out(("en", 1)) == ("aa", 3L))
    assert(out(("en", 2)) == ("ab", 2L))
    assert(out(("de", 1)) == ("zz", 2L))
    assert(out.size == 3)
  }

  test("bpeTopPairs: equal counts tie-break on pair ascending") {
    val docs = Seq(("en", "ab cd ab cd")).toDF("lang", "text")
    val rows = LangModel.bpeTopPairs(docs).orderBy("rank").collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("ab", "cd"))
  }

  test("scale shapes: lmScore joins are equi-joins, repetition is map-only") {
    val docs = Seq((0L, "a b c"), (1L, "a b d")).toDF("doc_id", "text")
    val lmPlan = computedPlan(LangModel.lmScore(docs))
    assert(!lmPlan.contains("CartesianProduct"))
    // repetitionStats must stay a pure projection: no exchange at all
    val repPlan = TextAnalysis.repetitionStats(docs)
      .queryExecution.executedPlan.toString
    assert(!repPlan.contains("Exchange"))
  }

  test("charClassProfile: class permilles sum to ~1000, distinct chars counted") {
    val docs = Seq((0L, "ab 12!"), (1L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.charClassProfile(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    val d0 = out(0L)   // 6 chars: 2 alpha, 2 digit, 1 space, 1 other
    assert(d0.getLong(1) == 6L && d0.getLong(2) == 6L)
    assert(d0.getLong(3) == 333L && d0.getLong(4) == 333L)
    assert(d0.getLong(5) == 166L && d0.getLong(6) == 166L)
    val d1 = out(1L)   // empty text: all zero, no division blowup
    assert((1 to 6).forall(i => d1.getLong(i) == 0L))
  }

  test("repetitionStats: dup permilles over tokens and shingles") {
    // 9 tokens, 3 distinct -> 666; 7 shingles, 3 distinct -> 571
    val docs = Seq((0L, "a b c a b c a b c"), (1L, "x")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    val d0 = out(0L)
    assert(d0.getLong(1) == 9L && d0.getLong(2) == 3L)
    assert(d0.getLong(3) == 666L)
    assert(d0.getLong(4) == 7L && d0.getLong(5) == 571L)
    val d1 = out(1L)  // 1 token, 0 shingles: no division blowup
    assert(d1.getLong(1) == 1L && d1.getLong(3) == 0L)
    assert(d1.getLong(4) == 0L && d1.getLong(5) == 0L)
  }

  /** Independent greedy-leftmost BPE merge reference. */
  private def bpeRef(syms: Seq[String], x: String, y: String): Seq[String] =
    syms.foldLeft(Vector.empty[String]) { (acc, s) =>
      if (acc.nonEmpty && acc.last == x && s == y) acc.init :+ (x + y)
      else acc :+ s
    }

  test("bpeMergeFold matches the reference, including x == y run parity") {
    import org.apache.spark.sql.functions._
    val cases = Seq(
      ("banana", ("a", "n")),   // b an an a
      ("aaaa", ("a", "a")),     // aa aa — even run
      ("aaa", ("a", "a")),      // aa a  — odd run: leftmost wins
      ("xyxy", ("x", "y")),     // xy xy — non-adjacent repeats
      ("xxy", ("x", "y")),      // x xy  — rule matches mid-run
      ("zzz", ("a", "b")))      // no-op
    val df = cases.map(_._1).toDF("tok")
      .withColumn("syms", split(col("tok"), ""))
    cases.foreach { case (tok, (x, y)) =>
      val got = df.filter(col("tok") === tok)
        .select(LangModel.bpeMergeFold(
          filter(col("syms"), c => c =!= ""), x, y))
        .collect()(0).getSeq[String](0)
      val want = bpeRef(tok.split("").toSeq.filter(_.nonEmpty), x, y)
      assert(got == want, s"merge ($x,$y) on '$tok': $got != $want")
    }
  }

  test("bpeMergeFold fuzz: random tokens x random rules (incl. x==y) " +
    "match the reference") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(153)
    val alphabet = "ab"
    val cases = (0 until 60).map { i =>
      val tok = Seq.fill(1 + rnd.nextInt(12))(
        alphabet(rnd.nextInt(alphabet.length)).toString).mkString
      val x = alphabet(rnd.nextInt(alphabet.length)).toString
      val y = alphabet(rnd.nextInt(alphabet.length)).toString
      (i, tok, x, y)
    }
    val df = cases.map { case (i, t, _, _) => (i, t) }.toDF("i", "tok")
    cases.groupBy { case (_, _, x, y) => (x, y) }.foreach {
      case ((x, y), group) =>
        val ids = group.map(_._1).toSet
        val got = df.filter(col("i").isin(ids.toSeq: _*))
          .select(col("i"), LangModel.bpeMergeFold(
            filter(split(col("tok"), ""), c => c =!= ""), x, y))
          .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
        group.foreach { case (i, tok, _, _) =>
          val want = bpeRef(tok.split("").toSeq.filter(_.nonEmpty), x, y)
          assert(got(i) == want, s"rule ($x,$y) on '$tok': ${got(i)} != $want")
        }
    }
  }

  test("bpeEncodeStats: layered merges compress and the stats are exact") {
    // 'craters': e+r -> er, then er+s -> ers: c r a t ers = 5 symbols
    // 'inner':   i+n -> in, e+r -> er:        in n er     = 3 symbols
    // 'stow':    s+t -> st, o+w -> ow:        st ow       = 2 symbols
    val docs = Seq((1L, "craters inner", "en"), (2L, "stow", "en"))
      .toDF("doc_id", "text", "lang")
    val out = LangModel.bpeEncodeStats(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(2) == 12L)  // chars: 7 + 5
    assert(out(1L).getLong(3) == 8L)   // symbols: 5 + 3
    assert(out(1L).getLong(4) == 666L)
    assert(out(2L).getLong(2) == 4L && out(2L).getLong(3) == 2L)
    assert(out(2L).getLong(4) == 500L)
  }

  test("qualityZ: histogram median equals the exact percentile; z framing holds") {
    import org.apache.spark.sql.functions._
    import TestSpark.spark.implicits._
    val docs = (0L until 60L).map { i =>
      (i, if (i % 2 == 0) "en" else "de",
        s"word$i other${i % 7} thing${i % 3} filler${i % 11}")
    }.toDF("doc_id", "lang", "text")
    val out = graft.text.CorpusOps.qualityZ(docs)
    val rows = out.collect()
    // independent median: exact percentile over the same logits
    val exact = out.select("lang", "logit_x1e3")
      .groupBy("lang")
      .agg((expr("percentile(logit_x1e3, 0.5)") * 2).cast("long").as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(3) == exact(r.getString(1)),
        "histogram med_x2 must equal the exact interpolated median")
      val dev = math.abs(r.getLong(2) * 2 - r.getLong(3))
      assert(r.getLong(5) == dev * 2 * 1000 / math.max(r.getLong(4), 1L))
      assert(r.getBoolean(6) == (r.getLong(2) * 2 > r.getLong(3)))
    }
    // medX2FromHist on a hand histogram: values 1,2,2,5 -> median (2+2)/2
    val hist = Seq(("k", 1L, 1L), ("k", 2L, 2L), ("k", 5L, 1L))
      .toDF("lang", "v", "cnt")
    val m = graft.text.CorpusOps.medX2FromHist(hist, "lang", "v")
      .collect().head.getLong(1)
    assert(m == 4L)
  }

  test("collocations: lift ranks the glued pair above the frequent one") {
    import TestSpark.spark.implicits._
    // "x y" always together (5×); "f f" frequent but f is everywhere
    val docs = ((1 to 5).map(i => (i.toLong, "x y")) :+
      (6L, "f f f f f f")).toDF("doc_id", "text")
    val out = graft.text.LangModel.collocations(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))).toMap
    // N=16: lift(x,y) = 5·16·1000 DIV 25 = 3200; lift(f,f) = 5·16·1000
    // DIV 36 = 2222
    assert(out(1L) == (("x", "y", 5L, 3200L)))
    assert(out(2L) == (("f", "f", 5L, 2222L)))
    assert(out.size == 2, "pairs under min support stay out")
  }

  test("fertility: splintering text scores high, plain words at 1000") {
    import TestSpark.spark.implicits._
    // en: "hello world" -> 2 ws tokens, 2 bpe sub-tokens -> fertility 1000
    // xx: "a-b c.d" -> 2 ws tokens, 6 bpe sub-tokens (a,-,b / c,.,d) -> 3000
    val docs = Seq((1L, "hello world", "en"), (2L, "a-b c.d", "xx"))
      .toDF("doc_id", "text", "lang")
    val out = graft.text.LangModel.fertility(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(out("en") == ((1L, 2L, 2L, 11L, 1000L, 5500L)))
    assert(out("xx") == ((1L, 2L, 6L, 7L, 3000L, 1166L)))
  }
}
