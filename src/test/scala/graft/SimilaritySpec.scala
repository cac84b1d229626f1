package graft

import org.apache.spark.sql.functions._
import graft.ann.Similarity
import graft.multimodal.Multimodal

class SimilaritySpec extends SparkSpec {
  import TestSpark.spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),   // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),   // orthogonal to 0
    (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f)),  // opposite of 0
    (50L, Array(0.0f, 0.0f, 1.0f, 1.0f))
  ).toDF("vec_id", "embedding")

  test("VecDotParity: fused dot is bit-identical to the declarative " +
    "HOF fold over the corpus and adversarial shapes") {
    import TestSpark.spark.implicits._
    // corpus self- and cross-pairs (float×float), float×double (the LSH
    // plane shape), plus adversarial: length mismatch → null, null
    // element → null, empty arrays → 0.0
    val embs = TestSpark.spark.read.parquet(s"$tiny/embeddings.parquet")
    val pairs = embs.select(col("vec_id"), col("embedding").as("a"))
      .crossJoin(embs.filter(col("vec_id") % 37 === 0)
        .select(col("embedding").as("b")))
    def both(df: org.apache.spark.sql.DataFrame,
             a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      df.select(Similarity.dot(a, b).as("fused"),
          Similarity.dotDeclarative(a, b).as("decl"))
        .collect().map(r => (Option(r.get(0)), Option(r.get(1))))
    val corpus = both(pairs, col("a"), col("b"))
    assert(corpus.nonEmpty && corpus.forall { case (f, d) => f == d },
      "corpus float×float mismatch")
    val plane = org.apache.spark.sql.functions.array(
      Similarity.planeComponents(3, 64).map(v => lit(v.toDouble)): _*)
    val vsPlane = both(embs, col("embedding"), plane)
    assert(vsPlane.forall { case (f, d) => f == d }, "float×double mismatch")
    val adv = Seq(
      (Array(1.0f, 2.0f), Array(3.0f, 4.0f, 5.0f)),      // length mismatch
      (Array(1.0f, 2.0f), Array(3.0f, 4.0f)),
      (Array.empty[Float], Array.empty[Float])            // empty → 0.0
    ).toDF("a", "b")
    val advRes = both(adv, col("a"), col("b"))
    assert(advRes(0) == ((None, None)), "length mismatch must be null")
    assert(advRes(1) == ((Some(11.0), Some(11.0))))
    assert(advRes(2) == ((Some(0.0), Some(0.0))))
    // null element → null, both forms
    val withNull = Seq(1).toDF("x").select(
      array(lit(1.0f), lit(null).cast("float")).as("a"),
      array(lit(2.0f), lit(3.0f)).as("b"))
    val nres = both(withNull, col("a"), col("b"))
    assert(nres(0) == ((None, None)), "null element must be null")
  }

  test("VecCosParity: fused cosine is bit-identical to the composed " +
    "dot/norm form over the corpus and adversarial shapes") {
    import TestSpark.spark.implicits._
    val embs = TestSpark.spark.read.parquet(s"$tiny/embeddings.parquet")
    val pairs = embs.select(col("vec_id"), col("embedding").as("a"))
      .crossJoin(embs.filter(col("vec_id") % 37 === 0)
        .select(col("embedding").as("b")))
    def both(df: org.apache.spark.sql.DataFrame,
             a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      df.select(Similarity.cosine(a, b).as("fused"),
          Similarity.cosineDeclarative(a, b).as("decl"))
        .collect().map(r => (Option(r.get(0)), Option(r.get(1))))
    val corpus = both(pairs, col("a"), col("b"))
    assert(corpus.nonEmpty && corpus.forall { case (f, d) => f == d },
      "corpus float×float mismatch")
    val plane = org.apache.spark.sql.functions.array(
      Similarity.planeComponents(3, 64).map(v => lit(v.toDouble)): _*)
    val vsPlane = both(embs, col("embedding"), plane)
    assert(vsPlane.forall { case (f, d) => f == d }, "float×double mismatch")
    val adv = Seq(
      (Array(1.0f, 2.0f), Array(3.0f, 4.0f, 5.0f)),      // length mismatch
      (Array(3.0f, 4.0f), Array(3.0f, 4.0f)),            // self → 1.0 plane
      (Array(0.0f, 0.0f), Array(3.0f, 4.0f)),            // zero vector
      (Array.empty[Float], Array.empty[Float])            // empty arrays
    ).toDF("a", "b")
    val advRes = both(adv, col("a"), col("b"))
    assert(advRes(0) == ((None, None)), "length mismatch must be null")
    assert(advRes(1)._1 == advRes(1)._2 && advRes(1)._1.contains(1.0))
    // zero denominator: non-ANSI Divide → null; the fused kernel must
    // reproduce that, NOT IEEE NaN
    assert(advRes(2) == ((None, None)), "zero vector must be null")
    assert(advRes(3) == ((None, None)), "empty arrays must be null")
    // null element → null, both forms
    val withNull = Seq(1).toDF("x").select(
      array(lit(1.0f), lit(null).cast("float")).as("a"),
      array(lit(2.0f), lit(3.0f)).as("b"))
    val nres = both(withNull, col("a"), col("b"))
    assert(nres(0) == ((None, None)), "null element must be null")
  }

  test("VecSqDistParity: fused long sq-dist is bit-identical to the " +
    "declarative HOF fold over quantized pairs and adversarial shapes") {
    import TestSpark.spark.implicits._
    val q = TestSpark.spark.read.parquet(s"$tiny/embeddings.parquet")
      .select(col("vec_id"), org.apache.spark.sql.functions.transform(
        col("embedding"),
        x => floor(x.cast("double") * 1000000.0).cast("long")).as("q"))
    val pairs = q.select(col("q").as("a"))
      .crossJoin(q.filter(col("vec_id") % 37 === 0).select(col("q").as("b")))
    def both(df: org.apache.spark.sql.DataFrame,
             a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      df.select(ann.VecSqDist.sqDistFused(a, b).as("fused"),
          ann.PQ.l2sqDeclarative(a, b).as("decl"))
        .collect().map(r => (Option(r.get(0)), Option(r.get(1))))
    val corpus = both(pairs, col("a"), col("b"))
    assert(corpus.nonEmpty && corpus.forall { case (f, d) => f == d },
      "corpus quantized-pair mismatch")
    val adv = Seq(
      (Array(1L, 2L), Array(3L, 4L, 5L)),               // length mismatch
      (Array(5L, -3L), Array(2L, 4L)),                  // (3)²+(−7)² = 58
      (Array(Long.MaxValue, 0L), Array(-10L, 0L)),      // overflow wraps
      (Array.empty[Long], Array.empty[Long])            // empty → 0
    ).toDF("a", "b")
    val advRes = both(adv, col("a"), col("b"))
    assert(advRes(0) == ((None, None)), "length mismatch must be null")
    assert(advRes(1) == ((Some(58L), Some(58L))))
    assert(advRes(2)._1 == advRes(2)._2, "overflow wrap must agree")
    assert(advRes(3) == ((Some(0L), Some(0L))))
    val withNull = Seq(1).toDF("x").select(
      array(lit(1L), lit(null).cast("long")).as("a"),
      array(lit(2L), lit(3L)).as("b"))
    val nres = both(withNull, col("a"), col("b"))
    assert(nres(0) == ((None, None)), "null element must be null")
  }

  test("PQCollapseParity: collapsed encode and relational adcTopK are " +
    "row-identical to the uncollapsed map-scan forms") {
    import TestSpark.spark.implicits._
    val embs = TestSpark.spark.read.parquet(s"$tiny/embeddings.parquet")
    // corpus parity
    assert(graft.ann.PQ.encode(embs)
      .exceptAll(graft.ann.PQ.encodeDirect(embs)).isEmpty)
    assert(graft.ann.PQ.encodeDirect(embs)
      .exceptAll(graft.ann.PQ.encode(embs)).isEmpty)
    assert(graft.ann.PQ.adcTopK(embs)
      .exceptAll(graft.ann.PQ.adcTopKMapScan(embs)).isEmpty)
    assert(graft.ann.PQ.adcTopKMapScan(embs)
      .exceptAll(graft.ann.PQ.adcTopK(embs)).isEmpty)
    // adversarial: exact clones straddling the k-cut (gapped ids, a clone
    // group spanning the boundary, query inside a clone group) — the
    // retention must keep every tied/boundary group and the self-row
    // exclusion must not shift the cut
    def v(x: Float) = Array.fill(64)(x)
    val adv = Seq(
      0L -> v(0f), 3L -> v(0.1f), 7L -> v(0.1f), 9L -> v(0.1f),
      11L -> v(0.1f), 50L -> v(1f), 53L -> v(0.1f), 60L -> v(0.2f),
      101L -> v(0.2f), 106L -> v(0.9f), 200L -> v(0f)
    ).toDF("vec_id", "embedding")
    val a = graft.ann.PQ.adcTopK(adv, k = 3, queryMod = 53)
    val b = graft.ann.PQ.adcTopKMapScan(adv, k = 3, queryMod = 53)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("VecDotLParity: fused long dot matches the HOF fold; fused " +
    "project is row-identical to the declarative twin over the corpus") {
    import TestSpark.spark.implicits._
    val adv = Seq(
      (Array(1L, 2L), Array(3L, 4L, 5L)),               // length mismatch
      (Array(5L, -3L), Array(2L, 4L)),                  // 10 − 12 = −2
      (Array(Long.MaxValue, 1L), Array(2L, 0L)),        // overflow wraps
      (Array.empty[Long], Array.empty[Long])            // empty → 0
    ).toDF("a", "b")
    def decl(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)
    val advRes = adv.select(ann.VecDotL.dotFused(col("a"), col("b")).as("f"),
        decl(col("a"), col("b")).as("d"))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1))))
    assert(advRes(0) == ((None, None)), "length mismatch must be null")
    assert(advRes(1) == ((Some(-2L), Some(-2L))))
    assert(advRes(2)._1 == advRes(2)._2, "overflow wrap must agree")
    assert(advRes(3) == ((Some(0L), Some(0L))))
    val withNull = Seq(1).toDF("x").select(
      array(lit(1L), lit(null).cast("long")).as("a"),
      array(lit(2L), lit(3L)).as("b"))
    val nres = withNull.select(ann.VecDotL.dotFused(col("a"), col("b")).as("f"),
      decl(col("a"), col("b")).as("d")).collect()(0)
    assert(nres.isNullAt(0) && nres.isNullAt(1), "null element must be null")
    // corpus-level: fused project == declarative project, row-identical
    val embs = TestSpark.spark.read.parquet(s"$tiny/embeddings.parquet")
    val f = graft.ann.RandomProjection.project(embs)
    val d = graft.ann.RandomProjection.projectDeclarative(embs)
    assert(f.exceptAll(d).isEmpty && d.exceptAll(f).isEmpty)
  }

  test("brute-force topk ranks by cosine (query = id 0)") {
    val out = Similarity.bruteTopK(vecs, k = 4, queryMod = 100)
      .filter(col("q_id") === 0).orderBy("rank").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 2L, 50L, 3L))
  }

  test("lsh buckets put identical vectors together, opposite apart") {
    val b = Similarity.buckets(vecs, dim = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(0L) != b(3L)) // opposite vectors differ in every plane with nonzero dot
  }

  test("bucketed topk returns only same-bucket neighbors") {
    val out = Similarity.bucketedTopK(vecs, k = 4, queryMod = 100, dim = 4)
    val buckets = Similarity.buckets(vecs, dim = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.collect().foreach { r =>
      assert(buckets(r.getLong(0)) == buckets(r.getLong(1)))
    }
  }

  test("near-dup pairs finds hamming<=1 bucket neighbors, each pair once") {
    val out = Similarity.nearDupPairs(vecs, thresholdPermille = 900, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // ids 0 and 1 are near-identical → same bucket → must be found, once
    assert(out.count(_ == (0L, 1L)) == 1)
    // opposite vectors (0 vs 3) are below threshold regardless of buckets
    assert(!out.contains((0L, 3L)))
  }

  test("IVF assignment puts near-identical vectors in the same cell") {
    // centroidMod=3 makes ids 0 and 3 the centroids; 0 and 1 are nearly
    // parallel so both must land on centroid 0
    val assigned = Similarity.ivfAssign(vecs, centroidMod = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assigned(0L) == assigned(1L))
    assert(assigned(0L) != assigned(3L)) // opposite vector → different cell
  }

  test("media features: byte sums and framing on real binary column") {
    val docs = Seq((1L, "x" * 130, "en", "s", 130L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    implicit val sp = spark
    val f = Multimodal.features(Multimodal.asMedia(docs)).collect()(0)
    assert(f.n_bytes == 130L)
    assert(f.n_frames == 3L)     // ceil(130/64)
    assert(f.first_code == 'x'.toLong)
    assert(f.code_sum_mod == 130L * 'x'.toLong % 1000000007L)
  }

  test("wav header round-trips: LE32/LE16 fields parse back off the bytes") {
    val docs = Seq((1234567L, "audio payload", "en", "s", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Multimodal.parseWavHeader(Multimodal.withWavContainer(docs)).collect()(0)
    assert(r.getLong(1) == 8000L + (1234567L % 5) * 8000L) // sample_rate
    assert(r.getLong(2) == 1L + 1234567L % 2)              // channels
    assert(r.getLong(3) == 13L)                            // payload bytes
    assert(r.getBoolean(4))                                // RIFF/WAVE magic
  }

  test("PQ: codes pick the nearest sub-centroid; ADC ranks by table sums") {
    def v(parts: Float*): Array[Float] =
      parts.flatMap(p => Array.fill(8)(p)).toArray  // 8 comps per subspace
    val pq = Seq(
      0L  -> v(0, 0, 0, 0, 0, 0, 0, 0),   // centroid/code 0 (and query)
      50L -> v(1, 1, 1, 1, 1, 1, 1, 1),   // centroid/code 1
      1L  -> v(0, 0, 0, 0, 1, 1, 1, 1),   // half 0, half 1
      2L  -> v(0.9f, 0.9f, 0.9f, 0.9f, 0.9f, 0.9f, 0.9f, 0.9f) // all code 1
    ).toDF("vec_id", "embedding")
    val codes = graft.ann.PQ.encode(pq).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes(0L) == Seq.fill(8)(0L))
    assert(codes(50L) == Seq.fill(8)(1L))
    assert(codes(1L) == Seq(0L, 0L, 0L, 0L, 1L, 1L, 1L, 1L))
    assert(codes(2L) == Seq.fill(8)(1L))
    // query id 0: id1 (4 matching subspaces) beats the all-code-1 vectors,
    // which tie on ADC distance and break by vec_id (2 before 50)
    val top = graft.ann.PQ.adcTopK(pq, k = 5, queryMod = 100).collect()
      .filter(_.getLong(0) == 0L).sortBy(_.getLong(2)).map(_.getLong(1)).toSeq
    assert(top == Seq(1L, 2L, 50L))
  }

  test("png header round-trips: synthesized BE32 dims parse back off the bytes") {
    val docs = Seq((5000L, "payload", "en", "s", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Multimodal.parsePngHeader(Multimodal.withPngContainer(docs)).collect()(0)
    assert(r.getLong(1) == 5000L % 1920 + 16) // width
    assert(r.getLong(2) == 5000L % 1080 + 16) // height
    assert(r.getLong(3) == 7L)                // payload bytes
    assert(r.getBoolean(4))                   // \x89PNG magic intact
  }

  test("jpeg header: dims parse back through the variable APP0 offset; " +
    "corrupting the length breaks sof_ok, not magic_ok") {
    // two ids → two different pad lengths → two different SOF offsets
    val docs = Seq((5000L, "payload", "en", "s", 7L),
      (5003L, "pp", "en", "s", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Multimodal.parseJpegHeader(Multimodal.withJpegContainer(docs))
      .collect().map(r => r.getLong(0) -> r).toMap
    for (id <- Seq(5000L, 5003L)) {
      val r = out(id)
      assert(r.getLong(1) == id % 1920 + 16)  // width
      assert(r.getLong(2) == id % 1080 + 16)  // height
      assert(r.getLong(3) == id % 13 + 6)     // app0_len
      assert(r.getBoolean(5) && r.getBoolean(6))
    }
    assert(out(5000L).getLong(4) == 7L && out(5003L).getLong(4) == 2L)
    // corrupt the APP0 length field (byte 6 += 1): SOF lookup lands wrong
    val bad = Multimodal.withJpegContainer(docs.limit(1))
      .withColumn("media", expr(
        "concat(substring(media, 1, 5), X'FF', substring(media, 7))"))
    val rb = Multimodal.parseJpegHeader(bad).collect()(0)
    assert(rb.getBoolean(5) && !rb.getBoolean(6))
  }

  test("powerIterationStep: per-dim accumulation matches the hand-computed " +
    "y = sum v·(v·x)") {
    import TestSpark.spark.implicits._
    // probe x(d) = (31d+7) mod 13 - 6 → [1, 6, -2, 3] for d = 0..3
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),   // dot = 1000
      (2L, Array(0.0f, 1.0f, 0.0f, -1.0f)))  // dot = 6000 - 3000 = 3000
      .toDF("vec_id", "embedding")
    val out = graft.ann.RandomProjection.powerIterationStep(vecs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 1000000L, 1L -> 3000000L, 2L -> 0L,
      3L -> -3000000L))
  }

  test("topEigenvector: the loop converges onto a planted dominant " +
    "direction") {
    import TestSpark.spark.implicits._
    // 20 vectors hugging axis 2, light orthogonal noise elsewhere
    val vecs = (0 until 20).map { i =>
      val a = Array.fill(8)(0.02f * ((i * 7) % 5 - 2))
      a(2) = if (i % 2 == 0) 0.9f else -0.9f
      (i.toLong, a)
    }.toDF("vec_id", "embedding")
    val v = graft.ann.RandomProjection.topEigenvector(vecs, iters = 4)
    assert(math.abs(v(2)) > 0.95, s"dominant axis weight ${v(2)}")
    assert(v.zipWithIndex.filter(_._2 != 2).forall(x => math.abs(x._1) < 0.3))
  }

  test("semanticDedup: near-identical vectors drop to the smallest id, no cartesian") {
    import TestSpark.spark.implicits._
    // 10/11/12 near-identical (same bucket, cos≈1); 20 orthogonal-ish noise
    val base = Array.tabulate(64)(j => 1.0f + (j % 3) * 0.01f)
    val vecs = Seq(
      (10L, base), (11L, base.map(_ * 2.0f)), (12L, base.map(_ * 0.5f)),
      (20L, Array.tabulate(64)(j => if (j % 2 == 0) 1.0f else -1.0f)))
      .toDF("vec_id", "embedding")
    val out = graft.ann.Similarity.semanticDedup(vecs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]), r.getBoolean(3)))).toMap
    assert(out(10L) == ((0L, None, true)))
    assert(out(11L) == ((1L, Some(10L), false)))
    assert(out(12L) == ((2L, Some(10L), false)))
    assert(out(20L) == ((0L, None, true)))
    val plan = computedPlan(graft.ann.Similarity.semanticDedup(vecs))
    assert(!plan.contains("CartesianProduct"))
  }

  test("hardNegatives matches an independent recompute and stays in the band") {
    import TestSpark.spark.implicits._
    // deterministic vector families: ids % 4 == 0 get a partly-flipped
    // tail, which lands mid-band cosines inside shared buckets
    val raw = (0L until 40L).map { id =>
      val v = Array.tabulate(8)(j => (1.0 + ((id * 7 + j * 3) % 5) * 0.2).toFloat)
      (id, if (id % 4 == 0)
        v.zipWithIndex.map { case (x, j) => if (j < 4) x else -0.2f * x }
      else v)
    }
    val vecs = raw.toDF("vec_id", "embedding")
    val out = Similarity.hardNegatives(vecs, k = 3, queryMod = 5,
        loPermille = 100, hiPermille = 900, dim = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))

    // independent reimplementation: plain Scala buckets + cosine
    def bucket(v: Array[Float]): Long =
      (0 until Similarity.NumPlanes).map { i =>
        val p = Similarity.planeComponents(i, 8)
        val d = v.zip(p).map { case (x, c) => x.toDouble * c }.sum
        if (d > 0) 1L << i else 0L
      }.sum
    def cosPm(a: Array[Float], b: Array[Float]): Long = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q }.sum
      math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
        * 1000.0).toLong
    }
    val byId = raw.toMap
    val expected = raw.filter(_._1 % 5 == 0).flatMap { case (qid, qv) =>
      raw.filter { case (cid, cv) => cid != qid && bucket(cv) == bucket(qv) }
        .map { case (cid, cv) => (cid, cosPm(qv, cv)) }
        .filter { case (_, c) => c >= 100 && c < 900 }
        .sortBy { case (cid, c) => (-c, cid) }
        .take(3).zipWithIndex
        .map { case ((cid, c), i) => (qid, cid, c, i + 1) }
    }.toSet
    assert(expected.nonEmpty) // the fixture must actually exercise the band
    assert(out.toSet == expected)
    assert(out.forall(r => r._3 >= 100 && r._3 < 900))
  }

  test("ivfCellStats: shares, imbalance factor, hot flag at 2x fair share") {
    import TestSpark.spark.implicits._
    // centroids at ids 0/5/10 (mod 5... centroidMod=5 → 0,5,10); axis-
    // aligned vectors pin the assignment: 7 docs on e1, 1 on e2, 1 on e3
    val vecs = Seq(
      0L -> Array(1f, 0f, 0f), 5L -> Array(0f, 1f, 0f), 10L -> Array(0f, 0f, 1f),
      1L -> Array(1f, 0f, 0f), 2L -> Array(1f, 0f, 0f), 3L -> Array(1f, 0f, 0f),
      4L -> Array(1f, 0f, 0f), 6L -> Array(1f, 0f, 0f), 7L -> Array(1f, 0f, 0f)
    ).toDF("vec_id", "embedding")
    val out = graft.ann.Similarity.ivfCellStats(vecs, centroidMod = 5).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    // t = 9, cells = 3, max = 7 → imbalance = 7*3*1000/9 = 2333
    assert(out(0L) == ((7L, 777L, 2333L, true)))   // 7*3 = 21 > 2*9
    assert(out(5L) == ((1L, 111L, 2333L, false)))
    assert(out(10L) == ((1L, 111L, 2333L, false)))
  }

  test("separationMargin: exact margins on 3-4-5 vectors, per-cell rollup") {
    import TestSpark.spark.implicits._
    // centroids (ids ≡ 0 mod 25) on the axes; members with exact-norm
    // float embeddings so every cosine is a terminating double: (3,4)/5
    // → cos = 0.6/0.8, (5,12)/13 → 5/13 and 12/13
    val vecs = Seq(
      0L -> Array(1f, 0f), 25L -> Array(0f, 1f),
      1L -> Array(3f, 4f),    // cos c25 = 0.8, c0 = 0.6 → margin 200
      3L -> Array(5f, 12f)    // cos c25 = 12/13, c0 = 5/13 → margin 538
    ).toDF("vec_id", "embedding")
    val out = graft.ann.Similarity.separationMargin(vecs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // cell 0: just the centroid itself (margin 1000)
    assert(out(0L) == ((1L, 1000L, 0L)))
    // cell 25: centroid (1000) + (3,4) at 200 + (5,12) at 538 → mean 579
    assert(out(25L) == ((3L, (1000L + 200L + 538L) / 3, 0L)))
  }

  test("kCenterSelect: farthest-point picks the spread corners, not the cluster") {
    import TestSpark.spark.implicits._
    // a dense cluster near the origin plus three far-flung corners: the
    // greedy selection must be seed(min id, in cluster) then the three
    // corners — never a second cluster point — with non-increasing radius
    val cluster = (1L to 20L).map(i =>
      i -> Array(0.001f * i, 0.001f * i))
    val corners = Seq(
      100L -> Array(10f, 0f), 101L -> Array(0f, 10f), 102L -> Array(10f, 10f))
    val vecs = (cluster ++ corners).toDF("vec_id", "embedding")
    val out = graft.ann.Centroids.kCenterSelect(vecs, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(out(0)._2 == 1L && out(0)._3 == 0L, "seed = min vec_id at dist 0")
    assert(out.drop(1).map(_._2).toSet == Set(100L, 101L, 102L),
      s"corners selected, got ${out.toSeq}")
    val radii = out.drop(1).map(_._3)
    assert(radii.sliding(2).forall { case Array(a, b) => b <= a },
      "covering radius non-increasing")
    // determinism: identical rerun
    val again = graft.ann.Centroids.kCenterSelect(vecs, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq == out.toSeq)
  }

  test("ivfRefresh: base-plus-delta fold equals the one-shot full " +
    "rebuild against the base centroids") {
    val embs = TestSpark.spark.read.parquet(s"$tiny/embeddings.parquet")
    val base = embs.filter(col("vec_id") % 3 =!= 0)
    val delta = embs.filter(col("vec_id") % 3 === 0)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getString(2))
    val inc = graft.ann.Similarity.ivfRefresh(base, delta).collect().map(key)
    // full rebuild = refresh with an empty delta over the union, pinned
    // to the SAME base-derived centroids (limit(0) keeps the schema)
    val full = graft.ann.Similarity
      .ivfRefresh(base.unionByName(delta), embs.limit(0),
        centroidSource = Some(base)).collect().map(key)
    assert(inc.nonEmpty && inc.toSet == full.toSet)
  }

  test("mutualTopK: hub pair is reciprocal, the satellite's one-sided " +
    "pick is filtered") {
    import TestSpark.spark.implicits._
    def ang(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    // a(0°) and b(10°) are each other's nearest; c(80°) picks b but b
    // does not pick c back at k=1
    val vecs = Seq((0L, ang(0)), (10L, ang(10)), (20L, ang(80)))
      .toDF("vec_id", "embedding")
    val out = graft.ann.Similarity.mutualTopK(vecs, k = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((0L, 10L, 1L, 1L)))
  }

  test("whiten: hand stats per dim, zero-variance dim collapses to 0, " +
    "negative side sign-splits exactly") {
    import TestSpark.spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 10.0f)),
      (1L, Array(3.0f, 10.0f))
    ).toDF("vec_id", "embedding")
    val out = graft.ann.Quantize.whiten(vecs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // d0: mean 2000, var 1e6, σ 1000 → ±1000; d1: σ→1 floor, dev 0
    assert(out(0L) == Seq(-1000L, 0L))
    assert(out(1L) == Seq(1000L, 0L))
  }

  test("prefixDimRecall: truncation promotes a prefix-identical vector, " +
    "overlap drops to 500 permille") {
    import TestSpark.spark.implicits._
    // query 0 = (1,0,0,0); id1 matches in both spaces; id2 only matches
    // the 2-dim prefix (tail orthogonal mass kills its full cosine);
    // id3 is the honest full-space runner-up
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(1f, 0f, 5f, 0f)),
      (3L, Array(0.8f, 0.6f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val out = graft.ann.Similarity
      .prefixDimRecall(vecs, k = 2, queryMod = 50, prefixDim = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // full top-2 = {1, 3}; prefix top-2 = {1, 2} (cos ties 1.0 → low id)
    assert(out == Map(0L -> ((2L, 1L, 500L))))
  }

  test("jlDistortion: histogram matches a first-principles recompute") {
    val embs = TestSpark.spark.read.parquet(s"$tiny/embeddings.parquet")
    val byId = embs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val ratios = byId.keys.toSeq.filter(_ % 7 == 0).sorted.flatMap { id =>
      byId.get(id + 1).map { bv =>
        val av = byId(id)
        val d = av.indices.map(j =>
          math.floor(av(j).toDouble * 1000.0).toLong -
            math.floor(bv(j).toDouble * 1000.0).toLong)
        val od2 = d.map(x => x * x).sum
        val pd2 = (0 until 16).map { i =>
          val p = d.indices.map(j =>
            d(j) * graft.ann.RandomProjection.sign(i, j)).sum
          p * p
        }.sum
        (od2, pd2)
      }
    }.filter(_._1 > 0).map { case (od2, pd2) => pd2 * 1000 / (od2 * 16) }
    val expected = ratios.groupBy(_ / 100).map { case (b, rs) =>
      b -> ((rs.length.toLong, rs.min, rs.max)) }
    val out = graft.ann.RandomProjection.jlDistortion(embs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out.nonEmpty && out == expected)
    // JL sanity: the mass concentrates around ratio 1000 (bucket 10)
    val near = out.filter { case (b, _) => b >= 5 && b <= 15 }
      .values.map(_._1).sum
    assert(near * 5 >= out.values.map(_._1).sum * 4,
      s"≥80% of pairs within ±50% distortion: $out")
  }
}
