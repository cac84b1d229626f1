package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed

import graft.ann.{QCos, Quantize, Similarity, VecCos, VecDot, VecDotL, VecSqDist}
import graft.dedup.{CdcBoundaries, CharNgrams, Dedup, LevBanded, Shingles, TokenHash, Winnow}
import graft.functions.{Enrich, FusedEnrich, FusedFilter, FusedParse, Grok, JsonDoc, Nfc}
import graft.operators.{DqRules, Filters, KvExtract}
import graft.text.{ArrIntersectSize, Classifier, FastTok, LogTemplate, Packing, TextAnalysis, TokenScore}

/** One parity table for the 25 hand-written kernels. Every row runs twice:
  * in whole-stage codegen with `factoryMode=CODEGEN_ONLY` and interpreted
  * with `wholeStage=false, factoryMode=NO_CODEGEN`. The two outputs must be
  * equal, and both must equal the kernel's declarative twin where one
  * exists, except for the named known divergences pinned below.
  *
  * Inputs: fixed-seed scalacheck strings, sf0.001 transcript turns, and
  * adversarial strings (null, empty, whitespace-only, surrogate pairs, NUL,
  * a 64 KB string); the array kernels get fixed-seed arrays plus null,
  * empty, duplicate, null-element, length-mismatched and zero arrays.
  * json_doc also gets invalid UTF-8, control bytes, extreme longs and
  * timestamps, checked against literal documents. */
class KernelParitySpec extends SparkSpec {
  import KernelParitySpec._

  // ---- inputs -------------------------------------------------------------

  private val dir = "/tmp/graft_kernel_parity"
  private val params = Gen.Parameters.default.withSize(40)

  private val big: String = {
    val sb = new java.lang.StringBuilder("event=errorlog_written 2024-01-15 10:22:33.12 Logon ")
    var i = 0
    while (sb.length < 65536 - 16) {
      sb.append(Seq(s"tok${i % 113}", " ", "é", "😀", s"key=v$i", "\t", "é")(i % 7))
      i += 1
    }
    while (sb.length < 65536) sb.append('z')
    sb.toString
  }

  private val adversarial: Seq[(String, String)] = Seq(
    "null" -> null, "empty" -> "", "spaces" -> "   ",
    "whitespace" -> " \t\n\u000B\f\r ", "surrogate_pairs" -> "😀 emoji 😁pair 𝔘𝔫𝔦",
    "nul" -> "a\u0000b \u0000", "nfd" -> "e\u0301 cafe\u0301 A\u030A \u2126",
    "event_18456" -> "event=error_reported Error: 18456, Severity: 14, State: 8. [CLIENT: 10.0.0.1]",
    "event_wait" -> "event=wait_info duration=2000000 wait_type=LCK_M_X",
    "kv" -> "a=1 b= c==d key=v=w", "64kb" -> big)

  private val piece: Gen[String] = Gen.frequency(
    3 -> Gen.alphaNumStr.map(_.take(10)),
    3 -> Gen.oneOf(" ", "  ", "\t", "\n", "\r", "\f", "\u000B", "\u0000", "=", "event=",
      "error_reported", "wait_info", "errorlog_written ", "Error: 18456, Severity: 14, State: 8.",
      "duration=", "key=v", "😀", "\u00e9", "e\u0301", "Σ", "漢字", "'dbghelp.dll'",
      "[CLIENT: 10.0.0.1]"),
    1 -> Arbitrary.arbitrary[Char].map(_.toString))
  private val genText: Gen[String] = Gen.frequency(
    1 -> Gen.listOf(piece).map(_.mkString),
    1 -> Gen.listOf(piece).map("event=" + _.mkString))
  private val genRole: Gen[String] = Gen.oneOf("user", "system", "tool", null)
  private val genTool: Gen[String] = Gen.oneOf("sql_query", "other", "", null)

  /** One codepoint replaced: a pair at Levenshtein distance 1. */
  private def edit(s: String): String =
    if (s == null) null
    else if (s.isEmpty) "x"
    else {
      val cps = s.codePoints.toArray
      val m = cps.length / 2
      cps(m) = if (cps(m) == 'Z') 'Y' else 'Z'
      new String(cps, 0, cps.length)
    }

  /** id → input label, over both input frames. */
  private var labels = Map.empty[Long, String]

  private lazy val texts: DataFrame = {
    val corpus = sources.Transcripts.loadCanonical(spark, tiny).orderBy("conv_id", "turn_idx")
      .limit(100).collect().toSeq.zipWithIndex.map { case (r, i) =>
        (s"corpus#$i", r.getAs[String]("role"), r.getAs[String]("text"),
          r.getAs[String]("tool"))
      }
    val gen = Gen.listOfN(150, Gen.zip(genText, genRole, genTool))
      .pureApply(params, Seed(20261017L)).zipWithIndex.map { case ((t, r, o), i) =>
        (s"gen#$i", r, t, o)
      }
    val adv = adversarial.map { case (l, t) => (l, "system", t, "sql_query") }
    val all = (adv ++ corpus ++ gen).zipWithIndex.map { case ((l, r, t, o), i) =>
      (i.toLong, l, r, t, o)
    }
    labels ++= all.map(a => a._1 -> a._2)
    val rows = all.map { case (id, _, role, text, tool) =>
      val other = all((id.toInt * 7 + 3) % all.length)._4
      Row(id, "k", id.toInt, role, text, tool, new Timestamp(1700000000000L + id * 1000L),
        if (id % 2 == 0) edit(text) else other)
    }
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
      StructField("role", StringType), StructField("text", StringType),
      StructField("tool", StringType), StructField("ts", TimestampType),
      StructField("text2", StringType)))
    persisted("texts", rows, schema)
  }

  private val arraysId0 = 100000L

  private lazy val arrays: DataFrame = {
    def l(xs: Any*): Seq[Any] = xs
    val adv: Seq[(String, Seq[Any])] = Seq(
      "null_arrays" -> Seq(null, null, null, null, null, null),
      "empty_arrays" -> Seq(l(), l(), l(), l(), l(), l()),
      "duplicate_arrays" -> Seq(l("a", "a", "b", "b"), l("b", "a", "a"), l(3L, 3L, 3L),
        l(3L, 3L, 3L), l(1f, 1f), l(1.0, 1.0)),
      "null_elements" -> Seq(l("a", null), l(null, "a"), l(1L, null), l(1L, 2L),
        l(1f, null), l(1.0, 2.0)),
      "length_mismatch" -> Seq(l("a"), l("a", "b", "c"), l(1L, 2L), l(1L, 2L, 3L),
        l(1f, 2f), l(1.0, 2.0, 3.0)),
      "zero_vectors" -> Seq(l(""), l(""), l(0L, 0L), l(0L, 0L), l(0f, 0f), l(0.0, 0.0)))
    val word = Gen.oneOf("a", "b", "the", "é", "😀", "")
    val genRow: Gen[Seq[Any]] = for {
      sa <- Gen.listOf(word); sb <- Gen.listOf(word)
      d <- Gen.choose(0, 6); d2 <- Gen.frequency(9 -> Gen.const(d), 1 -> Gen.choose(0, 6))
      la <- Gen.listOfN(d, Gen.choose(-127L, 127L)); lb <- Gen.listOfN(d2, Gen.choose(-127L, 127L))
      fa <- Gen.listOfN(d, Gen.choose(-2f, 2f)); db <- Gen.listOfN(d2, Gen.choose(-2.0, 2.0))
    } yield Seq(sa, sb, la, lb, fa, db)
    val gen = Gen.listOfN(150, genRow).pureApply(params, Seed(4242L)).zipWithIndex
      .map { case (r, i) => (s"gen#$i", r) }
    val all = (adv ++ gen).zipWithIndex.map { case ((lb, r), i) => (arraysId0 + i, lb, r) }
    labels ++= all.map(a => a._1 -> a._2)
    val schema = StructType(StructField("id", LongType, nullable = false) +:
      Seq("sa" -> StringType, "sb" -> StringType, "la" -> LongType, "lb" -> LongType,
        "fa" -> FloatType, "db" -> DoubleType).map { case (n, t) => StructField(n, ArrayType(t)) })
    persisted("arrays", all.map { case (id, _, r) => Row(id +: r: _*) }, schema)
  }

  private val jsonDocId0 = 200000L

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  /** json_doc on input the corpus never produces: (label, string bytes,
    * long, int, timestamp micros, document). Each row sets one feature; null
    * fields are dropped. The documents are the bytes the String-based
    * serializer wrote, kept as literals. */
  private val jsonDocCases: Seq[(String, Array[Byte], Any, Any, Any, String)] = Seq(
    ("invalid_utf8_c3_28", bytes(0xC3, 0x28), null, null, null, "{\"s\":\"\uFFFD(\"}"),
    ("lone_0x80", bytes(0x61, 0x80, 0x62), null, null, null, "{\"s\":\"a\uFFFDb\"}"),
    ("nul_controls_del", bytes(0x61, 0x00, 0x62, 0x1F, 0x0B, 0x7F, 0x0A, 0x09, 0x0D, 0x08, 0x0C),
      null, null, null, "{\"s\":\"a\\u0000b\\u001F\\u000B\u007F\\n\\t\\r\\b\\f\"}"),
    ("four_byte", bytes(0xF0, 0x9F, 0x98, 0x80, 0x20, 0xC3, 0xA9), null, null, null,
      "{\"s\":\"\uD83D\uDE00 \u00E9\"}"),
    ("quote_backslash", bytes(0x22, 0x5C, 0x22, 0x5C, 0x5C), null, null, null,
      "{\"s\":\"\\\"\\\\\\\"\\\\\\\\\"}"),
    ("long_int_min", null, Long.MinValue, Int.MinValue, null,
      "{\"l\":-9223372036854775808,\"i\":-2147483648}"),
    ("long_int_max", null, Long.MaxValue, Int.MaxValue, null,
      "{\"l\":9223372036854775807,\"i\":2147483647}"),
    ("ts_0001_01_01", null, null, null, -62135596800000000L,
      "{\"ntz\":\"0001-01-01T00:00:00.000\",\"utc\":\"0001-01-01T00:00:00.000Z\"}"),
    ("ts_minus_1us", null, null, null, -1L,
      "{\"ntz\":\"1969-12-31T23:59:59.999\",\"utc\":\"1969-12-31T23:59:59.999Z\"}"),
    ("ts_9999_last_us", null, null, null, 253402300799999999L,
      "{\"ntz\":\"9999-12-31T23:59:59.999\",\"utc\":\"9999-12-31T23:59:59.999Z\"}"),
    ("ts_year_10000", null, null, null, 253402300800000000L,
      "{\"ntz\":\"+10000-01-01T00:00:00.000\",\"utc\":\"+10000-01-01T00:00:00.000Z\"}"))

  private lazy val jsonDocInput: DataFrame = {
    val all = jsonDocCases.zipWithIndex.map { case (c, k) => (jsonDocId0 + k, c) }
    labels ++= all.map { case (id, c) => id -> c._1 }
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("bin", BinaryType), StructField("l", LongType),
      StructField("i", IntegerType), StructField("us", LongType)))
    persisted("json_doc_cases", all.map { case (id, (_, b, l, i, us, _)) => Row(id, b, l, i, us) },
      schema)
  }

  /** The documents the cases expect, keyed like the kernel's output. */
  private def jsonDocExpected: DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(jsonDocCases.zipWithIndex.map { case (c, k) =>
      Row(jsonDocId0 + k, c._6) }: _*),
    StructType(Seq(StructField("id", LongType), StructField("doc", StringType))))

  /** The binary cast keeps invalid UTF-8 as it is, so the kernel sees it. */
  private val caseString = col("bin").cast("string")
  private val caseDoc = struct(caseString.as("s"), col("l"), col("i"),
    timestamp_micros(col("us")).cast("timestamp_ntz").as("ntz"),
    timestamp_micros(col("us")).as("utc"))

  private def persisted(name: String, rows: Seq[Row], schema: StructType): DataFrame = {
    // a parquet scan, not a local relation the optimizer would evaluate
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .write.mode("overwrite").parquet(s"$dir/$name")
    spark.read.parquet(s"$dir/$name")
  }

  private def docs: DataFrame = texts.select(col("id").as("doc_id"), col("text"))

  /** The texts without the 64 KB one, for the twins that re-evaluate the
    * whole per-character or shingle array inside every window lambda
    * (O(n²) interpreted: hours on 64 KB). Both kernel runs still take it. */
  private def shortTexts: DataFrame = texts.filter(col("id") =!= adversarial.indexWhere(_._1 == "64kb"))
  private def shortDocs: DataFrame = shortTexts.select(col("id").as("doc_id"), col("text"))
  private def parsed: DataFrame = Grok.parse(texts)

  // ---- the table ----------------------------------------------------------

  private def row(name: String, in: => DataFrame, kernel: => Column, dataType: DataType,
                  nullable: Boolean, twins: Twin*): K =
    new K(name, name, in, kernel, dataType, nullable, twins: _*)

  private def colTwin(in: => DataFrame, kernel: => Column, twin: => Column): Twin =
    () => (in.select(col("id"), kernel), in.select(col("id"), twin))

  private lazy val keepBc = spark.sparkContext.broadcast(
    new java.util.HashSet[String](java.util.Arrays.asList("event=error_reported", "the", "a", "😀")))
  private val docStruct = struct(col("text"), col("id"), col("turn_idx"),
    when(col("id") % 3 =!= 0, col("id") % 2 === 0).as("flag"),
    when(col("id") % 5 =!= 0, col("id") / 7.0).as("score"), col("ts"))
  private val parsedFields = col("id") +: FusedParse.fields.map(f => col(f.name))
  private val derivedFields = col("id") +: FusedEnrich.outputSchema.fieldNames.toSeq.map(col)
  private val longs = ArrayType(LongType, containsNull = false)
  private val strings = ArrayType(StringType, containsNull = false)
  private def sumOf(c: Column): Column = aggregate(c, lit(0L), (acc, v) => acc + v)

  private val table: Seq[K] = Seq(
    row("parse_turn", texts, FusedParse.parsed(col("text")), FusedParse.schema, true,
      () => (Grok.parse(texts).select(parsedFields: _*),
        Grok.parseErrorlog(Grok.parseRegex(texts)).select(parsedFields: _*))),
    row("event_name_lite", texts, FusedParse.nameLite(col("text")), StringType, true,
      colTwin(texts, FusedParse.nameLite(col("text")), Grok.eventName(col("text")))),
    row("error_number_lite", texts, FusedParse.errorNumLite(col("text")), LongType, true,
      () => (texts.select(col("id"), FusedParse.errorNumLite(col("text"))),
        Grok.parseRegex(texts).select("id", "error_number"))),
    row("standard_filter_keep", texts,
      FusedFilter.keepStandard(col("text"), col("role"), col("tool")), BooleanType, false,
      () => (Filters.standardOnRaw(texts).select("id"),
        Filters.standardOnRawDeclarative(texts).select("id"))),
    row("fused_enrich", parsed, FusedEnrich.derived, FusedEnrich.outputSchema, true,
      () => (Enrich.withDerived(parsed).select(derivedFields: _*),
        Enrich.withDerivedDeclarative(parsed).select(derivedFields: _*))),
    row("nfc_left", texts, Nfc.left(col("text"), 8), StringType, true,
      colTwin(texts, Nfc.left(col("text"), 8), Grok.nfcLeft(col("text"), 8))),
    new K("nfc_left (non-null argument)", "nfc_left", texts,
      Nfc.left(coalesce(col("text"), lit("")), 8), StringType, false,
      colTwin(texts, Nfc.left(coalesce(col("text"), lit("")), 8),
        Grok.nfcLeft(coalesce(col("text"), lit("")), 8))),
    row("json_doc", texts, JsonDoc.jsonDoc(docStruct), StringType, true,
      colTwin(texts, JsonDoc.jsonDoc(docStruct), to_json(docStruct))),
    new K("json_doc (adversarial bytes and values)", "json_doc", jsonDocInput,
      JsonDoc.jsonDoc(caseDoc), StringType, true,
      () => (jsonDocInput.select(col("id"), JsonDoc.jsonDoc(caseDoc)), jsonDocExpected)),
    row("token_sketches", texts, TokenHash.sketches(col("text")), TokenHash.outputSchema, true,
      () => (Dedup.signatures(docs), Dedup.signaturesDeclarative(docs)),
      () => (Dedup.simhashDf(docs), Dedup.simhashDfDeclarative(docs)),
      () => (TextAnalysis.fingerprints(docs), TextAnalysis.fingerprintsDeclarative(docs))),
    row("shingle_hashes", texts, Shingles.shingles(col("text")), longs, true,
      colTwin(texts, Shingles.shingles(col("text")),
        Dedup.shingleHashesDeclarative(col("text")))),
    row("char_ngram_hashes", texts, CharNgrams.hashes(col("text"), 5), longs, true,
      colTwin(shortTexts, Dedup.charNgramHashes(col("text"), 5),
        Dedup.charNgramHashesDeclarative(col("text"), 5))),
    row("cdc_boundaries", texts, CdcBoundaries.stats(col("text"), 5, 16),
      CdcBoundaries.outputSchema, true,
      () => (Packing.cdcStats(shortDocs, 16, 5), Packing.cdcStatsDeclarative(shortDocs, 16, 5))),
    row("winnow_stats", texts, Winnow.stats(col("text"), 4), Winnow.outputSchema, true,
      () => (Dedup.winnowStats(shortDocs, 4), Dedup.winnowStatsDeclarative(shortDocs, 4))),
    row("levenshtein_banded", texts, LevBanded.levBanded(col("text"), col("text2"), 3),
      IntegerType, true,
      colTwin(texts, LevBanded.levBanded(col("text"), col("text2"), 3),
        levenshtein(col("text"), col("text2"), 3))),
    row("token_score", texts, TokenScore.scoreStruct(col("text")), TokenScore.outputSchema,
      true, () => (Classifier.score(docs), Classifier.scoreDeclarative(docs))),
    row("fast_tokens", texts, FastTok.tokens(col("text")), strings, true,
      colTwin(texts, FastTok.tokens(col("text")), TextAnalysis.tokensDeclarative(col("text")))),
    new K("fast_tokens (raw)", "fast_tokens", texts, FastTok.rawTokens(col("text")), strings,
      true, colTwin(texts, FastTok.rawTokens(col("text")),
        filter(split(col("text"), "\\s+"), t => t =!= ""))),
    row("fast_tok_hashes", texts, FastTok.tokHashes(col("text")), longs, true,
      colTwin(texts, FastTok.tokHashes(col("text")),
        TextAnalysis.tokHashesDeclarative(col("text")))),
    row("bpe_count", texts, FastTok.bpeCount(col("text")), IntegerType, true,
      colTwin(texts, FastTok.bpeCount(col("text")),
        TextAnalysis.bpeCountDeclarative(col("text")))),
    row("log_template", texts, LogTemplate.rebuild(col("text"), keepBc), StringType, true,
      () => (DqRules.logTemplates(texts, 3L), DqRules.logTemplatesDeclarative(texts, 3L))),
    row("kv_extract", texts, KvExtract.kvs(col("text")), strings, true,
      colTwin(texts, KvExtract.kvs(col("text")),
        regexp_extract_all(col("text"), lit("([a-z_0-9]+)=([^ ]*)"), lit(0)))),
    row("arr_intersect_size", arrays, ArrIntersectSize.of(col("sa"), col("sb")), LongType,
      true, colTwin(arrays, ArrIntersectSize.of(col("sa"), col("sb")),
        size(array_intersect(col("sa"), col("sb"))).cast("long"))),
    row("vec_sqdist", arrays, VecSqDist.sqDistFused(col("la"), col("lb")), LongType, true,
      colTwin(arrays, VecSqDist.sqDistFused(col("la"), col("lb")),
        sumOf(zip_with(col("la"), col("lb"), (x, y) => (x - y) * (x - y))))),
    row("vec_dot_l", arrays, VecDotL.dotFused(col("la"), col("lb")), LongType, true,
      colTwin(arrays, VecDotL.dotFused(col("la"), col("lb")),
        sumOf(zip_with(col("la"), col("lb"), (x, y) => x * y)))),
    row("quantized_cosine", arrays, QCos.qcosFused(col("la"), col("lb")), DoubleType, true,
      colTwin(arrays, QCos.qcosFused(col("la"), col("lb")),
        Quantize.qcos(col("la"), col("lb")))),
    row("vec_dot", arrays, VecDot.dotFused(col("fa"), col("db")), DoubleType, true,
      colTwin(arrays, VecDot.dotFused(col("fa"), col("db")),
        Similarity.dotDeclarative(col("fa"), col("db")))),
    row("vec_cos", arrays, VecCos.cosFused(col("fa"), col("db")), DoubleType, true,
      colTwin(arrays, VecCos.cosFused(col("fa"), col("db")),
        Similarity.cosineDeclarative(col("fa"), col("db")))))

  /** Known divergences: row label → (input label, production side, twin
    * side). All are a null input: the kernel returns null where the twin's
    * non-ANSI `size(null)` is -1, its fold starts from its seed, or its
    * `when` falls through to an empty array. */
  private val knownDivergences: Map[String, Set[(String, String, String)]] = Map(
    "token_sketches" -> Set(("null", "[null]", "[0]")),
    "cdc_boundaries" -> Set(("null", "[null, null, 0, 0]", "[null, 0, 0, 0]")),
    "winnow_stats" -> Set(("null", "[null, -1, 0]", "[-1, 1, 0]")),
    "token_score" -> Set(("null", "[null, null, 0, 1]", "[-1, null, 0, 1]")),
    "bpe_count" -> Set(("null", "[null]", "[-1]")),
    "arr_intersect_size" -> Set(("null_arrays", "[null]", "[-1]")),
    "char_ngram_hashes" -> Set(("null", "[null]", "[ArraySeq()]")))

  // ---- running a row in one mode -------------------------------------------

  private def inMode[T](codegen: Boolean)(f: => T): T = {
    val confs = Seq("spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"))
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      f
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def keyed(df: DataFrame): Map[Any, Seq[Any]] = {
    val rows = df.collect()
    val m = rows.map(r => r.get(0) -> r.toSeq.tail).toMap
    assert(m.size == rows.length, s"duplicate keys in ${df.columns.mkString(",")}")
    m
  }

  private def show(v: Option[Seq[Any]]): String =
    v.fold("absent")(_.map(String.valueOf).mkString("[", ", ", "]"))

  private def label(key: Any): String = key match {
    case id: Long => labels(id)
    case other => String.valueOf(other)
  }

  private case class Run(out: Seq[Row], field: StructField, inWholeStage: Boolean,
                         divergences: Set[(String, String, String)])

  private def run(k: K, codegen: Boolean): Run = inMode(codegen) {
    val df = k.in.select(col("id"), k.kernel.as("k"))
    val plan = df.queryExecution.executedPlan
    val inWholeStage = plan.collect { case w: WholeStageCodegenExec => w }
      .exists(_.toString.contains(s"${k.name}("))
    val divergences = k.twins.flatMap { twin =>
      val (fused, decl) = twin()
      val (f, d) = (keyed(fused), keyed(decl))
      (f.keySet ++ d.keySet).filter(key => f.get(key) != d.get(key))
        .map(key => (label(key), show(f.get(key)), show(d.get(key))))
    }.toSet
    Run(df.collect().sortBy(_.getLong(0)).toSeq, df.schema("k"), inWholeStage, divergences)
  }

  // ---- tests ----------------------------------------------------------------

  test("the table covers the 25 hand-written kernels") {
    assert(table.map(_.name).distinct.size == 25, table.map(_.name).distinct.sorted)
  }

  for (k <- table) {
    test(s"${k.label}: codegen == interpreted == declarative twin") {
      val cg = run(k, codegen = true)
      val it = run(k, codegen = false)
      withClue(s"${k.label}: ") {
        assert(cg.inWholeStage, "codegen run did not place the kernel in whole-stage codegen")
        assert(!it.inWholeStage, "interpreted run used whole-stage codegen")
        for (r <- Seq(cg, it)) {
          assert(r.field.dataType == k.dataType)
          assert(r.field.nullable == k.nullable)
        }
        val diff = cg.out.zip(it.out).filter { case (a, b) => a != b }
        assert(cg.out.size == it.out.size && diff.isEmpty,
          s"codegen != interpreted on ${diff.take(3).map { case (a, b) =>
            s"${labels(a.getLong(0))}: $a vs $b" }.mkString("; ")}")
        val pinned = knownDivergences.getOrElse(k.label, Set.empty)
        assert(cg.divergences == pinned, "codegen run vs twin")
        assert(it.divergences == pinned, "interpreted run vs twin")
      }
    }
  }

  test("json_doc's adversarial strings reach the kernel with their invalid UTF-8") {
    val invalid = jsonDocInput.filter(caseString.isNotNull && try_validate_utf8(caseString).isNull)
      .select("id").collect().map(r => labels(r.getLong(0))).toSet
    assert(invalid == Set("invalid_utf8_c3_28", "lone_0x80"))
  }

  test("the routed pipeline calls the fused kernels directly in generated code") {
    val routed = Pipeline.routed(spark, tiny)
    routed.queryExecution.toRdd.count() // adaptive execution plans its codegen stages as it runs
    val code = routed.queryExecution.debug.codegenToSeq().map(_._2).mkString("\n")
    for (call <- Seq("graft.functions.FusedFilter.keep(",
        "graft.functions.FusedParse.parseRow(", "graft.functions.FusedEnrich.evalRow("))
      assert(code.contains(call), s"no direct $call in the generated code")
    assert(!code.contains("Method.invoke") && !code.contains(".invoke("),
      "reflection in the generated code")
  }

  test("only Kernel, JsonDoc, VecDotExpr and VecCosExpr define doGenCode") {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.toString.endsWith(".scala") &&
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8").contains("doGenCode"))
      .map(_.getFileName.toString).toSet
    assert(files == Set("Kernel.scala", "JsonDoc.scala", "VecDotExpr.scala", "VecCosExpr.scala"),
      "a new hand-written kernel goes through graft.functions.Kernel")
  }
}

object KernelParitySpec {
  type Twin = () => (DataFrame, DataFrame)

  /** One kernel call: its plan name, input frame, Column builder call,
    * expected type and nullability, and twins — pairs of (production frame
    * using the kernel, declarative frame), keyed by their first column. */
  final class K(val label: String, val name: String, in0: => DataFrame, kernel0: => Column,
                val dataType: DataType, val nullable: Boolean, val twins: Twin*) {
    def in: DataFrame = in0
    def kernel: Column = kernel0
  }
}
