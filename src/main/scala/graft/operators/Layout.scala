package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout — the 100 TB file-organization
  * story. A table laid out by ONE key gives min/max file-skipping on that
  * key only; interleaving the bits of two dimension hashes into a single
  * sort key gives BOTH dimensions locality, so a point predicate on either
  * one prunes most files from the scan before a single row is read.
  *
  * Everything here is map-only integer arithmetic: the dimension hashes
  * come from md5 (so Spark and the DuckDB oracle agree bit-for-bit), the
  * interleave is a static 20-term shift/mask expression inside one
  * whole-stage-codegen span, and the file assignment is the z-value's top
  * bits — no repartitionByRange sampling, no shuffle, deterministic under
  * re-runs (what a production writer needs for idempotent re-exports).
  * The per-file min/max stats are exactly what a parquet footer (or an
  * external index) stores; `layoutStats` computes them plus the resulting
  * skip verdicts for a probe predicate, side by side with the same stats
  * under a naive linear (ingest-order) layout — the measured case for
  * WHY the layout matters.
  */
object Layout {

  /** Bits per dimension (10 → 20-bit z-values). */
  val DimBits = 10

  /** 10-bit md5 dimension hash of a string column — spreads tiny domains
    * (5 langs, 20 sources) across the dimension range so z-prefix files
    * get tight, discriminative min/max bounds. */
  def dimHash(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long") % (1L << DimBits)

  /** Interleave two DimBits-bit values: bit i of `a` lands at 2i+1, bit i
    * of `b` at 2i (a's bits are the senior partner at every level). */
  def zValue(a: Column, b: Column): Column =
    (0 until DimBits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i)
    }.reduce(_ + _)

  /** DuckDB twin of [[zValue]] over two integer SQL expressions. */
  def zValueSql(a: String, b: String): String =
    (0 until DimBits).map { i =>
      s"((($a >> $i) & 1) << ${2 * i + 1}) + ((($b >> $i) & 1) << ${2 * i})"
    }.mkString("(", " + ", ")")

  /** Per-file layout stats + skip verdicts for a (lang, source) probe.
    *
    * Files: `fileBits` top z-bits → up to 2^fileBits files (z >> shift is
    * map-only; a production writer would sortWithinPartitions(z) and cut
    * files on the same boundaries). For each file and each layout
    * (`zorder` vs `linear` = doc_id order) the output carries row count,
    * min/max of both dimension hashes, and whether a scan for
    * `lang = probeLang` / `source = probeSource` could skip the file on
    * those bounds. Under z-order the top bits constrain BOTH dims, so most
    * files are skippable for either predicate; under linear layout every
    * file spans nearly the full hash range of both dims and nothing
    * skips — the two layouts' rows differ only in that verdict. */
  def layoutStats(docs: DataFrame, fileBits: Int = 5,
                  probeLang: String = "en",
                  probeSource: String = "src7"): DataFrame = {
    val shift = 2 * DimBits - fileBits
    val dims = docs.select(
      col("doc_id"),
      dimHash(col("lang")).as("ha"),
      dimHash(col("source")).as("hb"))
    val keyed = dims
      .withColumn("z", zValue(col("ha"), col("hb")))
      .withColumn("zorder", shiftright(col("z"), shift))
      // linear layout: same number of file slots, cut by ingest order
      .withColumn("linear", pmod(col("doc_id"), lit(1L << fileBits)))
    val byLayout = keyed
      .select(col("ha"), col("hb"),
        explode(map(lit("zorder"), col("zorder"), lit("linear"), col("linear")))
          .as(Seq("layout", "file_id")))
      .groupBy("layout", "file_id").agg(
        count(lit(1)).as("n_docs"),
        min("ha").as("min_ha"), max("ha").as("max_ha"),
        min("hb").as("min_hb"), max("hb").as("max_hb"))
    val qa = dimHash(lit(probeLang))
    val qb = dimHash(lit(probeSource))
    byLayout
      .withColumn("skip_lang", qa < col("min_ha") || qa > col("max_ha"))
      .withColumn("skip_source", qb < col("min_hb") || qb > col("max_hb"))
  }

  /** Partition-skew audit: simulate hash-partitioning a frame on `keyCol`
    * across `nParts` partitions and report, per partition, the row count,
    * distinct-key count, load share, and a hot flag at ≥2× the fair
    * share. This is the "would this shuffle hold at 100 TB" preview run
    * BEFORE committing a big groupBy/join to a key — the per-key twin is
    * `JoinPlanner.joinForecast`; this one shows where the ROWS land.
    *
    * The partition function is the md5 hash the oracle can reproduce
    * (Spark's real hashpartitioning uses Murmur3; the skew PATTERN under
    * any decent hash is the same — a 20%-hot key floods one partition
    * regardless of which hash picked it). One corpus-sized hash-agg down
    * to ≤nParts·|keys-per-part| then ≤nParts rows. */
  def partitionSkewStats(df: DataFrame, keyCol: String,
                         nParts: Int = 32): DataFrame = {
    val part = (conv(substring(md5(col(keyCol)), 1, 8), 16, 10)
      .cast("long") % nParts).as("part_id")
    val perPart = df.groupBy(part).agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col(keyCol)).as("n_keys"))
    val total = perPart.agg(sum("n_rows").as("t_rows"))
    perPart.crossJoin(broadcast(total))
      .select(col("part_id"), col("n_rows"), col("n_keys"),
        expr("n_rows * 1000 DIV t_rows").as("share_permille"),
        (col("n_rows") * nParts >= col("t_rows") * 2L).as("hot"))
  }

  /** Zone-map data-SKIPPING audit: how many shards (and rows) a
    * mid-range time-window query must touch under (a) ingestion-order
    * layout (shard by conv-id hash — time spread everywhere, zone maps
    * useless) vs (b) time-clustered layout (shard by fixed-width time
    * range) — the measured justification for sorting/clustering data at
    * write time, next to [[layoutStats]]'s z-order locality view. A shard
    * is READ iff its [min_sec, max_sec] zone overlaps the query window
    * (exactly parquet row-group / file pruning semantics).
    *
    * The query window is the middle decile of the corpus time span (a
    * dashboard's "around that incident" query). Everything is integer
    * arithmetic off one (conv, turn, sec) projection: global bounds via
    * a 1-row aggregate, shard assignment per layout as map expressions,
    * zone maps via ONE (layout × shard) hash-agg, pruning math on that
    * tiny grid. Nothing here sorts the corpus. */
  def zoneMapAudit(transcripts: DataFrame, shards: Int = 64): DataFrame = {
    val base = transcripts.select(col("conv_id"),
      unix_timestamp(col("ts")).as("sec"))
    val bounds = base.agg(min("sec").as("lo"), max("sec").as("hi"))
    val assigned = base.crossJoin(broadcast(bounds))
      .withColumn("q_lo", expr("lo + (hi - lo) * 45 DIV 100"))
      .withColumn("q_hi", expr("lo + (hi - lo) * 55 DIV 100"))
      .withColumn("shard_natural",
        conv(substring(md5(col("conv_id")), 1, 8), 16, 10).cast("long")
          % shards)
      .withColumn("shard_time",
        least(lit(shards - 1L),
          expr(s"(sec - lo) * $shards DIV (hi - lo + 1)")))
    val zones = assigned
      .select(col("q_lo"), col("q_hi"), col("sec"),
        explode(array(
          struct(lit("ingest_hash").as("layout"), col("shard_natural").as("shard")),
          struct(lit("time_range").as("layout"), col("shard_time").as("shard"))))
          .as("a"))
      .groupBy(col("a.layout").as("layout"), col("a.shard").as("shard"))
      .agg(min("sec").as("z_min"), max("sec").as("z_max"),
        count(lit(1)).as("n_rows"),
        first(col("q_lo")).as("q_lo"), first(col("q_hi")).as("q_hi"))
    zones
      .withColumn("hit", col("z_max") >= col("q_lo") &&
        col("z_min") <= col("q_hi"))
      .groupBy("layout")
      .agg(count(lit(1)).as("n_shards"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_hit"),
        sum("n_rows").as("n_rows"),
        sum(when(col("hit"), col("n_rows")).otherwise(0L)).as("rows_scanned"))
      .withColumn("skip_permille",
        expr("(n_shards - n_hit) * 1000 DIV n_shards"))
      .withColumn("scan_permille", expr("rows_scanned * 1000 DIV n_rows"))
  }

  /** Column-ENCODING estimate audit — the write-path planning evidence
    * beside [[zoneMapAudit]]'s read-path one: for each (file, column),
    * what would plain / dictionary / run-length encoding cost, and which
    * wins? Parquet picks this per page at write time; the audit computes
    * it corpus-wide from three integer statistics so a layout owner can
    * see WHY (e.g. `role` is 4-valued and sorted-ish → RLE; `tool` is
    * high-cardinality → dict barely beats plain) and what a sort-order
    * change would buy before rewriting anything.
    *
    * Cost model (byte estimates, integer-exact): plain = Σlen + 4n;
    * dict = dict·avgLen + ⌈n·⌈log₂ dict⌉/8⌉; rle = Σ run-head lens + 4·runs.
    * Runs count value CHANGES in (conv_id, turn_idx) order per file —
    * the write order the rotation produces.
    *
    * Shape: ONE corpus pass — a constant-fanout map-explode to
    * (file, column, value) rows, one window per (file, column) partition
    * (rotation-bounded, the latenessProfile precedent) for run starts,
    * one hash-agg to the (files × columns) grid; the cost model is
    * arithmetic on that grid. */
  def encodingAudit(df: DataFrame,
                    cols: Seq[String] = Seq("role", "tool")): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val exploded = df.select(col("src_file"), col("conv_id"), col("turn_idx"),
      explode(map(cols.flatMap(c => Seq(lit(c), col(c))): _*))
        .as(Seq("column", "v")))
    val w = Window.partitionBy("src_file", "column")
      .orderBy("conv_id", "turn_idx")
    val runs = exploded
      .withColumn("prev", lag(col("v"), 1).over(w))
      .withColumn("is_start", when(!(col("prev") <=> col("v")), 1L)
        .otherwise(0L))
    runs.groupBy("src_file", "column").agg(
        count(lit(1)).as("n"),
        countDistinct("v").as("dict_size"),
        sum("is_start").as("runs"),
        sum(length(col("v"))).as("sum_len"),
        sum(when(col("is_start") === 1, length(col("v"))).otherwise(0L))
          .as("run_head_len"))
      .withColumn("plain_bytes", expr("sum_len + 4 * n"))
      .withColumn("bits", expr(
        "CASE WHEN dict_size <= 1 THEN 0 " +
          "ELSE length(bin(dict_size - 1)) END"))
      .withColumn("dict_bytes",
        expr("dict_size * (sum_len DIV n) + (n * bits + 7) DIV 8"))
      .withColumn("rle_bytes", expr("run_head_len + 4 * runs"))
      .withColumn("best_encoding", expr(
        """CASE WHEN rle_bytes <= dict_bytes AND rle_bytes <= plain_bytes
          | THEN 'rle' WHEN dict_bytes <= plain_bytes THEN 'dict'
          | ELSE 'plain' END""".stripMargin))
      .select("src_file", "column", "n", "dict_size", "runs",
        "plain_bytes", "dict_bytes", "rle_bytes", "best_encoding")
  }

  /** RESHARDING audit: when the shard count grows n → n+1, what share of
    * keys must MOVE under mod-hash placement vs rendezvous (highest-
    * random-weight) hashing? Mod moves ~n/(n+1) of all keys (every
    * residue reshuffles) — at 100 TB that is a full-corpus rewrite for
    * one extra node; HRW moves only the ~1/(n+1) of keys whose new
    * shard's weight wins, the consistent-hashing guarantee, with no
    * ring-position state: shard(k) = argmax_s w(k, s). The audit
    * MEASURES both on the real key population, which is the number an
    * infra owner actually decides on.
    *
    * Determinism/parity: keys hash by the shared char-fold polynomial
    * ([[graft.text.TextAnalysis.tokHash]] = the DuckDB oracle's
    * `oTokHash`), weights w(k, s) = (h·(2s+3) + 7s) mod P — a
    * multiplicative per-shard mix, argmax ties to the HIGHEST s in both
    * engines. Shape: one distinct on the key column (key-population-
    * sized agg), then ~2n constant expressions per key and a 2-row
    * report aggregate; the corpus never reshuffles to be audited. */
  /** Shuffle-MINIMAL rebalance plan: which groups ship how many rows to
    * whom so every group ends within one row of even. Complements the
    * q126 compaction plan (which groups get rewritten) with the pairwise
    * MOVE LIST an executor actually runs — and the total moved is the
    * provable minimum Σ max(0, n − quota), because only surpluses move.
    *
    * The classic sequential greedy (walk donors and receivers in step)
    * is reformulated as PREFIX-SUM INTERVAL ALIGNMENT so it is a plan,
    * not a loop: donors own disjoint intervals of the moved mass by
    * cumulative excess, receivers by cumulative deficit, and
    * move(d, r) = |interval overlap| — a deterministic interval join ON
    * AGGREGATES. Quotas are total DIV g with the MOD remainder to the
    * lexically-first groups.
    *
    * Shape: one corpus hash-agg to group sizes; windows, the interval
    * join, and the overlap arithmetic all run on the |groups|-row frame
    * (single-task windows over an aggregate). The corpus moves at most
    * once, the plan never. */
  def rebalancePlan(df: DataFrame, groupCol: String = "src_file"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sizes = df.groupBy(groupCol).agg(count(lit(1)).as("n"))
    val tot = sizes.agg(sum("n").as("total"), count(lit(1)).as("g"))
    val wId = Window.orderBy(groupCol)
    val wCum = wId.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val quota = sizes.crossJoin(broadcast(tot))
      .withColumn("rk", row_number().over(wId).cast("long"))
      .withColumn("quota", expr("total DIV g")
        + when(col("rk") <= expr("total % g"), 1L).otherwise(0L))
      .withColumn("excess", col("n") - col("quota"))
    val donors = quota.filter(col("excess") > 0)
      .withColumn("dhi", sum("excess").over(wCum))
      .withColumn("dlo", col("dhi") - col("excess"))
      .select(col(groupCol).as("from_grp"), col("dlo"), col("dhi"))
    val recv = quota.filter(col("excess") < 0)
      .withColumn("rhi", sum(-col("excess")).over(wCum))
      .withColumn("rlo", col("rhi") + col("excess"))
      .select(col(groupCol).as("to_grp"), col("rlo"), col("rhi"))
    donors.join(recv, col("dlo") < col("rhi") && col("rlo") < col("dhi"))
      .select(col("from_grp"), col("to_grp"),
        (least(col("dhi"), col("rhi"))
          - greatest(col("dlo"), col("rlo"))).as("rows_moved"))
      .filter(col("rows_moved") > 0)
  }

  def rehashAudit(df: DataFrame, keyCol: String = "conv_id",
                  nFrom: Int = 16): DataFrame = {
    val P = 1000000007L
    def hrw(kh: Column, n: Int): Column =
      array_max(array((0 until n).map(s =>
        struct(pmod(kh * lit(2L * s + 3L) + lit(7L * s), lit(P)).as("w"),
          lit(s.toLong).as("s"))): _*)).getField("s")
    val keys = df.select(col(keyCol).as("k")).distinct()
      .withColumn("h", graft.text.TextAnalysis.tokHash(col("k")))
      .select(
        (pmod(col("h"), lit(nFrom.toLong)) =!=
          pmod(col("h"), lit(nFrom + 1L))).as("mod_moved"),
        (hrw(col("h"), nFrom) =!= hrw(col("h"), nFrom + 1)).as("hrw_moved"))
    val agg = keys.agg(count(lit(1)).as("n_keys"),
      sum(when(col("mod_moved"), 1L).otherwise(0L)).as("mod_m"),
      sum(when(col("hrw_moved"), 1L).otherwise(0L)).as("hrw_m"))
    agg.select(explode(array(
        struct(lit("mod").as("scheme"), col("mod_m").as("moved")),
        struct(lit("hrw").as("scheme"), col("hrw_m").as("moved"))))
        .as("e"), col("n_keys"))
      .select(col("e.scheme").as("scheme"), col("n_keys"),
        col("e.moved").as("moved"))
      .withColumn("moved_permille", expr("moved * 1000 DIV n_keys"))
  }
}
