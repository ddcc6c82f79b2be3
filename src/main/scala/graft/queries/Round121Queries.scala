package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables

/** Hundred-twenty-first batch — HLL sizing economics, compaction
  * planning, and an audio ingest gate:
  *
  *  - a25: HyperLogLog register-count sweep — the same key stream
  *    sketched at m ∈ {16, 32, 64} registers with the per-m Flajolet
  *    α constants (0.673/0.697/0.709, kept as exact thousandths) and
  *    the error against the exact distinct count in ppm — the sizing
  *    table for distinct-count memory: error ∝ 1.04/√m, and the sweep
  *    shows the constant for THIS key distribution. Rank-of-lowest-bit
  *    is spelled `least(56, bit_count((v & -v) - 1) + 1)` in BOTH
  *    engines (bit_count of −1 is 64, so v = 0 caps at 56 on each
  *    side), and the α·m²·2^56 numerator divides as DECIMAL(38,0) —
  *    everything integer-exact.
  *  - p55: compaction planning over a partition manifest — the
  *    metadata-plane step a lakehouse table service runs: take the
  *    per-month row counts (the manifest; file row counts in a real
  *    catalog), order heaviest-first, and pack contiguously into bins
  *    of ceil(total/4) rows via the distributed prefix sum — next-fit-
  *    decreasing, the classic 2-approximation whose fill ratios the
  *    output exposes in basis points. The corpus-scale pass is one
  *    month aggregate; the plan runs on the manifest.
  *  - m41: audio ingest gate through the real WAV path — decode every
  *    clip's samples and count near-full-scale excursions (|s| ≥
  *    20000), the clipping screen; the exact sample sum (DC-offset
  *    numerator, kept un-divided so Spark's truncating div and
  *    DuckDB's flooring // can't diverge on negatives) and the peak
  *    amplitude ride along. Per-row array expressions inside codegen.
  *
  * Scale: a25 is one 3m-cell aggregate + one exact-distinct pass; p55
  * reduces the corpus to months before planning; m41 is map-only until
  * the output sort.
  *
  * Reference scope: beyond-reference LLM-pipeline surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round121Queries extends QueryModule {

  // ── a25: HLL error vs register count ──────────────────────────────────

  /** α_m·m²·1000 for m = 16/32/64 (Flajolet et al. 2007 §4 constants
    * 0.673/0.697/0.709, exact in thousandths — the m=64 value matches
    * operators/Hll.AlphaM2x1000). */
  private val AlphaM2x1000 = Map(16L -> BigInt(172288),
    32L -> BigInt(713728), 64L -> BigInt(2904064))

  def a25_hll_m_sweep(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CountMin
    val keys = Tables.load(s, dir, "lineitem").select(col("l_partkey").as("k"))
      .localCheckpoint(true)
    val exact = keys.agg(countDistinct(col("k")).as("exact_distinct"))
    val regs = keys
      .select(CountMin.mix61(col("k"), 1299709L, 104729L).as("h"),
        explode(expr("array(16L, 32L, 64L)")).as("m"))
      .select(col("m"), expr("h % m").as("bkt"), expr("h div m").as("v"))
      .select(col("m"), col("bkt"),
        expr("least(56, bit_count((v & -v) - 1) + 1)").as("r"))
      .groupBy(col("m"), col("bkt"))
      .agg(max(col("r")).as("rmax"))
    val est = regs.groupBy(col("m"))
      .agg(sum(expr("shiftleft(cast(1 as bigint), 56 - rmax)")).as("tp"),
        count(lit(1)).as("nb"))
      .withColumn("t56", col("tp") +
        (col("m") - col("nb")) * expr("shiftleft(cast(1 as bigint), 56)"))
      .withColumn("num", expr(
        s"""CASE m WHEN 16 THEN CAST('${AlphaM2x1000(16L) * BigInt(2).pow(56)}' AS DECIMAL(38,0))
           |  WHEN 32 THEN CAST('${AlphaM2x1000(32L) * BigInt(2).pow(56)}' AS DECIMAL(38,0))
           |  ELSE CAST('${AlphaM2x1000(64L) * BigInt(2).pow(56)}' AS DECIMAL(38,0)) END"""
          .stripMargin))
      .select(col("m"),
        expr("num div (cast(t56 as decimal(38,0)) * 1000)")
          .cast(LongType).as("hll_est"),
        (col("m") - col("nb")).as("zero_registers"))
    est.crossJoin(broadcast(exact))
      .select(col("m"), col("hll_est"), col("exact_distinct"),
        col("zero_registers"),
        expr("""abs(hll_est - exact_distinct) * 1000000
          |  div exact_distinct""".stripMargin).as("err_ppm"))
      .orderBy(col("m"))
  }

  // ── p55: next-fit-decreasing compaction plan over the month manifest ──

  def p55_compaction_plan(s: SparkSession, dir: String): DataFrame = {
    val manifest = Tables.load(s, dir, "orders")
      .groupBy(substring(col("o_orderdate").cast("string"), 1, 7)
        .as("part"))
      .agg(count(lit(1)).as("nrows"))
    val tot = manifest.agg(sum(col("nrows")).as("total"))
    val planned = graft.operators.Rank.prefixSum(manifest,
        "cum", col("nrows"), col("nrows").desc, col("part"))
      .crossJoin(broadcast(tot))
      .withColumn("target", expr("(total + 3) div 4"))
      .withColumn("bin", expr("(cum - nrows) div target"))
    planned.groupBy(col("bin"), col("target"))
      .agg(count(lit(1)).as("n_parts"), sum(col("nrows")).as("bin_rows"),
        min(col("part")).as("part_min"), max(col("part")).as("part_max"))
      .select(col("bin"), col("n_parts"), col("bin_rows"),
        col("target").as("target_rows"),
        expr("bin_rows * 10000 div target").as("fill_bp"),
        col("part_min"), col("part_max"))
      .orderBy(col("bin"))
  }

  // ── m41: clipping / DC-offset / peak gate through the WAV codec ───────

  def m41_audio_clip_gate(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.AudioExprs
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        AudioExprs.decodeSamples(AudioExprs.encodeWavFromText(
          col("text"), sampleRate = 16000, n = 64)).as("sm"))
      .select(col("doc_id"),
        size(col("sm")).cast(LongType).as("n_samples"),
        expr("cast(size(filter(sm, x -> abs(x) >= 20000)) as bigint)")
          .as("n_clipped"),
        expr("aggregate(sm, 0L, (a, x) -> a + x)").as("sum_samples"),
        expr("cast(array_max(transform(sm, x -> abs(x))) as bigint)")
          .as("peak_abs"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a25_hll_m_sweep"     -> (a25_hll_m_sweep _),
    "p55_compaction_plan" -> (p55_compaction_plan _),
    "m41_audio_clip_gate" -> (m41_audio_clip_gate _))

  /** WAV fixture sample i (shared convention with m10):
    * ((cp·257) mod 65536) − 32768. */
  private def smp(i: String): String =
    s"(((ord(substr(text, CAST((($i) % length(text)) + 1 AS INT), 1)) * 257) % 65536) - 32768)"

  val oracles: Map[String, String] = Map(
    "a25_hll_m_sweep" -> {
      val mixed = SketchSql.mix("keys.k", "1299709", "104729")
      def num(m: Long) = (AlphaM2x1000(m) * BigInt(2).pow(56)).toString
      s"""WITH keys AS (SELECT l_partkey AS k FROM lineitem),
        |ms(m) AS (VALUES (16), (32), (64)),
        |hs AS (
        |  SELECT CAST(ms.m AS BIGINT) AS m, $mixed AS h
        |  FROM keys CROSS JOIN ms),
        |rr AS (
        |  SELECT m, h % m AS bkt,
        |    LEAST(56, bit_count(((h // m) & -(h // m)) - 1) + 1) AS r
        |  FROM hs),
        |regs AS (
        |  SELECT m, bkt, MAX(r) AS rmax FROM rr GROUP BY 1, 2),
        |est AS (
        |  SELECT m,
        |    SUM(CAST(1 AS HUGEINT) << (56 - rmax)) AS tp,
        |    CAST(COUNT(*) AS BIGINT) AS nb
        |  FROM regs GROUP BY 1),
        |fin AS (
        |  SELECT m,
        |    (CASE m WHEN 16 THEN CAST('${num(16)}' AS HUGEINT)
        |       WHEN 32 THEN CAST('${num(32)}' AS HUGEINT)
        |       ELSE CAST('${num(64)}' AS HUGEINT) END)
        |    // ((tp + (m - nb) * (CAST(1 AS HUGEINT) << 56)) * 1000)
        |      AS hll_est,
        |    m - nb AS zero_registers
        |  FROM est),
        |ex AS (SELECT CAST(COUNT(DISTINCT k) AS BIGINT) AS exact_distinct
        |       FROM keys)
        |SELECT fin.m, CAST(fin.hll_est AS BIGINT) AS hll_est,
        |  ex.exact_distinct,
        |  CAST(fin.zero_registers AS BIGINT) AS zero_registers,
        |  CAST(abs(fin.hll_est - ex.exact_distinct) * 1000000
        |    // ex.exact_distinct AS BIGINT) AS err_ppm
        |FROM fin CROSS JOIN ex ORDER BY fin.m""".stripMargin
    },
    "p55_compaction_plan" ->
      """WITH manifest AS (
        |  SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS part,
        |    CAST(COUNT(*) AS BIGINT) AS nrows
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(SUM(nrows) AS BIGINT) AS total FROM manifest),
        |planned AS (
        |  SELECT part, nrows,
        |    CAST(SUM(nrows) OVER (ORDER BY nrows DESC, part
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    (tot.total + 3) // 4 AS target
        |  FROM manifest CROSS JOIN tot)
        |SELECT (cum - nrows) // target AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_parts,
        |  CAST(SUM(nrows) AS BIGINT) AS bin_rows,
        |  target AS target_rows,
        |  CAST(SUM(nrows) AS BIGINT) * 10000 // target AS fill_bp,
        |  MIN(part) AS part_min, MAX(part) AS part_max
        |FROM planned GROUP BY 1, target ORDER BY 1""".stripMargin,
    "m41_audio_clip_gate" ->
      s"""SELECT doc_id,
        |  CAST(64 AS BIGINT) AS n_samples,
        |  CAST(list_sum(list_transform(range(0, 64), i ->
        |    CASE WHEN abs(${smp("i")}) >= 20000 THEN 1 ELSE 0 END))
        |    AS BIGINT) AS n_clipped,
        |  CAST(list_sum(list_transform(range(0, 64), i ->
        |    CAST(${smp("i")} AS BIGINT))) AS BIGINT) AS sum_samples,
        |  CAST(list_max(list_transform(range(0, 64), i ->
        |    abs(${smp("i")}))) AS BIGINT) AS peak_abs
        |FROM documents ORDER BY doc_id""".stripMargin)
}
