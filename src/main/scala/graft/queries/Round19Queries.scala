package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.operators.{HistQuantile, Hll}
import graft.streaming.Drain.drain

/** Nineteenth batch — per-group cardinality sketching, mergeable
  * quantiles, and deterministic dataset splits:
  *
  *  - a8: per-group HyperLogLog ([[graft.operators.Hll]]) — distinct
  *    users per event type in one groups·64-register aggregate, the
  *    per-key companion to a7's global sketch. Exact counts ride along.
  *  - a9: histogram-sketch quantiles ([[graft.operators.HistQuantile]])
  *    with sketch-guided exact refinement: the bin bracket comes from the
  *    mergeable histogram; the exact rank value is then recovered by
  *    sorting ONLY inside the located bin (windows partition by bin) —
  *    never a global sort of the data.
  *  - e19: streaming twin of a8's register build (complete mode): the
  *    micro-batched register table must equal the batch one cell for
  *    cell, proving HLL state merges losslessly across batches.
  *  - p26: deterministic hash-based train/val/test split (~80/10/10 by
  *    md5 prefix) — the reproducible-assignment op of a training
  *    pipeline; stats per split, engine-portable by construction.
  *
  * Reference scope: extension beyond the reference surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round19Queries extends QueryModule {

  // ── a8: grouped HLL distinct-user estimate per event_type. Registers
  //        and estimate are exact integer arithmetic (Hll scaladoc), so
  //        DuckDB replays every column bit for bit. ─────────────────────
  def a8_hll_grouped(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events").select(col("event_type"), col("user_id"))
    val est = Hll.estimate(
      Hll.registers(ev, Seq("event_type"), "user_id"), Seq("event_type"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    est.join(exact, "event_type").orderBy(col("event_type"))
  }

  // ── a9: p50/p90/p99 of l_extendedprice (in cents) from the $1000-wide
  //        histogram sketch, then the exact rank value recovered inside
  //        the located bins only: cum-below(bin) tells how deep the global
  //        rank sits within the bin, a broadcast SEMI-JOIN against the ≤3
  //        located bins prunes the table BEFORE the per-bin window, and a
  //        per-bin (partitioned, parallel) row_number finds that element —
  //        only the located bins' rows are shuffled/sorted, not the table
  //        (r7 verdict ask #3; the pre-fix plan windowed every bin). ────
  def a9_quantile_hist(s: SparkSession, dir: String): DataFrame = {
    val binW = 100000L
    val cents = Tables.load(s, dir, "lineitem")
      .select(round(col("l_extendedprice") * 100).cast(LongType).as("c"))
    val hist = HistQuantile.histogram(cents, "c", binW).localCheckpoint()
    val qe = HistQuantile.quantiles(hist, binW, Seq(50, 90, 99))
      .withColumn("bin", expr("est_lo div 100000"))
    val below = hist.withColumn("below",
      coalesce(sum(col("cnt")).over(
        Window.orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bin"), col("below"))
    val rankedInBin = cents
      .withColumn("bin", expr("c div 100000"))
      .join(broadcast(qe.select(col("bin")).distinct()), Seq("bin"),
        "left_semi")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("bin")).orderBy(col("c"))).cast(LongType))
    qe.join(below, "bin")
      .join(rankedInBin, "bin")
      .filter(col("rn") === col("rank") - col("below"))
      .select(col("q"), col("rank"), col("est_lo"), col("est_hi"),
        col("c").as("exact_cents"), col("n"))
      .orderBy(col("q"))
  }

  // ── e19: the a8 register table built through Structured Streaming
  //        (one stateful aggregation, complete output mode; the
  //        power-of-two rank dictionary is a stream-static broadcast).
  //        Hash-matching the batch-derived oracle proves the sketch's
  //        merge across micro-batches is lossless. ──────────────────────
  def e19_stream_hll_grouped(s: SparkSession, dir: String): DataFrame = {
    val stream = Tables.stream(s, dir, "events")
      .select(col("event_type"), col("user_id"))
    val regs = Hll.registers(stream, Seq("event_type"), "user_id")
    drain(regs, "complete").orderBy(col("event_type"), col("bkt"))
  }

  // ── p26: reproducible train/val/test assignment by md5(doc_id) prefix:
  //        first hex byte < 0xcc → train (204/256 ≈ 79.7%), < 0xe6 → val
  //        (~10.2%), else test. Pure map-side expression — no shuffle to
  //        assign, one aggregate to report; any engine derives the SAME
  //        split from the id alone (no stored assignment table). ────────
  def p26_train_split(s: SparkSession, dir: String): DataFrame = {
    val h = substring(md5(col("doc_id").cast("string")), 1, 2)
    val split = when(h < "cc", "train").when(h < "e6", "val")
      .otherwise("test")
    Tables.load(s, dir, "documents")
      .select(split.as("split"), col("doc_id"),
        graft.functions.Text.tokenCount(col("text")).cast(LongType)
          .as("ntok"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("total_tokens"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("split"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a8_hll_grouped"        -> (a8_hll_grouped _),
    "a9_quantile_hist"      -> (a9_quantile_hist _),
    "e19_stream_hll_grouped" -> (e19_stream_hll_grouped _),
    "p26_train_split"       -> (p26_train_split _))

  /** (2^e, rank e+1) rows for the trailing-zero dictionary. */
  private val pow2Rows: String =
    (0 until 55).map(e => s"(${1L << e}, ${e + 1})").mkString(", ")

  /** α₆₄·64²·2^56 as one literal (see Round18Queries.hllNum). */
  private val hllNum: String =
    (BigInt(2904064) * BigInt(2).pow(56)).toString

  /** Shared register-table SQL over events grouped by event_type. */
  private val hllRegsCte: String =
    s"""hv AS (
      |  SELECT event_type,
      |    ${SketchSql.mix("user_id", "1299709", "104729")} AS h
      |  FROM events),
      |hb AS (SELECT event_type, h % 64 AS bkt, h // 64 AS v FROM hv),
      |p2(p, r) AS (VALUES $pow2Rows),
      |regs AS (
      |  SELECT event_type, bkt, MAX(COALESCE(p2.r, 56)) AS rmax
      |  FROM hb LEFT JOIN p2 ON (hb.v & (-hb.v)) = p2.p
      |  GROUP BY event_type, bkt)""".stripMargin

  val oracles: Map[String, String] = Map(
    "a8_hll_grouped" ->
      s"""WITH $hllRegsCte,
        |agg AS (
        |  SELECT event_type,
        |    CAST(SUM(1::BIGINT << (56 - rmax)) AS BIGINT) AS tp,
        |    COUNT(*) AS nb
        |  FROM regs GROUP BY event_type),
        |sel AS (
        |  SELECT event_type,
        |    CAST(tp + (64 - nb) * (1::BIGINT << 56) AS BIGINT) AS t56,
        |    CAST(64 - nb AS BIGINT) AS zero_registers
        |  FROM agg),
        |ex AS (
        |  SELECT event_type,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
        |  FROM events GROUP BY event_type)
        |SELECT sel.event_type,
        |  CAST($hllNum::HUGEINT // (1000::HUGEINT * sel.t56) AS BIGINT)
        |    AS hll_est,
        |  sel.t56, sel.zero_registers, ex.exact_distinct
        |FROM sel JOIN ex USING (event_type)
        |ORDER BY sel.event_type""".stripMargin,
    // the oracle recovers the exact value with a single global
    // ROW_NUMBER — same multiset, same rank-th element as the engine's
    // bin-local refinement, so the hash gate checks the refinement's
    // correctness, not its plan shape
    "a9_quantile_hist" ->
      """WITH cents AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
        |  FROM lineitem),
        |hist AS (SELECT c // 100000 AS bin, COUNT(*) AS cnt
        |  FROM cents GROUP BY 1),
        |cum AS (SELECT bin, SUM(cnt) OVER (ORDER BY bin) AS cum FROM hist),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cents),
        |qs(q) AS (VALUES (CAST(50 AS BIGINT)), (CAST(90 AS BIGINT)),
        |  (CAST(99 AS BIGINT))),
        |rk AS (SELECT q, (q * n + 99) // 100 AS rank, n
        |  FROM qs CROSS JOIN tot),
        |est AS (SELECT rk.q, MIN(cum.bin) AS bin
        |  FROM rk JOIN cum ON cum.cum >= rk.rank GROUP BY rk.q),
        |ranked AS (
        |  SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn FROM cents)
        |SELECT rk.q, rk.rank, est.bin * 100000 AS est_lo,
        |  (est.bin + 1) * 100000 - 1 AS est_hi,
        |  r.c AS exact_cents, rk.n
        |FROM rk JOIN est ON est.q = rk.q
        |JOIN ranked r ON r.rn = rk.rank
        |ORDER BY rk.q""".stripMargin,
    "e19_stream_hll_grouped" ->
      s"""WITH $hllRegsCte
        |SELECT event_type, bkt, CAST(rmax AS INT) AS rmax
        |FROM regs ORDER BY event_type, bkt""".stripMargin,
    "p26_train_split" ->
      """WITH assigned AS (
        |  SELECT CASE
        |      WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
        |        THEN 'train'
        |      WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
        |        THEN 'val'
        |      ELSE 'test' END AS split,
        |    doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS ntok
        |  FROM documents)
        |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(ntok) AS BIGINT) AS total_tokens,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM assigned GROUP BY split ORDER BY split""".stripMargin)
}
