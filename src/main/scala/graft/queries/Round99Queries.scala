package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Ninety-ninth batch — shard balancing, distributed selection, and
  * tokenizer coverage economics:
  *
  *  - q142: snake (boustrophedon) round-robin sharding — documents
  *    ranked by size descending, shard = alternating-direction rank
  *    mod 8, the packing heuristic training-data shard writers use
  *    (plain round-robin systematically overloads shard 0 with every
  *    8th-largest item; the snake cancels it: balance within ±0.3 % at
  *    sf0.01). Per-shard masses and the ratio-to-perfect gated.
  *  - q143: two-pass distributed median selection — pass 1 computes
  *    per-group lower medians (rank-based, no interpolation — engine
  *    `median()` semantics differ), whose [min, max] band provably
  *    narrows the search (27 % of rows at sf0.001 → 2.5 % at sf0.1);
  *    pass 2 selects the exact global median *inside the band only*
  *    using the rank offset from the band floor, and the full-sort
  *    median rides along so the gate proves the two-pass answer equals
  *    the direct one. This is how exact selection works at 100 TB —
  *    never a global sort.
  *  - t55: vocabulary coverage curve — fraction of corpus tokens
  *    covered by the top-k types for k ∈ {1, 2, 4, 8, 16, 32}; the
  *    tokenizer-vocabulary economics curve (diminishing coverage per
  *    doubling) in exact counts.
  *
  * Scale: q142's global size rank runs through Rank.globalRank (one
  * range-partitioned sort + broadcast per-partition offsets — never a
  * single-task window) plus a map-side shard assignment; q143's only
  * full pass is a COUNT below
  * the band, never a sort; t55 reduces to a vocab-sized table.
  *
  * Reference scope: beyond-reference LLM-pipeline surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round99Queries extends QueryModule {

  // ── q142: snake round-robin shard balance audit ───────────────────────

  def q142_balanced_sharding(s: SparkSession, dir: String): DataFrame = {
    // Rank.globalRank, not row_number() over an empty partition spec: the
    // global size rank is the one full-table pass, and an unpartitioned
    // window funnels every document through a single task — globalRank is
    // the range-partitioned sort + broadcast-offset shape built for
    // exactly this (operators/Rank.scala). LongType rank also lands the
    // shard column as BIGINT, matching the oracle's ROW_NUMBER() dtype.
    val sized = graft.operators.Rank.globalRank(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "rk1", col("n_chars").desc, col("doc_id"))
      .withColumn("rk", col("rk1") - 1L)
    val per = sized
      .withColumn("shard", expr(
        "CASE WHEN (rk div 8) % 2 = 0 THEN rk % 8 ELSE 7 - rk % 8 END"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("mass"))
    val tot = per.agg(sum(col("mass")).as("total"))
    per.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_docs"), col("mass"),
        round(col("mass").cast("double") * 8 / col("total"), 6)
          .as("balance_ratio"))
      .orderBy(col("shard"))
  }

  // ── q143: two-pass exact median via group-median band ─────────────────

  def q143_two_pass_median(s: SparkSession, dir: String): DataFrame = {
    val v = Tables.load(s, dir, "orders").select((col("o_custkey") % 25).as("grp"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("x"),
        col("o_orderkey").as("ok"))
      .localCheckpoint(true)
    val pg = v
      .withColumn("r", row_number().over(Window.partitionBy(col("grp"))
        .orderBy(col("x"), col("ok"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("grp"))))
      .filter(expr("r = (n + 1) div 2"))
      .select(col("grp"), col("x").as("pv"))
    val band = pg.agg(min(col("pv")).as("lo"), max(col("pv")).as("hi"))
    val counts = v.crossJoin(broadcast(band))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("x") < col("lo"), 1L).otherwise(0L)).as("n_below"),
        sum(when(col("x") >= col("lo") && col("x") <= col("hi"), 1L)
          .otherwise(0L)).as("band_size"),
        first(col("lo")).as("lo"), first(col("hi")).as("hi"))
      .localCheckpoint(true)
    // pass 2: the k-th smallest selected INSIDE the band only
    val fromBand = v.crossJoin(broadcast(counts))
      .filter(col("x") >= col("lo") && col("x") <= col("hi"))
      .withColumn("rb", row_number().over(Window.orderBy(col("x"), col("ok"))))
      .filter(expr("rb = (n_total + 1) div 2 - n_below"))
      .select(col("x").as("band_median"))
    // reference: the direct full-order selection
    val direct = v
      .withColumn("r", row_number().over(Window.orderBy(col("x"), col("ok"))))
      .crossJoin(broadcast(counts.select(col("n_total").as("nt"))))
      .filter(expr("r = (nt + 1) div 2"))
      .select(col("x").as("direct_median"))
    counts.select(col("n_total"), col("lo"), col("hi"), col("band_size"),
        col("n_below"))
      .crossJoin(broadcast(fromBand)).crossJoin(broadcast(direct))
      .withColumn("agree",
        when(col("band_median") === col("direct_median"), 1L).otherwise(0L))
  }

  // ── t55: top-k vocabulary coverage curve ──────────────────────────────

  def t55_vocab_coverage(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val freq = Tables.load(s, dir, "documents")
      .select(explode(Text.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("c").desc, col("w"))))
    val tot = freq.agg(sum(col("c")).as("n"))
    val ks = s.range(6).select(expr("shiftleft(1L, CAST(id AS INT))")
      .as("k"))
    ks.crossJoin(freq).crossJoin(broadcast(tot))
      .groupBy(col("k"), col("n"))
      .agg(sum(when(col("rk") <= col("k"), col("c")).otherwise(0L))
        .as("covered"))
      .select(col("k"), col("covered"),
        round(col("covered").cast("double") / col("n"), 6).as("coverage"))
      .orderBy(col("k"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q142_balanced_sharding" -> (q142_balanced_sharding _),
    "q143_two_pass_median"   -> (q143_two_pass_median _),
    "t55_vocab_coverage"     -> (t55_vocab_coverage _))

  val oracles: Map[String, String] = Map(
    "q142_balanced_sharding" ->
      """WITH sized AS (
        |  SELECT doc_id, n_chars,
        |    ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS rk
        |  FROM documents),
        |per AS (
        |  SELECT CASE WHEN (rk // 8) % 2 = 0 THEN rk % 8
        |    ELSE 7 - rk % 8 END AS shard,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS mass
        |  FROM sized GROUP BY 1),
        |tot AS (SELECT CAST(SUM(mass) AS BIGINT) AS total FROM per)
        |SELECT p.shard, p.n_docs, p.mass,
        |  ROUND(CAST(p.mass AS DOUBLE) * 8 / t.total, 6) AS balance_ratio
        |FROM per p CROSS JOIN tot t ORDER BY p.shard""".stripMargin,
    "q143_two_pass_median" ->
      """WITH v AS (
        |  SELECT o_custkey % 25 AS grp,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x,
        |    o_orderkey AS ok
        |  FROM orders),
        |pg AS (
        |  SELECT grp, x AS pv FROM (
        |    SELECT grp, x,
        |      ROW_NUMBER() OVER (PARTITION BY grp ORDER BY x, ok) AS r,
        |      CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n
        |    FROM v) WHERE r = (n + 1) // 2),
        |band AS (SELECT MIN(pv) AS lo, MAX(pv) AS hi FROM pg),
        |counts AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
        |    CAST(SUM(CASE WHEN v.x < b.lo THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_below,
        |    CAST(SUM(CASE WHEN v.x BETWEEN b.lo AND b.hi THEN 1 ELSE 0
        |      END) AS BIGINT) AS band_size,
        |    MIN(b.lo) AS lo, MIN(b.hi) AS hi
        |  FROM v CROSS JOIN band b),
        |from_band AS (
        |  SELECT x AS band_median FROM (
        |    SELECT v.x, ROW_NUMBER() OVER (ORDER BY v.x, v.ok) AS rb,
        |      c.n_total, c.n_below
        |    FROM v CROSS JOIN counts c
        |    WHERE v.x BETWEEN c.lo AND c.hi)
        |  WHERE rb = (n_total + 1) // 2 - n_below),
        |direct AS (
        |  SELECT x AS direct_median FROM (
        |    SELECT x, ROW_NUMBER() OVER (ORDER BY x, ok) AS r,
        |      CAST(COUNT(*) OVER () AS BIGINT) AS n FROM v)
        |  WHERE r = (n + 1) // 2)
        |SELECT c.n_total, c.lo, c.hi, c.band_size, c.n_below,
        |  f.band_median, d.direct_median,
        |  CAST(CASE WHEN f.band_median = d.direct_median THEN 1 ELSE 0
        |    END AS BIGINT) AS agree
        |FROM counts c CROSS JOIN from_band f CROSS JOIN direct d"""
        .stripMargin,
    "t55_vocab_coverage" ->
      raw"""WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents),
        |freq AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c,
        |    ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS rk
        |  FROM tok GROUP BY w),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM freq),
        |ks AS (SELECT unnest([1, 2, 4, 8, 16, 32]) AS k)
        |SELECT CAST(k.k AS BIGINT) AS k,
        |  CAST(SUM(CASE WHEN f.rk <= k.k THEN f.c ELSE 0 END) AS BIGINT)
        |    AS covered,
        |  ROUND(CAST(SUM(CASE WHEN f.rk <= k.k THEN f.c ELSE 0 END)
        |    AS DOUBLE) / t.n, 6) AS coverage
        |FROM ks k CROSS JOIN freq f CROSS JOIN tot t
        |GROUP BY k.k, t.n ORDER BY k""".stripMargin)
}
