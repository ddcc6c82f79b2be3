package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.streaming.Drain.drain

/** Hundred-nineteenth batch — robust aggregation, term dispersion, and
  * streaming vector-space monitoring:
  *
  *  - q164: exact winsorized mean — the robust-statistics cleaning step
  *    (clamp to [p5, p95], then average) without a single global sort:
  *    the value CDF is the distinct-value table run through
  *    Rank.prefixSum (the distributed scan), the nearest-rank p5/p95
  *    are one aggregate over it, and the clamped mean is a second full
  *    pass in exact integer cents. The same two-pass selection
  *    discipline as q143, extended to a robust aggregate.
  *  - t69: term burstiness — the variance-to-mean ratio (dispersion
  *    index) of per-document counts for the 20 highest-df terms
  *    (Church & Gale 1995: content words are bursty, function words
  *    Poisson-like; VMR ≈ 1 means a term carries no topical signal).
  *    Exact integer cross-multiplication: VMR·10⁶ =
  *    (n·Σx² − T²)·10⁶ div (n·T) with absent-doc zeros contributing
  *    nothing to Σx² and everything to n.
  *  - e38: s26's centroid-drift monitor ON THE STREAM — embedding
  *    vectors quantize and reduce to the 2×dims (grp, i, sv, n) state
  *    table as they arrive (complete-mode memory sink as the vehicle);
  *    the drift algebra downstream of the reduction is shared code with
  *    the batch path and the oracle is shared row for row.
  *
  * Scale: q164 is two corpus passes + one distinct-value scan, zero
  * sorts; t69 reduces to a vocab table before TakeOrdered top-20; e38's
  * stream state is 2×dims counter rows whatever the corpus size.
  *
  * Reference scope: beyond-reference LLM-pipeline surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round119Queries extends QueryModule {

  // ── q164: exact winsorized mean via the distinct-value CDF ────────────

  def q164_winsorized_mean(s: SparkSession, dir: String): DataFrame = {
    val v = Tables.load(s, dir, "orders")
      .select(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("x"))
    val dv = v.groupBy(col("x")).agg(count(lit(1)).as("c"))
    val cum = graft.operators.Rank.prefixSum(dv, "cum", col("c"), col("x"))
      .localCheckpoint(true)
    val nn = cum.agg(max(col("cum")).as("n"))
    // nearest-rank quantiles: smallest x whose running count reaches
    // ceil(p·n) — exact integers, no interpolation
    val th = cum.crossJoin(broadcast(nn))
      .agg(first(col("n")).as("n"),
        min(when(col("cum") >= expr("(5 * n + 99) div 100"), col("x")))
          .as("p5"),
        min(when(col("cum") >= expr("(95 * n + 99) div 100"), col("x")))
          .as("p95"))
    v.crossJoin(broadcast(th))
      .agg(first(col("n")).as("n_rows"),
        first(col("p5")).as("p5_cents"),
        first(col("p95")).as("p95_cents"),
        sum(when(col("x") < col("p5"), 1L).otherwise(0L)).as("n_lo_clip"),
        sum(when(col("x") > col("p95"), 1L).otherwise(0L)).as("n_hi_clip"),
        sum(col("x")).as("sum_raw"),
        sum(greatest(col("p5"), least(col("p95"), col("x"))))
          .as("sum_wins"))
      .select(col("n_rows"), col("p5_cents"), col("p95_cents"),
        col("n_lo_clip"), col("n_hi_clip"),
        expr("sum_raw div n_rows").as("mean_raw_cents"),
        expr("sum_wins div n_rows").as("mean_wins_cents"))
  }

  // ── t69: dispersion index of the top-df terms ─────────────────────────

  def t69_burstiness(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val docs = Tables.load(s, dir, "documents")
    val nDocs = docs.agg(count(lit(1)).as("nd"))
    val cnt = docs
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
      .groupBy(col("w"), col("doc_id"))
      .agg(count(lit(1)).as("x"))
    val top = cnt.groupBy(col("w"))
      .agg(countDistinct(col("doc_id")).as("df"),
        sum(col("x")).as("tt"), sum(col("x") * col("x")).as("sx2"))
      .orderBy(col("df").desc, col("w"))
      .limit(20)
    // docs where the term is absent contribute x = 0: nothing to Σx²,
    // everything to n — so VMR needs only the corpus doc count
    broadcast(top).crossJoin(broadcast(nDocs))
      .select(col("w"), col("df"), col("tt").as("total_occ"),
        expr("(nd * sx2 - tt * tt) * 1000000 div (nd * tt)").as("vmr_ppm"))
      .orderBy(col("df").desc, col("w"))
  }

  // ── e38: streaming centroid-drift monitor ─────────────────────────────

  def e38_stream_centroid_drift(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.stream(s, dir, "embeddings")
    val agg = raw
      .select((col("vec_id") % 2).as("grp"), posexplode(expr(
        "transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint))"))
        .as(Seq("i", "v")))
      .groupBy(col("grp"), col("i"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
    Round118Queries.driftFromSums(drain(agg, "complete").localCheckpoint(true))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q164_winsorized_mean"     -> (q164_winsorized_mean _),
    "t69_burstiness"           -> (t69_burstiness _),
    "e38_stream_centroid_drift" -> (e38_stream_centroid_drift _))

  val oracles: Map[String, String] = Map(
    "q164_winsorized_mean" ->
      """WITH v AS (
        |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x
        |  FROM orders),
        |dv AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY 1),
        |cum AS (
        |  SELECT x, CAST(SUM(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS cum
        |  FROM dv),
        |nn AS (SELECT MAX(cum) AS n FROM cum),
        |th AS (
        |  SELECT nn.n,
        |    MIN(CASE WHEN cum >= (5 * nn.n + 99) // 100 THEN x END) AS p5,
        |    MIN(CASE WHEN cum >= (95 * nn.n + 99) // 100 THEN x END) AS p95
        |  FROM cum CROSS JOIN nn GROUP BY nn.n)
        |SELECT th.n AS n_rows, th.p5 AS p5_cents, th.p95 AS p95_cents,
        |  CAST(SUM(CASE WHEN v.x < th.p5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_lo_clip,
        |  CAST(SUM(CASE WHEN v.x > th.p95 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hi_clip,
        |  CAST(SUM(v.x) AS BIGINT) // th.n AS mean_raw_cents,
        |  CAST(SUM(greatest(th.p5, least(th.p95, v.x))) AS BIGINT) // th.n
        |    AS mean_wins_cents
        |FROM v CROSS JOIN th
        |GROUP BY th.n, th.p5, th.p95""".stripMargin,
    "t69_burstiness" ->
      raw"""WITH nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
        |cnt AS (
        |  SELECT w, doc_id, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM (SELECT doc_id,
        |          unnest(string_split_regex(trim(text), '\s+')) AS w
        |        FROM documents)
        |  GROUP BY 1, 2),
        |top AS (
        |  SELECT w, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
        |    CAST(SUM(x) AS BIGINT) AS tt,
        |    CAST(SUM(x * x) AS BIGINT) AS sx2
        |  FROM cnt GROUP BY 1
        |  ORDER BY df DESC, w LIMIT 20)
        |SELECT top.w, top.df, top.tt AS total_occ,
        |  (nd.nd * top.sx2 - top.tt * top.tt) * 1000000 // (nd.nd * top.tt)
        |    AS vmr_ppm
        |FROM top CROSS JOIN nd
        |ORDER BY top.df DESC, top.w""".stripMargin,
    "e38_stream_centroid_drift" ->
      Round118Queries.oracles("s26_centroid_drift"))
}
