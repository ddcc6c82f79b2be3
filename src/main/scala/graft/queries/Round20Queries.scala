package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.operators.{HistQuantile, Vectors}

/** Twentieth batch — scalar-quantized ANN, sketch artifact maintenance,
  * and event anomaly monitoring:
  *
  *  - s12: int8 scalar quantization + ADC + exact rerank — the SQ
  *    compression alternative to s9's product quantization: 64 bytes per
  *    vector (one code per dimension, shared per-dim affine grid) instead
  *    of PQ's subspace codebooks. Candidate generation scans the
  *    compressed domain in pure integer arithmetic; the top-25 are
  *    reranked by exact cosine on the raw vectors.
  *  - p27: incremental update of the persisted a9 histogram artifact —
  *    merge the standing sketch with a new batch's histogram and write it
  *    back (d16's maintenance cycle for the quantile sketch): the raw
  *    history is never rescanned, additivity (spec-pinned in r19) is what
  *    makes the cycle sound.
  *  - q82: trailing-24h anomaly monitor over hourly event volumes — each
  *    hour scored against 2× its trailing-day mean in exact integer
  *    arithmetic (the window runs over the tiny hourly aggregate, never
  *    raw events).
  *
  * Reference scope: extension beyond the reference surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round20Queries extends QueryModule {

  // ── s12: per-dimension affine int8 grid on the round(x·1e6) integer
  //        lattice: code = ((qx − mn)·255) div (mx − mn), decode =
  //        mn + (code·(mx − mn)) div 255 — all integer, so both engines
  //        agree bit for bit. ADC = Σ(qx_query − decode_cand)², a
  //        64-long dot per pair in the compressed domain; top-25 per
  //        query rerank exactly. ─────────────────────────────────────────
  def s12_sq8_rerank(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val flat = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), col("i"),
        round(col("x") * 1e6).cast(LongType).as("qx"))
      .localCheckpoint()
    val stats = flat.groupBy(col("i"))
      .agg(min(col("qx")).as("mn"), max(col("qx")).as("mx"))
    val dec = flat.join(broadcast(stats), "i")
      .withColumn("code", expr("((qx - mn) * 255) div greatest(mx - mn, 1)"))
      .select(col("vec_id"), col("i"),
        (col("mn") + expr("(code * (mx - mn)) div 255")).as("dec"))
    val q = flat.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("i"), col("qx"))
    val dadc = q.join(dec.withColumnRenamed("vec_id", "cand_id"), "i")
      .filter(col("query_id") =!= col("cand_id"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum((col("qx") - col("dec")) * (col("qx") - col("dec")))
        .as("dadc"))
    val cands = dadc
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("dadc"), col("cand_id"))))
      .filter(col("crk") <= 25)
      .select(col("query_id"), col("cand_id"))
    val raw = emb.select(col("vec_id"), col("embedding"))
    val rer = cands
      .join(raw.select(col("vec_id").as("query_id"),
        col("embedding").as("qv")), "query_id")
      .join(raw.select(col("vec_id").as("cand_id"),
        col("embedding").as("cv")), "cand_id")
      .select(col("query_id"), col("cand_id"),
        Vectors.cosine(col("qv"), col("cv")).as("cosv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosv").desc, col("cand_id"))
    rer.withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("cand_id"),
        round(col("cosv"), 6).as("cosine"), col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  // ── p27: the a9 histogram as a maintained artifact. "Existing" = even
  //        orders' price histogram persisted to parquet; "batch" = odd
  //        orders; update = additive merge + write-back. Reported: merged
  //        sketch size and mass, p99 bracket lower bound before/after —
  //        the drift signal a pipeline alerts on. ──────────────────────
  def p27_hist_artifact_update(s: SparkSession, dir: String): DataFrame = {
    val binW = 100000L
    val li = Tables.load(s, dir, "lineitem")
    def cents(df: DataFrame) = df.select(
      round(col("l_extendedprice") * 100).cast(LongType).as("c"))
    val existing = HistQuantile.histogram(
      cents(li.filter(col("l_orderkey") % 2 === 0)), "c", binW)
    val artDir = graft.Scratch.dir("p27_hist", dir)
    graft.sinks.ParquetSink.write(existing, artDir)
    val before = s.read.parquet(artDir)
    val batch = HistQuantile.histogram(
      cents(li.filter(col("l_orderkey") % 2 === 1)), "c", binW)
    val mergedDir = graft.Scratch.dir("p27_hist_merged", dir)
    graft.sinks.ParquetSink.write(
      HistQuantile.merge(before, batch), mergedDir)
    val after = s.read.parquet(mergedDir)
    after.agg(count(lit(1)).as("n_bins"),
        sum(col("cnt")).cast(LongType).as("n_total"))
      .crossJoin(HistQuantile.quantiles(before, binW, Seq(99))
        .select(col("est_lo").as("p99_lo_before")))
      .crossJoin(HistQuantile.quantiles(after, binW, Seq(99))
        .select(col("est_lo").as("p99_lo_after")))
  }

  // ── q82: hours whose volume exceeds 2× the trailing-24h mean, scored
  //        as integer basis points of that mean (cnt·2400 div Σprev —
  //        no float division). Only hours with a full trailing day
  //        qualify. The window runs over ≤ hours-in-fixture rows. ───────
  def q82_hourly_anomaly(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(s, dir, "events")
    val hourly = raw
      .withColumn("ts_us", Tables.tsMicros(raw))
      .groupBy(date_trunc("hour", col("ts_us")).as("hour"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("hour")).rowsBetween(-24, -1)
    hourly
      .withColumn("sum_prev", sum(col("cnt")).over(w))
      .withColumn("n_prev", count(col("cnt")).over(w))
      .filter(col("n_prev") === 24)
      .select(col("hour"), col("cnt"), col("sum_prev"),
        expr("(cnt * 2400) div sum_prev").as("pct_of_trailing_mean"),
        (col("cnt") * 24 > col("sum_prev") * 2).as("is_anomaly"))
      .orderBy(col("hour"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s12_sq8_rerank"           -> (s12_sq8_rerank _),
    "p27_hist_artifact_update" -> (p27_hist_artifact_update _),
    "q82_hourly_anomaly"       -> (q82_hourly_anomaly _))

  val oracles: Map[String, String] = Map(
    // the whole SQ chain replayed on the integer lattice, then the same
    // exact-cosine rerank convention as s1
    "s12_sq8_rerank" ->
      """WITH raw AS (
        |  SELECT vec_id, unnest(embedding) AS x,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |g AS (
        |  SELECT vec_id, i,
        |    CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS qx
        |  FROM raw),
        |st AS (SELECT i, MIN(qx) AS mn, MAX(qx) AS mx FROM g GROUP BY i),
        |codes AS (
        |  SELECT g.vec_id, g.i,
        |    ((g.qx - st.mn) * 255) // GREATEST(st.mx - st.mn, 1) AS code,
        |    st.mn, st.mx
        |  FROM g JOIN st USING (i)),
        |dec AS (
        |  SELECT vec_id, i, mn + (code * (mx - mn)) // 255 AS dec
        |  FROM codes),
        |qs AS (SELECT vec_id AS query_id, i, qx FROM g WHERE vec_id < 5),
        |dadc AS (
        |  SELECT qs.query_id, dec.vec_id AS cand_id,
        |    CAST(SUM((qs.qx - dec.dec) * (qs.qx - dec.dec)) AS BIGINT)
        |      AS dadc
        |  FROM qs JOIN dec ON dec.i = qs.i
        |  WHERE dec.vec_id <> qs.query_id
        |  GROUP BY 1, 2),
        |cands AS (
        |  SELECT query_id, cand_id FROM (
        |    SELECT query_id, cand_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY dadc, cand_id) AS crk
        |    FROM dadc) WHERE crk <= 25),
        |e AS (
        |  SELECT vec_id, unnest(embedding) AS v,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |dots AS (
        |  SELECT c.query_id, c.cand_id,
        |    SUM(CAST(q.v AS DOUBLE) * CAST(ca.v AS DOUBLE)) AS dot
        |  FROM cands c
        |  JOIN e q ON q.vec_id = c.query_id
        |  JOIN e ca ON ca.vec_id = c.cand_id AND ca.i = q.i
        |  GROUP BY 1, 2),
        |norms AS (
        |  SELECT vec_id, sqrt(SUM(CAST(v AS DOUBLE)*CAST(v AS DOUBLE)))
        |    AS nrm
        |  FROM e GROUP BY 1),
        |ranked AS (
        |  SELECT query_id, cand_id,
        |    ROUND(dot/(nq.nrm*nc.nrm), 6) AS cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY dot/(nq.nrm*nc.nrm) DESC, cand_id) AS rk
        |  FROM dots JOIN norms nq ON nq.vec_id = query_id
        |  JOIN norms nc ON nc.vec_id = cand_id)
        |SELECT query_id, cand_id, cosine, CAST(rk AS BIGINT) AS rk
        |FROM ranked WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin,
    "p27_hist_artifact_update" ->
      """WITH cents AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
        |    l_orderkey
        |  FROM lineitem),
        |before_h AS (SELECT c // 100000 AS bin, COUNT(*) AS cnt
        |  FROM cents WHERE l_orderkey % 2 = 0 GROUP BY 1),
        |after_h AS (SELECT c // 100000 AS bin, COUNT(*) AS cnt
        |  FROM cents GROUP BY 1),
        |bq AS (SELECT bin, SUM(cnt) OVER (ORDER BY bin) AS cum
        |  FROM before_h),
        |bn AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM before_h),
        |bsel AS (SELECT MIN(bin) * 100000 AS p99_lo_before
        |  FROM bq CROSS JOIN bn WHERE bq.cum >= (99 * bn.n + 99) // 100),
        |aq AS (SELECT bin, SUM(cnt) OVER (ORDER BY bin) AS cum
        |  FROM after_h),
        |an AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM after_h),
        |asel AS (SELECT MIN(bin) * 100000 AS p99_lo_after
        |  FROM aq CROSS JOIN an WHERE aq.cum >= (99 * an.n + 99) // 100),
        |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
        |  CAST(SUM(cnt) AS BIGINT) AS n_total FROM after_h)
        |SELECT stats.n_bins, stats.n_total,
        |  bsel.p99_lo_before, asel.p99_lo_after
        |FROM stats CROSS JOIN bsel CROSS JOIN asel""".stripMargin,
    "q82_hourly_anomaly" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
        |    COUNT(*) AS cnt
        |  FROM events GROUP BY 1),
        |trail AS (
        |  SELECT hour, cnt,
        |    SUM(cnt) OVER (ORDER BY hour
        |      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS sum_prev,
        |    COUNT(cnt) OVER (ORDER BY hour
        |      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS n_prev
        |  FROM hourly),
        |t2 AS (
        |  SELECT hour, cnt, CAST(sum_prev AS BIGINT) AS sum_prev, n_prev
        |  FROM trail)
        |SELECT hour, cnt, sum_prev,
        |  CAST((cnt * 2400) // sum_prev AS BIGINT) AS pct_of_trailing_mean,
        |  cnt * 24 > sum_prev * 2 AS is_anomaly
        |FROM t2 WHERE n_prev = 24 ORDER BY hour""".stripMargin)
}
