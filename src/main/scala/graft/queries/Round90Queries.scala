package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.Drain.drain

/** Ninetieth batch — content-aware text segmentation, temporal network
  * motifs, and a streaming model-monitoring twin:
  *
  *  - t51: TextTiling-style segmentation (Hearst 1997) — overlapping
  *    20-token windows at stride 10, adjacent-window cosine over term
  *    count vectors, boundary where similarity dips under τ=0.7. The
  *    comparison stays in integers by cross-multiplying:
  *    cos² < 0.49  ⇔  100·dot² < 49·‖a‖²·‖b‖² — no square root until
  *    the reported mean. This is the content-aware chunker for RAG
  *    pipelines (vs t34's fixed-stride windows).
  *  - q131: temporal motif census (Paranjape et al. 2017) — ordered
  *    3-event sequences within a 6 h window per user, classified by the
  *    type triple. Two user-blocked band self-joins; total order by
  *    (us, event_id) so simultaneous events still count exactly once.
  *    All 125 type triples fire at sf0.01 (1 463 instances).
  *  - e31: streaming calibration monitor — t49's reliability bins
  *    maintained as a complete-mode streaming aggregation (the four
  *    integer sums are the streaming state; associative and
  *    restart-safe), Brier/ECE computed on the drained state. Shares
  *    t49's oracle: the gate proves the streaming path lands the exact
  *    batch answer — the production shape for live model monitoring.
  *
  * Scale: t51 is corpus-linear (windows ≤ 2 rows per token); q131
  * shuffles once on user_id and the band predicates keep each join
  * group O(events-in-window); e31's state is 10 rows of 4 counters.
  *
  * Reference scope: beyond-reference LLM-pipeline surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round90Queries extends QueryModule {

  // ── t51: TextTiling adjacent-window cosine segmentation ───────────────

  def t51_texttiling(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "w")))
    val nd = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // token at pos covers windows k = pos div 10 and k−1
    // (window k spans [10k, 10k+20)); keep fully-covered windows only
    val assign = tok.select(col("doc_id"), col("w"),
        expr("pos div 10").as("k"))
      .unionByName(tok.select(col("doc_id"), col("w"),
        expr("pos div 10 - 1").as("k")).filter(col("k") >= 0))
    val wins = assign.join(nd, "doc_id")
      .filter(col("k") * 10 + 20 <= col("n"))
      .groupBy(col("doc_id"), col("k"), col("w"))
      .agg(count(lit(1)).as("c"))
    val norms = wins.groupBy(col("doc_id"), col("k"))
      .agg(sum(col("c") * col("c")).as("n2"))
    val dots = wins.as("x").join(wins.as("y"),
        col("x.doc_id") === col("y.doc_id") &&
          col("y.k") === col("x.k") + 1 && col("x.w") === col("y.w"))
      .groupBy(col("x.doc_id").as("doc_id"), col("x.k").as("k"))
      .agg(sum(col("x.c") * col("y.c")).as("dot"))
    norms.as("n1").join(norms.as("n2"),
        col("n1.doc_id") === col("n2.doc_id") &&
          col("n2.k") === col("n1.k") + 1)
      .join(dots,
        dots("doc_id") === col("n1.doc_id") && dots("k") === col("n1.k"),
        "left")
      .select(col("n1.doc_id").as("doc_id"),
        coalesce(col("dot"), lit(0L)).as("dot"),
        col("n1.n2").as("na"), col("n2.n2").as("nb"))
      .withColumn("boundary",
        when(lit(100L) * col("dot") * col("dot") <
          lit(49L) * col("na") * col("nb"), 1L).otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("boundary")).as("n_boundaries"),
        (lit(1L) + sum(col("boundary"))).as("n_segments"),
        round(avg(col("dot").cast("double") /
          sqrt(col("na").cast("double") * col("nb"))), 6).as("mean_cos"))
      .orderBy(col("doc_id"))
  }

  // ── q131: temporal 3-event motif census ───────────────────────────────

  private val WinUs = 6L * 3600L * 1000000L

  def q131_temporal_motifs(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val e = ev.select(col("user_id"), col("event_id"), col("event_type"),
      unix_micros(Tables.tsMicros(ev)).as("us"))
    val ab = e.as("a").join(e.as("b"),
      col("b.user_id") === col("a.user_id") &&
        (col("b.us") > col("a.us") ||
          (col("b.us") === col("a.us") &&
            col("b.event_id") > col("a.event_id"))) &&
        col("b.us") - col("a.us") <= WinUs)
    ab.join(e.as("c"),
        col("c.user_id") === col("b.user_id") &&
          (col("c.us") > col("b.us") ||
            (col("c.us") === col("b.us") &&
              col("c.event_id") > col("b.event_id"))) &&
          col("c.us") - col("a.us") <= WinUs)
      .groupBy(col("a.event_type").as("t1"), col("b.event_type").as("t2"),
        col("c.event_type").as("t3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("t1"), col("t2"), col("t3"))
  }

  // ── e31: streaming calibration-monitor twin of t49 ────────────────────

  def e31_stream_calibration(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val stream = Tables.stream(s, dir, "documents", docs.schema)
    val binned = stream.select(col("doc_id"),
        (col("doc_id") * 2654435761L % 1000L).as("sm"))
      .withColumn("label",
        when(col("sm") + col("doc_id") * 40503L % 600L >= 800L, 1L)
          .otherwise(0L))
      .groupBy((col("sm") / 100).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("sm")).as("sum_sm"),
        sum(col("label")).as("sum_label"),
        sum((col("sm") - lit(1000L) * col("label")) *
          (col("sm") - lit(1000L) * col("label"))).as("sq"))
    val bins = drain(binned, "complete")
    val tot = bins.agg(sum(col("n")).as("nn"),
      sum(col("sq")).as("brier_num"),
      sum(abs(lit(1000L) * col("sum_label") - col("sum_sm"))).as("ece_num"))
    bins.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("sum_sm"), col("sum_label"),
        round(col("sum_sm").cast("double") / (col("n") * 1000), 6).as("conf"),
        round(col("sum_label").cast("double") / col("n"), 6).as("acc"),
        round(col("brier_num").cast("double") / (col("nn") * 1000000.0), 6)
          .as("brier"),
        round(col("ece_num").cast("double") / (col("nn") * 1000.0), 6)
          .as("ece"))
      .orderBy(col("bin"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t51_texttiling"         -> (t51_texttiling _),
    "q131_temporal_motifs"   -> (q131_temporal_motifs _),
    "e31_stream_calibration" -> (e31_stream_calibration _))

  val oracles: Map[String, String] = Map(
    "t51_texttiling" ->
      raw"""WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w,
        |    generate_subscripts(string_split_regex(trim(text), '\s+'), 1)
        |      - 1 AS pos
        |  FROM documents),
        |assign AS (
        |  SELECT doc_id, w, pos // 10 AS k FROM tok
        |  UNION ALL
        |  SELECT doc_id, w, pos // 10 - 1 FROM tok WHERE pos // 10 - 1 >= 0),
        |nd AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
        |wins AS (
        |  SELECT a.doc_id, a.k, a.w, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM assign a JOIN nd ON a.doc_id = nd.doc_id
        |  WHERE 10 * a.k + 20 <= nd.n GROUP BY 1, 2, 3),
        |norms AS (
        |  SELECT doc_id, k, CAST(SUM(c * c) AS BIGINT) AS n2
        |  FROM wins GROUP BY 1, 2),
        |dots AS (
        |  SELECT x.doc_id, x.k, CAST(SUM(x.c * y.c) AS BIGINT) AS dot
        |  FROM wins x JOIN wins y
        |    ON x.doc_id = y.doc_id AND y.k = x.k + 1 AND x.w = y.w
        |  GROUP BY 1, 2),
        |sims AS (
        |  SELECT n1.doc_id, COALESCE(d.dot, 0) AS dot, n1.n2 AS na,
        |    n2.n2 AS nb,
        |    CASE WHEN 100 * COALESCE(d.dot, 0) * COALESCE(d.dot, 0)
        |         < 49 * n1.n2 * n2.n2 THEN 1 ELSE 0 END AS boundary
        |  FROM norms n1 JOIN norms n2
        |    ON n1.doc_id = n2.doc_id AND n2.k = n1.k + 1
        |  LEFT JOIN dots d ON d.doc_id = n1.doc_id AND d.k = n1.k)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |  CAST(SUM(boundary) AS BIGINT) AS n_boundaries,
        |  CAST(1 + SUM(boundary) AS BIGINT) AS n_segments,
        |  ROUND(AVG(CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * nb)), 6)
        |    AS mean_cos
        |FROM sims GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q131_temporal_motifs" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |tri AS (
        |  SELECT a.event_type AS t1, b.event_type AS t2, c.event_type AS t3
        |  FROM e a
        |  JOIN e b ON b.user_id = a.user_id
        |    AND (b.us > a.us OR (b.us = a.us AND b.event_id > a.event_id))
        |    AND b.us - a.us <= 21600000000
        |  JOIN e c ON c.user_id = b.user_id
        |    AND (c.us > b.us OR (c.us = b.us AND c.event_id > b.event_id))
        |    AND c.us - a.us <= 21600000000)
        |SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n
        |FROM tri GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "e31_stream_calibration" ->
      """WITH scored AS (
        |  SELECT doc_id, (doc_id * 2654435761) % 1000 AS sm,
        |    CASE WHEN (doc_id * 2654435761) % 1000
        |            + (doc_id * 40503) % 600 >= 800 THEN 1 ELSE 0 END
        |      AS label
        |  FROM documents),
        |bins AS (
        |  SELECT sm // 100 AS bin, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(sm) AS BIGINT) AS sum_sm,
        |    CAST(SUM(label) AS BIGINT) AS sum_label,
        |    CAST(SUM((sm - 1000*label)*(sm - 1000*label)) AS BIGINT) AS sq
        |  FROM scored GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS nn,
        |    CAST(SUM(sq) AS BIGINT) AS brier_num,
        |    CAST(SUM(abs(1000*sum_label - sum_sm)) AS BIGINT) AS ece_num
        |  FROM bins)
        |SELECT b.bin, b.n, b.sum_sm, b.sum_label,
        |  ROUND(CAST(b.sum_sm AS DOUBLE) / (1000 * b.n), 6) AS conf,
        |  ROUND(CAST(b.sum_label AS DOUBLE) / b.n, 6) AS acc,
        |  ROUND(CAST(t.brier_num AS DOUBLE) / (1000000.0 * t.nn), 6)
        |    AS brier,
        |  ROUND(CAST(t.ece_num AS DOUBLE) / (1000.0 * t.nn), 6) AS ece
        |FROM bins b CROSS JOIN tot t ORDER BY b.bin""".stripMargin)
}
