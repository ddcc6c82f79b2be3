package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Sixty-fifth batch — diversified retrieval and linear attribution:
  *
  *  - s21: Maximal Marginal Relevance (Carbonell & Goldstein '98,
  *    public) — the diversified top-k a retrieval stack serves when
  *    near-duplicate hits waste the context window: after the cosine
  *    top-10 shortlist per query, three picks are selected greedily by
  *    MMR(c) = (rel(c) − max sim(c, selected))/2 (λ = ½). The greedy
  *    recurrence is unrolled into three join/argmax stages over
  *    shortlist-sized frames (≤10 rows per query; pairwise sims only
  *    among shortlisted candidates — never the corpus), every ranking
  *    key rounded to 12 decimals first, so both engines select the
  *    identical sequence. The diversity complement of s19's fusion.
  *  - q110: linear multi-touch attribution — completing the
  *    attribution trio (q79 last-touch, q83 U-shaped): every click and
  *    view in the 24 h before a purchase shares the credit EQUALLY in
  *    integer basis points, 10000 div n each with the remainder pinned
  *    to the LATEST touch, so every purchase's credits sum to exactly
  *    10000 by construction. Same interval-bounded user-keyed join as
  *    the rest of the family (same skew note), one window to find the
  *    latest touch.
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round65Queries extends QueryModule {

  def s21_mmr(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Vectors
    val emb = Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val q = broadcast(emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv")))
    val c = emb.select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
    val rel = c.crossJoin(q)
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        round(Vectors.cosine(col("qv"), col("cv")), 12).as("rel"))
    val top10 = rel.withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rel").desc, col("cand_id"))))
      .filter(col("rn") <= 10).drop("rn")
      .localCheckpoint(true)
    val cemb = top10.join(c, "cand_id")
    val sims = cemb.select(col("query_id"), col("cand_id").as("a"),
        col("cv").as("cva")).as("x")
      .join(cemb.select(col("query_id"), col("cand_id").as("b"),
        col("cv").as("cvb")).as("y"),
        Seq("query_id"))
      .filter(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        round(Vectors.cosine(col("cva"), col("cvb")), 12).as("sim"))
      .localCheckpoint(true)
    val sel1 = top10.withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rel").desc, col("cand_id"))))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("cand_id").as("c1"), col("rel").as("r1"))
    val st2 = top10.join(sel1, "query_id")
      .filter(col("cand_id") =!= col("c1"))
      .join(sims.select(col("query_id"), col("a").as("cand_id"),
        col("b").as("c1"), col("sim").as("sim1")), Seq("query_id", "cand_id", "c1"))
      .withColumn("sc", round((col("rel") - col("sim1")) / 2, 12))
    val sel2 = st2.withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("sc").desc, col("cand_id"))))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("cand_id").as("c2"), col("sc").as("r2"))
    val st3 = st2.drop("sc")
      .join(sel2, "query_id")
      .filter(col("cand_id") =!= col("c2"))
      .join(sims.select(col("query_id"), col("a").as("cand_id"),
        col("b").as("c2"), col("sim").as("sim2")), Seq("query_id", "cand_id", "c2"))
      .withColumn("sc",
        round((col("rel") - greatest(col("sim1"), col("sim2"))) / 2, 12))
    val sel3 = st3.withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("sc").desc, col("cand_id"))))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("cand_id").as("c3"), col("sc").as("r3"))
    sel1.select(col("query_id"), lit(1L).as("pick"),
        col("c1").as("cand_id"), round(col("r1"), 6).as("score"))
      .unionByName(sel2.select(col("query_id"), lit(2L).as("pick"),
        col("c2").as("cand_id"), round(col("r2"), 6).as("score")))
      .unionByName(sel3.select(col("query_id"), lit(3L).as("pick"),
        col("c3").as("cand_id"), round(col("r3"), 6).as("score")))
      .orderBy(col("query_id"), col("pick"))
  }

  private val WindowUs = 86400000000L // 24 h in micros

  def q110_linear_attribution(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(s, dir, "events")
    val ev = raw.select(col("event_id"), col("user_id"), col("event_type"),
      unix_micros(Tables.tsMicros(raw)).as("ts_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"),
        col("ts_us").as("pts"))
    val touches = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("event_type").as("touch_type"),
        col("event_id").as("tid"), col("ts_us").as("tts"))
    val joined = purchases.join(touches, Seq("user_id"))
      .filter(col("tts") < col("pts") && col("tts") >= col("pts") - WindowUs)
    val w = Window.partitionBy(col("pid"))
    val credits = joined
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(
        w.orderBy(col("tts").desc, col("tid").desc)))
      .withColumn("credit_bp",
        expr("10000 div n + if(rn = 1, pmod(10000, n), 0)"))
    credits.groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("credit_bp")).as("credit_bp_total"),
        countDistinct(col("pid")).as("n_purchases_touched"))
      .orderBy(col("touch_type"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s21_mmr"                 -> (s21_mmr _),
    "q110_linear_attribution" -> (q110_linear_attribution _))

  val oracles: Map[String, String] = Map(
    "s21_mmr" ->
      """WITH e AS (
        |  SELECT vec_id, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |norms AS (
        |  SELECT vec_id, sqrt(SUM(CAST(v AS DOUBLE)*CAST(v AS DOUBLE)))
        |    AS nrm
        |  FROM e GROUP BY 1),
        |dots AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    SUM(CAST(q.v AS DOUBLE) * CAST(c.v AS DOUBLE)) AS dot
        |  FROM e q JOIN e c ON q.i = c.i
        |  WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id
        |  GROUP BY 1, 2),
        |rel AS (
        |  SELECT query_id, cand_id, ROUND(dot/(nq.nrm*nc.nrm), 12) AS rel
        |  FROM dots JOIN norms nq ON nq.vec_id = query_id
        |  JOIN norms nc ON nc.vec_id = cand_id),
        |top10 AS (
        |  SELECT query_id, cand_id, rel FROM (
        |    SELECT query_id, cand_id, rel,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY rel DESC, cand_id) AS rn
        |    FROM rel) WHERE rn <= 10),
        |tops AS (SELECT DISTINCT cand_id FROM top10),
        |dots2 AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |    SUM(CAST(x.v AS DOUBLE) * CAST(y.v AS DOUBLE)) AS dot
        |  FROM e x JOIN e y ON x.i = y.i
        |  WHERE x.vec_id IN (SELECT cand_id FROM tops)
        |    AND y.vec_id IN (SELECT cand_id FROM tops)
        |    AND x.vec_id <> y.vec_id
        |  GROUP BY 1, 2),
        |psim AS (
        |  SELECT t.query_id, d.a, d.b,
        |    ROUND(d.dot/(na.nrm*nb.nrm), 12) AS sim
        |  FROM dots2 d
        |  JOIN norms na ON na.vec_id = d.a
        |  JOIN norms nb ON nb.vec_id = d.b
        |  JOIN top10 t ON t.cand_id = d.a
        |  WHERE EXISTS (SELECT 1 FROM top10 t2
        |    WHERE t2.query_id = t.query_id AND t2.cand_id = d.b)),
        |sel1 AS (
        |  SELECT query_id, cand_id AS c1, rel AS r1 FROM (
        |    SELECT query_id, cand_id, rel,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY rel DESC, cand_id) AS rn
        |    FROM top10) WHERE rn = 1),
        |st2 AS (
        |  SELECT t.query_id, t.cand_id, t.rel, p.sim AS sim1,
        |    ROUND((t.rel - p.sim)/2, 12) AS sc
        |  FROM top10 t JOIN sel1 s ON s.query_id = t.query_id
        |    AND t.cand_id <> s.c1
        |  JOIN psim p ON p.query_id = t.query_id AND p.a = t.cand_id
        |    AND p.b = s.c1),
        |sel2 AS (
        |  SELECT query_id, cand_id AS c2, sc AS r2 FROM (
        |    SELECT query_id, cand_id, sc,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY sc DESC, cand_id) AS rn
        |    FROM st2) WHERE rn = 1),
        |st3 AS (
        |  SELECT t.query_id, t.cand_id,
        |    ROUND((t.rel - GREATEST(t.sim1, p.sim))/2, 12) AS sc
        |  FROM st2 t JOIN sel2 s ON s.query_id = t.query_id
        |    AND t.cand_id <> s.c2
        |  JOIN psim p ON p.query_id = t.query_id AND p.a = t.cand_id
        |    AND p.b = s.c2),
        |sel3 AS (
        |  SELECT query_id, cand_id AS c3, sc AS r3 FROM (
        |    SELECT query_id, cand_id, sc,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY sc DESC, cand_id) AS rn
        |    FROM st3) WHERE rn = 1)
        |SELECT query_id, CAST(1 AS BIGINT) AS pick, c1 AS cand_id,
        |  ROUND(r1, 6) AS score FROM sel1
        |UNION ALL
        |SELECT query_id, CAST(2 AS BIGINT), c2, ROUND(r2, 6) FROM sel2
        |UNION ALL
        |SELECT query_id, CAST(3 AS BIGINT), c3, ROUND(r3, 6) FROM sel3
        |ORDER BY query_id, pick""".stripMargin,
    "q110_linear_attribution" ->
      s"""WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events),
        |p AS (SELECT event_id AS pid, user_id, ts_us AS pts FROM ev
        |      WHERE event_type = 'purchase'),
        |tch AS (SELECT user_id, event_type AS touch_type,
        |          event_id AS tid, ts_us AS tts
        |        FROM ev WHERE event_type IN ('click', 'view')),
        |j AS (
        |  SELECT p.pid, tch.touch_type, tch.tid, tch.tts
        |  FROM p JOIN tch ON tch.user_id = p.user_id
        |   AND tch.tts < p.pts AND tch.tts >= p.pts - $WindowUs),
        |cr AS (
        |  SELECT pid, touch_type,
        |    10000 // (COUNT(*) OVER (PARTITION BY pid)) +
        |    CASE WHEN ROW_NUMBER() OVER (PARTITION BY pid
        |           ORDER BY tts DESC, tid DESC) = 1
        |         THEN 10000 % (COUNT(*) OVER (PARTITION BY pid))
        |         ELSE 0 END AS credit_bp
        |  FROM j)
        |SELECT touch_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
        |  CAST(SUM(credit_bp) AS BIGINT) AS credit_bp_total,
        |  CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_purchases_touched
        |FROM cr GROUP BY touch_type ORDER BY touch_type""".stripMargin)
}
