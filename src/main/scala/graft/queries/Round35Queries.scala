package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Thirty-fifth batch — spectral, importance-sampling, and drift shapes:
  *
  *  - s15: top principal direction of the embedding Gram matrix by power
  *    iteration — the spectral primitive under PCA whitening / dim
  *    reduction. The Gram matrix is ONE map-side-combined aggregate
  *    (d²=4096 cells whatever the corpus size); the three iterations run
  *    on that sketch-sized table with q74's rounding discipline, so an
  *    unrolled SQL oracle replays every loading.
  *  - d25: DSIR-style importance weights (Xie et al. 2023) in exact
  *    integer arithmetic — score out-of-target documents by how
  *    target-like their hashed-token distribution is, the
  *    importance-resampling signal for data selection. Feature weights
  *    are cross-multiplied count ratios in basis points (no float logs).
  *  - p30: distribution-drift monitor — total-variation distance in
  *    basis points between week-1 and week-4 value histograms per event
  *    type, integer cross-multiplication throughout; the alert a feature
  *    pipeline fires before a drifted batch reaches training.
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round35Queries extends QueryModule {

  // ── s15: embeddings quantize to round(x·10³) (coarser than the 10⁶
  //        lattice elsewhere: it keeps every Gram cell ≲1e8 so the
  //        per-term ROUND(g·v, 6) stays under 2^53 and both engines
  //        round identical doubles — the determinism budget documented
  //        here on purpose). v₀ ≡ 1; each iteration u = G·v with
  //        per-term DECIMAL(38,6) rounding pre-sum, then v ← u/max|u|
  //        rounded to 12 dp. Returns the 64 loadings and the dominant
  //        eigenvalue estimate (the last normalizer). ────────────────────
  def s15_power_iteration(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    // per-vector OUTER PRODUCT by two chained generates off ONE scan —
    // no self-join, no shuffle before the 4096-cell aggregate (the
    // original shape joined q⋈q on vec_id: same cells, one avoidable
    // corpus-sized shuffle)
    val q = emb.select(col("vec_id"),
      expr("transform(embedding, " +
        "x -> cast(round(cast(x as double) * 1000) as bigint))").as("qv"))
    val gram = q
      .select(col("qv"), posexplode(col("qv")).as(Seq("i", "qi")))
      .select(col("i"), col("qi"), posexplode(col("qv")).as(Seq("j", "qj")))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("qi") * col("qj")).as("g"))
      .localCheckpoint(true)
    var v = s.range(64).select(col("id").cast(IntegerType).as("j"),
      lit(1.0).as("vj"))
    var lambda: DataFrame = null
    for (_ <- 1 to 3) {
      val u = gram.join(broadcast(v), "j")
        .groupBy(col("i"))
        .agg(sum(round(col("g") * col("vj"), 6).cast(DecimalType(38, 6)))
          .cast(DoubleType).as("u"))
      lambda = u.agg(max(abs(col("u"))).as("m")).localCheckpoint(true)
      v = u.crossJoin(broadcast(lambda))
        .select(col("i").as("j"), round(col("u") / col("m"), 12).as("vj"))
        .localCheckpoint(true)
    }
    v.crossJoin(broadcast(lambda))
      .select(col("j").as("i"), round(col("vj"), 6).as("loading"),
        round(col("m"), 6).as("lambda_max"))
      .orderBy(col("i"))
  }

  // ── d25: target = English docs, pool = the rest. Feature = hashed
  //        token (md5-derived 32-bit value mod 512 — the portable
  //        cross-engine hash Round9 established); weight of a feature in
  //        basis points = (tgt_f·S_total·10000) div (src_f·T_total) with
  //        +1 smoothing both sides. A pool document's score is the mean
  //        feature weight over its tokens. Everything is dictionary
  //        joins keyed by the 512-value feature space — broadcast-sized
  //        at any corpus scale. Output: the 30 most target-like pool
  //        docs (the ones DSIR resampling would keep). ──────────────────
  def d25_importance_weights(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val tok = docs.select(col("doc_id"), col("lang"),
        explode(graft.functions.Text.tokens(col("text"))).as("w"))
      .withColumn("f",
        conv(substring(md5(col("w")), 1, 8), 16, 10).cast(LongType) % 512)
    val tgt = tok.filter(col("lang") === "en")
      .groupBy(col("f")).agg(count(lit(1)).as("tf"))
    val src = tok.filter(col("lang") =!= "en")
      .groupBy(col("f")).agg(count(lit(1)).as("sf"))
    val feats = s.range(512).select(col("id").as("f"))
      .join(tgt, Seq("f"), "left").join(src, Seq("f"), "left")
      .select(col("f"), (coalesce(col("tf"), lit(0L)) + 1L).as("tf"),
        (coalesce(col("sf"), lit(0L)) + 1L).as("sf"))
    val totals = feats.agg(sum(col("tf")).as("tt"), sum(col("sf")).as("st"))
    val weights = feats.crossJoin(broadcast(totals))
      .select(col("f"),
        expr("tf * st * 10000 div (sf * tt)").as("w_bp"))
    val scored = tok.filter(col("lang") =!= "en")
      .join(broadcast(weights), "f")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        expr("sum(w_bp) div count(1)").as("avg_bp"))
    // top-30 via Rank.globalRank (range-partitioned sort), not an
    // unpartitioned row_number: scored is one row per (doc, lang) —
    // corpus-proportional, never single-task
    graft.operators.Rank.globalRank(scored,
        "rank", col("avg_bp").desc, col("doc_id"))
      .filter(col("rank") <= 30)
      .select(col("rank"), col("doc_id"), col("lang"), col("n_tokens"),
        col("avg_bp"))
      .orderBy(col("rank"))
  }

  // ── p30: value-cents histograms (bin width $50) for Jan 1–7 vs
  //        Jan 22–28, per event type. Per-bin drift numerators
  //        |n4·T1 − n1·T4| cross-multiply instead of dividing; the
  //        per-type total-variation distance divides ONCE at the end:
  //        tv_bp = Σ|…|·10000 div (2·T1·T4) — exact integers, one
  //        output row per event type. ────────────────────────────────────
  def p30_drift_monitor(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(s, dir, "events")
    val ev = raw.select(col("event_type"),
        to_date(Tables.tsMicros(raw)).as("day"),
        expr("cast(round(value * 100) as bigint) div 5000").as("bin"))
    def week(lo: String, hi: String): DataFrame = ev
      .filter(col("day") >= to_date(lit(lo)) && col("day") <= to_date(lit(hi)))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"))
    val w1 = week("2024-01-01", "2024-01-07")
      .withColumnRenamed("n", "n1")
    val w4 = week("2024-01-22", "2024-01-28")
      .withColumnRenamed("n", "n4")
    val bins = w1.join(w4, Seq("event_type", "bin"), "full_outer")
      .select(col("event_type"), col("bin"),
        coalesce(col("n1"), lit(0L)).as("n1"),
        coalesce(col("n4"), lit(0L)).as("n4"))
    val totals = bins.groupBy(col("event_type"))
      .agg(sum(col("n1")).as("t1"), sum(col("n4")).as("t4"))
    bins.join(totals, "event_type")
      .groupBy(col("event_type"), col("t1"), col("t4"))
      .agg(count(lit(1)).as("n_bins"),
        sum(abs(col("n4") * col("t1") - col("n1") * col("t4"))).as("num"))
      .select(col("event_type"), col("t1"), col("t4"), col("n_bins"),
        expr("num * 10000 div (2 * t1 * t4)").as("tv_bp"))
      .withColumn("drifted", col("tv_bp") > 1000)
      .orderBy(col("event_type"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s15_power_iteration"    -> (s15_power_iteration _),
    "d25_importance_weights" -> (d25_importance_weights _),
    "p30_drift_monitor"      -> (p30_drift_monitor _))

  val oracles: Map[String, String] = Map(
    "s15_power_iteration" -> {
      def iter(prev: String, u: String, m: String, nxt: String): String =
        s"""$u AS (
           |  SELECT g.i, CAST(SUM(CAST(ROUND(g.g * v.vj, 6)
           |    AS DECIMAL(38,6))) AS DOUBLE) AS u
           |  FROM g JOIN $prev v ON v.j = g.j GROUP BY g.i),
           |$m AS (SELECT MAX(ABS(u)) AS m FROM $u),
           |$nxt AS (
           |  SELECT i AS j, ROUND(u / (SELECT m FROM $m), 12) AS vj
           |  FROM $u)""".stripMargin
      s"""WITH q AS (
         |  SELECT vec_id,
         |    CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS qi,
         |    CAST(i - 1 AS INT) AS i
         |  FROM (SELECT vec_id, unnest(embedding) AS x,
         |          generate_subscripts(embedding, 1) AS i
         |        FROM embeddings)),
         |g AS MATERIALIZED (
         |  SELECT a.i, b.i AS j, CAST(SUM(a.qi * b.qi) AS BIGINT) AS g
         |  FROM q a JOIN q b USING (vec_id) GROUP BY 1, 2),
         |v0 AS (SELECT CAST(r.range AS INT) AS j, CAST(1 AS DOUBLE) AS vj
         |       FROM range(0, 64) r),
         |${iter("v0", "u1", "m1", "v1")},
         |${iter("v1", "u2", "m2", "v2")},
         |${iter("v2", "u3", "m3", "v3")}
         |SELECT j AS i, ROUND(vj, 6) AS loading,
         |  ROUND((SELECT m FROM m3), 6) AS lambda_max
         |FROM v3 ORDER BY i""".stripMargin
    },
    "d25_importance_weights" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) % 512 AS f
        |  FROM (SELECT doc_id, lang,
        |          unnest(string_split_regex(trim(text), '\s+')) AS w
        |        FROM documents)),
        |tgt AS (SELECT f, COUNT(*) AS tf FROM tok WHERE lang = 'en'
        |        GROUP BY 1),
        |src AS (SELECT f, COUNT(*) AS sf FROM tok WHERE lang <> 'en'
        |        GROUP BY 1),
        |feats AS (
        |  SELECT r.range AS f, COALESCE(tgt.tf, 0) + 1 AS tf,
        |    COALESCE(src.sf, 0) + 1 AS sf
        |  FROM range(0, 512) r
        |  LEFT JOIN tgt ON tgt.f = r.range
        |  LEFT JOIN src ON src.f = r.range),
        |tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS tt,
        |          CAST(SUM(sf) AS BIGINT) AS st FROM feats),
        |w AS (
        |  SELECT f, (tf * tot.st * 10000) // (sf * tot.tt) AS w_bp
        |  FROM feats CROSS JOIN tot),
        |scored AS (
        |  SELECT tok.doc_id, tok.lang, COUNT(*) AS n_tokens,
        |    CAST(SUM(w.w_bp) AS BIGINT) // COUNT(*) AS avg_bp
        |  FROM tok JOIN w USING (f) WHERE tok.lang <> 'en'
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY avg_bp DESC, doc_id) AS rank,
        |    doc_id, lang, n_tokens, avg_bp
        |  FROM scored)
        |SELECT rank, doc_id, lang, n_tokens, avg_bp FROM rk
        |WHERE rank <= 30 ORDER BY rank""".stripMargin,
    "p30_drift_monitor" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(ROUND(value * 100) AS BIGINT) // 5000 AS bin
        |  FROM events),
        |w1 AS (
        |  SELECT event_type, bin, COUNT(*) AS n1 FROM ev
        |  WHERE day BETWEEN DATE '2024-01-01' AND DATE '2024-01-07'
        |  GROUP BY 1, 2),
        |w4 AS (
        |  SELECT event_type, bin, COUNT(*) AS n4 FROM ev
        |  WHERE day BETWEEN DATE '2024-01-22' AND DATE '2024-01-28'
        |  GROUP BY 1, 2),
        |bins AS (
        |  SELECT COALESCE(w1.event_type, w4.event_type) AS event_type,
        |    COALESCE(w1.bin, w4.bin) AS bin,
        |    COALESCE(n1, 0) AS n1, COALESCE(n4, 0) AS n4
        |  FROM w1 FULL OUTER JOIN w4
        |    ON w1.event_type = w4.event_type AND w1.bin = w4.bin),
        |tot AS (
        |  SELECT event_type, CAST(SUM(n1) AS BIGINT) AS t1,
        |    CAST(SUM(n4) AS BIGINT) AS t4
        |  FROM bins GROUP BY 1)
        |SELECT b.event_type, t.t1, t.t4, COUNT(*) AS n_bins,
        |  CAST(SUM(ABS(b.n4 * t.t1 - b.n1 * t.t4)) AS BIGINT) * 10000
        |    // (2 * t.t1 * t.t4) AS tv_bp,
        |  CAST(SUM(ABS(b.n4 * t.t1 - b.n1 * t.t4)) AS BIGINT) * 10000
        |    // (2 * t.t1 * t.t4) > 1000 AS drifted
        |FROM bins b JOIN tot t USING (event_type)
        |GROUP BY b.event_type, t.t1, t.t4
        |ORDER BY b.event_type""".stripMargin)
}
