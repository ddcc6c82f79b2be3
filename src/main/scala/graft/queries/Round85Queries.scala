package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.functions.AudioExprs

/** Eighty-fifth batch — telephony audio, the OpenTelemetry-style
  * exponential histogram, and web-scale LM smoothing:
  *
  *  - m27: G.711 µ-law WAV round-trip — the 8-bit telephony companding
  *    standard (format tag 7), encode AND decode implemented in
  *    AudioCodec. µ-law is LOSSY, which is exactly what makes the query
  *    a real gate: the oracle replays the full quantization closed form
  *    (clamp → +132 bias → 3-bit exponent = floor(log2)−7 → 4-bit
  *    mantissa → inverse) in pure integer SQL, so a single bit-shift
  *    bug anywhere in either direction shifts the predicted
  *    reconstruction and fails the hash. Per-doc reconstruction-error
  *    masses are part of the gated result.
  *  - a21: base-2 exponential histogram (the OpenTelemetry/DDSketch
  *    family, scale 0) — bucket = floor(log2(cents)), mergeable counts,
  *    p50/p95/p99 served as bucket lower bounds with the 2× relative
  *    error contract, and the contract ITSELF gated: the exact rank-
  *    median is computed alongside and must land inside the served
  *    bucket. The sketch that replaces exact quantiles at 100 TB
  *    (constant state per key, associative merge).
  *  - t46: Stupid Backoff (Brants et al. 2007) — the web-scale trigram
  *    smoothing that skips normalization entirely: S = c123/c12, else
  *    0.4·c23/c2, else 0.4²·c3/N. Scored leave-one-source-out (each
  *    source's trigrams against all OTHER sources' counts) so every
  *    backoff level is actually exercised; scores in exact truncated
  *    ppm (nested integer div replays the 0.4 factors as ·2/5), zero
  *    floats anywhere.
  *
  * Scale: m27 is per-payload decode inside codegen; a21 is one groupBy
  * to constant-size per-key state (≤64 buckets/key — the point of the
  * sketch); t46 is count-join-shaped: five count tables keyed by gram,
  * one pass over trigrams with hash joins, exactly the shape
  * distributed LM estimation ships.
  *
  * Reference scope: beyond-reference LLM-pipeline surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round85Queries extends QueryModule {

  // ── m27: µ-law round-trip with gated reconstruction error ─────────────

  def m27_mulaw_audio(s: SparkSession, dir: String): DataFrame = {
    val dec = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      .select(col("doc_id"), col("text"),
        AudioExprs.decodeSamples(
          AudioExprs.encodeMulawFromText(col("text"), 8000, 256)).as("dec"))
      .select(col("doc_id"), col("text"),
        posexplode(col("dec")).as(Seq("i", "dec_v")))
      // the original fixture sample, from the same closed form the
      // oracle replays: ((cp·257) mod 65536) − 32768
      .withColumn("orig", expr(
        "(ascii(substr(text, CAST((i % length(text)) + 1 AS INT), 1)) * 257)" +
          " % 65536 - 32768"))
    dec.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_samples"),
        sum(col("dec_v")).as("sum_dec"),
        min(col("dec_v")).as("min_dec"), max(col("dec_v")).as("max_dec"),
        sum(abs(col("dec_v") - col("orig"))).as("sum_abs_err"),
        max(abs(col("dec_v") - col("orig"))).as("max_abs_err"))
      .orderBy(col("doc_id"))
  }

  // ── a21: base-2 exponential histogram quantile serving ────────────────

  def a21_exp_histogram(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val v = ev.select(col("event_type").as("et"),
        round(col("value") * 100).cast(LongType).as("c"))
      .filter(col("c") >= 1)
    val b = v.select(col("et"), (length(bin(col("c"))) - 1).cast(LongType)
      .as("bucket"), col("c")).localCheckpoint()
    val h = b.groupBy(col("et"), col("bucket")).agg(count(lit(1)).as("cnt"))
    val cum = h
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("et"))))
      .withColumn("cm", sum(col("cnt")).over(
        Window.partitionBy(col("et")).orderBy(col("bucket"))))
    val pick = cum.groupBy(col("et"), col("n"))
      .agg(min(when(expr("cm >= (n + 1) div 2"), col("bucket"))).as("b50"),
        min(when(expr("cm >= (n * 95 + 99) div 100"), col("bucket")))
          .as("b95"),
        min(when(expr("cm >= (n * 99 + 99) div 100"), col("bucket")))
          .as("b99"),
        count(lit(1)).as("n_buckets"))
    val ex = b
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("et")).orderBy(col("c"))))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy(col("et"))))
      .filter(expr("rn = (nn + 1) div 2"))
      .select(col("et"), col("c").as("p50_exact"))
    pick.join(ex, "et")
      .select(col("et").as("event_type"), col("n"), col("n_buckets"),
        expr("CAST(power(2, b50) AS BIGINT)").as("p50_lb"),
        expr("CAST(power(2, b95) AS BIGINT)").as("p95_lb"),
        expr("CAST(power(2, b99) AS BIGINT)").as("p99_lb"),
        col("p50_exact"),
        expr("""p50_exact >= CAST(power(2, b50) AS BIGINT)
          AND p50_exact < 2 * CAST(power(2, b50) AS BIGINT)""")
          .as("p50_in_bucket"))
      .orderBy(col("event_type"))
  }

  // ── t46: Stupid Backoff, leave-one-source-out, exact ppm ──────────────

  def t46_stupid_backoff(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val docs = Tables.load(s, dir, "documents")
    val tok = docs.select(col("source"), col("doc_id"),
        posexplode(Text.tokens(lower(col("text")))).as(Seq("pos", "w")))
      .localCheckpoint()
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val tri = tok
      .withColumn("w2", lead(col("w"), 1).over(byDoc))
      .withColumn("w3", lead(col("w"), 2).over(byDoc))
      .filter(col("w3").isNotNull)
      .select(col("source"), col("w").as("w1"), col("w2"), col("w3"))
      .localCheckpoint()
    def cnt(df: DataFrame, keys: Seq[String], as: String): DataFrame =
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as(as))
    val g3 = cnt(tri, Seq("w1", "w2", "w3"), "g3")
    val o3 = cnt(tri, Seq("source", "w1", "w2", "w3"), "o3")
    val g2 = cnt(tri, Seq("w1", "w2"), "g2")
    val o2 = cnt(tri, Seq("source", "w1", "w2"), "o2")
    val g23 = cnt(tri.select(col("w2"), col("w3")), Seq("w2", "w3"), "g23")
    val o23 = cnt(tri.select(col("source"), col("w2"), col("w3")),
      Seq("source", "w2", "w3"), "o23")
    val g1 = cnt(tok.select(col("w")), Seq("w"), "g1")
    val o1 = cnt(tok.select(col("source"), col("w")), Seq("source", "w"), "o1")
    val gn = tok.agg(count(lit(1)).as("gn"))
    val on = cnt(tok.select(col("source")), Seq("source"), "onn")
    val scored = tri
      .join(g3, Seq("w1", "w2", "w3"))
      .join(o3, Seq("source", "w1", "w2", "w3"), "left")
      .join(g2, Seq("w1", "w2"))
      .join(o2, Seq("source", "w1", "w2"), "left")
      .join(g23, Seq("w2", "w3"))
      .join(o23, Seq("source", "w2", "w3"), "left")
      .join(g1.withColumnRenamed("w", "w2")
        .withColumnRenamed("g1", "gw2"), Seq("w2"))
      .join(o1.withColumnRenamed("w", "w2")
        .withColumnRenamed("o1", "sw2"), Seq("source", "w2"), "left")
      .join(g1.withColumnRenamed("w", "w3")
        .withColumnRenamed("g1", "gw3"), Seq("w3"))
      .join(o1.withColumnRenamed("w", "w3")
        .withColumnRenamed("o1", "sw3"), Seq("source", "w3"), "left")
      .crossJoin(broadcast(gn))
      .join(broadcast(on), Seq("source"))
      .select(col("source"),
        (col("g3") - coalesce(col("o3"), lit(0L))).as("c123"),
        (col("g2") - coalesce(col("o2"), lit(0L))).as("c12"),
        (col("g23") - coalesce(col("o23"), lit(0L))).as("c23"),
        (col("gw2") - coalesce(col("sw2"), lit(0L))).as("c2"),
        (col("gw3") - coalesce(col("sw3"), lit(0L))).as("c3"),
        (col("gn") - col("onn")).as("nn"))
    val sc = scored.select(col("source"),
      expr("""CASE
        | WHEN c123 > 0 AND c12 > 0 THEN (c123 * 1000000) div c12
        | WHEN c23 > 0 AND c2 > 0 THEN (2 * ((c23 * 1000000) div c2)) div 5
        | ELSE (2 * (2 * ((c3 * 1000000) div nn)) div 5) div 5
        |END""".stripMargin).as("s_ppm"),
      expr("""CASE WHEN c123 > 0 AND c12 > 0 THEN 1
        | WHEN c23 > 0 AND c2 > 0 THEN 2 ELSE 3 END""".stripMargin).as("lvl"))
    sc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_tri"),
        sum(col("s_ppm")).as("sum_score_ppm"),
        sum(when(col("lvl") === 1, 1L).otherwise(0L)).as("n_hit3"),
        sum(when(col("lvl") === 2, 1L).otherwise(0L)).as("n_hit2"),
        sum(when(col("lvl") === 3, 1L).otherwise(0L)).as("n_back1"))
      .select(col("source"), col("n_tri"), col("sum_score_ppm"),
        expr("sum_score_ppm div n_tri").as("mean_score_ppm"),
        col("n_hit3"), col("n_hit2"), col("n_back1"))
      .orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m27_mulaw_audio"    -> (m27_mulaw_audio _),
    "a21_exp_histogram"  -> (a21_exp_histogram _),
    "t46_stupid_backoff" -> (t46_stupid_backoff _))

  val oracles: Map[String, String] = Map(
    "m27_mulaw_audio" ->
      """WITH sm AS (
        |  SELECT doc_id,
        |    (ord(substr(text, CAST((i % length(text)) + 1 AS INT), 1))
        |      * 257) % 65536 - 32768 AS orig
        |  FROM documents
        |  CROSS JOIN (SELECT unnest(range(0, 256)) AS i)),
        |q AS (
        |  SELECT doc_id, orig,
        |    CASE WHEN orig < 0 THEN -1 ELSE 1 END AS sgn,
        |    LEAST(abs(orig), 32635) + 132 AS ax
        |  FROM sm),
        |e AS (
        |  SELECT doc_id, orig, sgn, ax,
        |    length(printf('%b', ax)) - 8 AS ex
        |  FROM q),
        |d AS (
        |  SELECT doc_id, orig,
        |    sgn * ((((ax // CAST(power(2, ex + 3) AS BIGINT)) % 16) * 8
        |      + 132) * CAST(power(2, ex) AS BIGINT) - 132) AS dec_v
        |  FROM e)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(SUM(dec_v) AS BIGINT) AS sum_dec,
        |  CAST(MIN(dec_v) AS INT) AS min_dec,
        |  CAST(MAX(dec_v) AS INT) AS max_dec,
        |  CAST(SUM(abs(dec_v - orig)) AS BIGINT) AS sum_abs_err,
        |  CAST(MAX(abs(dec_v - orig)) AS INT) AS max_abs_err
        |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "a21_exp_histogram" ->
      """WITH v AS (
        |  SELECT event_type AS et, CAST(ROUND(value * 100) AS BIGINT) AS c
        |  FROM events WHERE CAST(ROUND(value * 100) AS BIGINT) >= 1),
        |b AS (
        |  SELECT et, length(printf('%b', c)) - 1 AS bucket, c FROM v),
        |h AS (SELECT et, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM b GROUP BY 1, 2),
        |cum AS (
        |  SELECT et, bucket, cnt,
        |    CAST(SUM(cnt) OVER (PARTITION BY et) AS BIGINT) AS n,
        |    SUM(cnt) OVER (PARTITION BY et ORDER BY bucket) AS cm
        |  FROM h),
        |pick AS (
        |  SELECT et, n,
        |    MIN(CASE WHEN cm >= (n + 1) // 2 THEN bucket END) AS b50,
        |    MIN(CASE WHEN cm >= (n * 95 + 99) // 100 THEN bucket END) AS b95,
        |    MIN(CASE WHEN cm >= (n * 99 + 99) // 100 THEN bucket END) AS b99,
        |    CAST(COUNT(*) AS BIGINT) AS n_buckets
        |  FROM cum GROUP BY et, n),
        |ex AS (
        |  SELECT et, c AS p50_exact FROM (
        |    SELECT et, c, ROW_NUMBER() OVER (PARTITION BY et ORDER BY c)
        |      AS rn,
        |      COUNT(*) OVER (PARTITION BY et) AS nn
        |    FROM b) WHERE rn = (nn + 1) // 2)
        |SELECT p.et AS event_type, p.n, p.n_buckets,
        |  CAST(power(2, p.b50) AS BIGINT) AS p50_lb,
        |  CAST(power(2, p.b95) AS BIGINT) AS p95_lb,
        |  CAST(power(2, p.b99) AS BIGINT) AS p99_lb,
        |  ex.p50_exact,
        |  (ex.p50_exact >= CAST(power(2, p.b50) AS BIGINT)
        |    AND ex.p50_exact < 2 * CAST(power(2, p.b50) AS BIGINT))
        |    AS p50_in_bucket
        |FROM pick p JOIN ex USING (et) ORDER BY 1""".stripMargin,
    "t46_stupid_backoff" ->
      raw"""WITH tok AS (
        |  SELECT source, doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS w,
        |    generate_subscripts(string_split_regex(trim(lower(text)),
        |      '\s+'), 1) AS pos
        |  FROM documents),
        |tri AS (
        |  SELECT a.source, a.w AS w1, b.w AS w2, c.w AS w3
        |  FROM tok a
        |  JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |  JOIN tok c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2),
        |g3 AS (SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM tri GROUP BY 1, 2, 3),
        |o3 AS (SELECT source, w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM tri GROUP BY 1, 2, 3, 4),
        |g2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM tri GROUP BY 1, 2),
        |o2 AS (SELECT source, w1, w2, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM tri GROUP BY 1, 2, 3),
        |g23 AS (SELECT w2, w3, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM tri GROUP BY 1, 2),
        |o23 AS (SELECT source, w2, w3, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM tri GROUP BY 1, 2, 3),
        |g1 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1),
        |o1 AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM tok GROUP BY 1, 2),
        |gn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
        |onn AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM tok GROUP BY 1),
        |scored AS (
        |  SELECT t.source,
        |    g3.c - COALESCE(s3.c, 0) AS c123,
        |    g2.c - COALESCE(s2.c, 0) AS c12,
        |    g23.c - COALESCE(s23.c, 0) AS c23,
        |    gw2.c - COALESCE(sw2.c, 0) AS c2,
        |    gw3.c - COALESCE(sw3.c, 0) AS c3,
        |    gn.n - onn.n AS nn
        |  FROM tri t
        |  JOIN g3 ON g3.w1 = t.w1 AND g3.w2 = t.w2 AND g3.w3 = t.w3
        |  LEFT JOIN o3 s3 ON s3.source = t.source AND s3.w1 = t.w1
        |    AND s3.w2 = t.w2 AND s3.w3 = t.w3
        |  JOIN g2 ON g2.w1 = t.w1 AND g2.w2 = t.w2
        |  LEFT JOIN o2 s2 ON s2.source = t.source AND s2.w1 = t.w1
        |    AND s2.w2 = t.w2
        |  JOIN g23 ON g23.w2 = t.w2 AND g23.w3 = t.w3
        |  LEFT JOIN o23 s23 ON s23.source = t.source AND s23.w2 = t.w2
        |    AND s23.w3 = t.w3
        |  JOIN g1 gw2 ON gw2.w = t.w2
        |  LEFT JOIN o1 sw2 ON sw2.source = t.source AND sw2.w = t.w2
        |  JOIN g1 gw3 ON gw3.w = t.w3
        |  LEFT JOIN o1 sw3 ON sw3.source = t.source AND sw3.w = t.w3
        |  CROSS JOIN gn
        |  JOIN onn ON onn.source = t.source),
        |sc AS (
        |  SELECT source,
        |    CASE
        |      WHEN c123 > 0 AND c12 > 0 THEN (c123 * 1000000) // c12
        |      WHEN c23 > 0 AND c2 > 0
        |        THEN (2 * ((c23 * 1000000) // c2)) // 5
        |      ELSE (2 * (2 * ((c3 * 1000000) // nn)) // 5) // 5
        |    END AS s_ppm,
        |    CASE WHEN c123 > 0 AND c12 > 0 THEN 1
        |         WHEN c23 > 0 AND c2 > 0 THEN 2 ELSE 3 END AS lvl
        |  FROM scored)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tri,
        |  CAST(SUM(s_ppm) AS BIGINT) AS sum_score_ppm,
        |  CAST(SUM(s_ppm) AS BIGINT) // COUNT(*) AS mean_score_ppm,
        |  CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hit3,
        |  CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hit2,
        |  CAST(SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_back1
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin)
}
