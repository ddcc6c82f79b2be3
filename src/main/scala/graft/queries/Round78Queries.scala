package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.Tables

/** Seventy-eighth batch — the multi-probe tuning curve and per-source
  * keyword extraction through the custom top-k operator:
  *
  *  - s22: multi-probe LSH recall curve — the knob s2 turns, measured.
  *    Buckets come from the PORTABLE integer hyperplane family (d5's:
  *    mod-2^61-1 coefficients over round(x·10⁶) quantization), so the
  *    oracle replays every bucket bit; probe depth p admits candidates
  *    whose 4-bit bucket differs from the query's in ≤ p bits
  *    (popcount of XOR). Recall@5 against the exact top-5 (s1's
  *    answer), summed over the 5-query set, per p ∈ {0,1,2}. The
  *    tuning read: p=0 probes 1 bucket of 16, p=1 probes 5, p=2
  *    probes 11 — candidates grow ~linearly while recall saturates,
  *    which is the empirical basis for choosing probe depth at 100 TB
  *    instead of more tables.
  *  - t44: per-source keyword extraction — source-level TF-IDF ranked
  *    through [[graft.operators.TopK.perKey]], the custom
  *    partial+final bounded-heap operator (logical node → strategy →
  *    exec), exercised here on a RANKING SURFACE the window rewrite
  *    also covers: rank key = DECIMAL-rounded tfidf (engine-stable),
  *    tie = term. The oracle is the row_number window spelling —
  *    proving once more the operator IS the window semantics, minus
  *    the per-partition full sort.
  *
  * Reference scope: beyond-reference LLM-pipeline surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round78Queries extends QueryModule {

  // ── s22: multi-probe LSH recall curve ─────────────────────────────────

  def s22_lsh_probe_curve(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, Similarity}
    val emb = Tables.load(s, dir, "embeddings")
    val bucketed = emb.select(col("vec_id"),
      Dedup.lshBucket(col("embedding"), dim = 64, nPlanes = 4).as("bucket"))
    val qb = broadcast(bucketed.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("bucket").as("qbucket")))
    // exact top-5 per query (s1's answer) — the ground truth
    val truth = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("cand_id"))
    val sSpark = s
    import sSpark.implicits._
    val depths = broadcast(Seq(0L, 1L, 2L).toDF("probe_depth"))
    // candidate set per (query, depth): bucket Hamming distance ≤ depth
    val cand = bucketed.crossJoin(qb)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("hd",
        bit_count(col("bucket").bitwiseXOR(col("qbucket"))).cast(LongType))
      .join(depths, col("hd") <= col("probe_depth"))
    val perDepth = cand.groupBy(col("probe_depth"))
      .agg(count(lit(1)).as("n_candidates"))
    val hits = cand.join(truth, Seq("query_id"), "inner")
      .filter(col("vec_id") === col("cand_id"))
      .groupBy(col("probe_depth"))
      .agg(count(lit(1)).as("n_hits"))
    depths.join(perDepth, Seq("probe_depth"), "left")
      .join(hits, Seq("probe_depth"), "left")
      .select(col("probe_depth"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr("coalesce(n_hits, 0) * 10000 div 25").as("recall_bp"))
      .orderBy(col("probe_depth"))
  }

  // ── t44: per-source keywords via the bounded-heap top-k operator ──────

  def t44_source_keywords(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val docs = Tables.load(s, dir, "documents")
    val tok = docs.select(col("source"),
      explode(Text.tokens(lower(col("text")))).as("term"))
    val tf = tok.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count_distinct(col("source")).as("n_sources"))
    val scored = tf.join(broadcast(dfreq), "term").crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log((col("n_sources") + 1).cast(DoubleType) /
          (col("df") + 1).cast(DoubleType)), 6))
      .select(col("source"), col("term"), col("tf"), col("df"), col("tfidf"))
    graft.operators.TopK.perKey(scored, Seq("source"), "tfidf", "term", 5)
      .orderBy(col("source"), col("tfidf").desc, col("term"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s22_lsh_probe_curve" -> (s22_lsh_probe_curve _),
    "t44_source_keywords" -> (t44_source_keywords _))

  val oracles: Map[String, String] = Map(
    "s22_lsh_probe_curve" ->
      s"""WITH pj(j, pj) AS (VALUES ${ExtensionQueries.lshPlanePowers}),
        |pi(i, pi) AS (VALUES ${ExtensionQueries.lshDimPowers}),
        |raw AS (
        |  SELECT vec_id, unnest(embedding) AS x,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
        |    AS qx, i - 1 AS i
        |  FROM raw),
        |planes AS (
        |  SELECT pj.j, pi.i,
        |    CAST(((CAST(pj.pj AS HUGEINT) * CAST(pi.pi AS HUGEINT))
        |      % 2305843009213693951) % 2001 - 1000 AS BIGINT) AS c
        |  FROM pj CROSS JOIN pi),
        |bits AS (
        |  SELECT q.vec_id, p.j,
        |    CASE WHEN SUM(q.qx * p.c) >= 0
        |         THEN CAST(POWER(2, p.j) AS BIGINT) ELSE 0 END AS b
        |  FROM q JOIN planes p ON p.i = q.i
        |  GROUP BY q.vec_id, p.j),
        |bkt AS (SELECT vec_id, CAST(SUM(b) AS BIGINT) AS bucket
        |  FROM bits GROUP BY 1),
        |e AS (
        |  SELECT vec_id, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |dots AS (
        |  SELECT qq.vec_id AS query_id, c.vec_id AS cand_id,
        |    SUM(CAST(qq.v AS DOUBLE) * CAST(c.v AS DOUBLE)) AS dot
        |  FROM e qq JOIN e c ON qq.i = c.i
        |  WHERE qq.vec_id < 5 AND qq.vec_id <> c.vec_id
        |  GROUP BY 1, 2),
        |norms AS (
        |  SELECT vec_id,
        |    sqrt(SUM(CAST(v AS DOUBLE)*CAST(v AS DOUBLE))) AS nrm
        |  FROM e GROUP BY 1),
        |truth AS (
        |  SELECT query_id, cand_id FROM (
        |    SELECT query_id, cand_id, ROW_NUMBER() OVER (
        |      PARTITION BY query_id
        |      ORDER BY ROUND(dot/(na.nrm*nb.nrm), 6) DESC, cand_id) AS rk
        |    FROM dots JOIN norms na ON na.vec_id = query_id
        |      JOIN norms nb ON nb.vec_id = cand_id)
        |  WHERE rk <= 5),
        |depths(probe_depth) AS (VALUES (CAST(0 AS BIGINT)), (1), (2)),
        |cand AS (
        |  SELECT d.probe_depth, qb.vec_id AS query_id, cb.vec_id
        |  FROM bkt cb
        |  JOIN bkt qb ON qb.vec_id < 5 AND cb.vec_id <> qb.vec_id
        |  JOIN depths d
        |    ON bit_count(xor(cb.bucket, qb.bucket)) <= d.probe_depth),
        |pd AS (SELECT probe_depth, CAST(COUNT(*) AS BIGINT) AS n_candidates
        |  FROM cand GROUP BY 1),
        |ht AS (
        |  SELECT probe_depth, CAST(COUNT(*) AS BIGINT) AS n_hits
        |  FROM cand JOIN truth ON truth.query_id = cand.query_id
        |    AND truth.cand_id = cand.vec_id
        |  GROUP BY 1)
        |SELECT d.probe_depth,
        |  CAST(COALESCE(pd.n_candidates, 0) AS BIGINT) AS n_candidates,
        |  CAST(COALESCE(ht.n_hits, 0) AS BIGINT) AS n_hits,
        |  COALESCE(ht.n_hits, 0) * 10000 // 25 AS recall_bp
        |FROM depths d LEFT JOIN pd USING (probe_depth)
        |LEFT JOIN ht USING (probe_depth)
        |ORDER BY d.probe_depth""".stripMargin,
    "t44_source_keywords" ->
      raw"""WITH tok AS (
        |  SELECT source,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        |  FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(DISTINCT source) AS n_sources FROM documents),
        |scored AS (
        |  SELECT tf.source, tf.term, tf.tf, dfreq.df,
        |    ROUND(tf.tf * ln(CAST(n.n_sources + 1 AS DOUBLE)
        |      / CAST(dfreq.df + 1 AS DOUBLE)), 6) AS tfidf
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT source, term, tf, df, tfidf,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY tfidf DESC, term) AS rk
        |  FROM scored)
        |SELECT source, term, tf, df, tfidf
        |FROM ranked WHERE rk <= 5
        |ORDER BY source, tfidf DESC, term""".stripMargin)
}
