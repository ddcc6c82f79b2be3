package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Fifty-fifth batch — embedding pair mining and relative quality gating:
  *
  *  - s18: margin-based pair mining (Artetxe & Schwenk '19, "Margin-based
  *    Parallel Corpus Mining", public) — the op that builds aligned
  *    training pairs from two unaligned embedding pools: raw cosine
  *    over-selects hub vectors that are close to *everything*, so each
  *    candidate pair is scored by its cosine divided by the mean cosine
  *    of both endpoints' k-NN neighborhoods (margin = ratio variant),
  *    and a pair is trusted when it is additionally a MUTUAL best match.
  *    Here the two pools are the even/odd halves of the embedding table
  *    and the exact all-pairs scoring is the oracle-matched twin; at
  *    100 TB the crossJoin is replaced by IVF candidate generation (the
  *    s7 persisted-index path) and everything downstream is unchanged.
  *    All ranking keys are rounded to fixed precision before comparison
  *    (the t12 DECIMAL-sum discipline), so the top-20 is engine-stable.
  *  - t35: per-source relative quality gate — absolute thresholds (t6)
  *    break when sources have different score distributions; curation
  *    pipelines therefore keep the top X% PER SOURCE (DataComp/FineWeb
  *    style, public). Score = type-token ratio in integer basis points;
  *    keep = rank within source ≤ ⌈n/4⌉. One window shuffle keyed by
  *    source; census + per-doc verdicts in one pass.
  *
  * Reference scope: extension beyond the reference surface (its transform
  * dialect is open, /root/reference/tools.py:58-65).
  */
object Round55Queries extends QueryModule {

  private val K = 4 // neighborhood size for the margin denominator

  def s18_margin_mining(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Vectors
    val emb = graft.Tables.spread(
      Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding")))
    val a = emb.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("a"), col("embedding").as("va"))
    val b = emb.filter(col("vec_id") % 2 =!= 0)
      .select(col("vec_id").as("b"), col("embedding").as("vb"))
    val cosAll = a.crossJoin(b)
      .select(col("a"), col("b"),
        round(Vectors.cosine(col("va"), col("vb")), 12).as("cosr"))
      .localCheckpoint(true)
    def knnSum(key: String, other: String): DataFrame = {
      val w = Window.partitionBy(col(key))
        .orderBy(col("cosr").desc, col(other))
      cosAll.withColumn("rn", row_number().over(w)).filter(col("rn") <= K)
        .groupBy(col(key))
        .agg(sum(col("cosr").cast(DecimalType(28, 12))).as(s"s_$key"))
    }
    // Round-14 reshape (guide §2.3/§3.1): the knnSum tables are one row
    // per pool member (n/2 rows) — broadcast them so the n²/4 scored
    // pairs never shuffle for the sum attach; and the per-endpoint best
    // match is an ARGMAX, so max(struct(margin, −id, …)) partial-
    // aggregates map-side instead of two more full window sort-shuffles
    // of the pair table (tie-break: equal margins prefer the smaller
    // partner id — max of −id — exactly the old orderBy(desc, id) rank).
    val scored = cosAll
      .join(broadcast(knnSum("a", "b")), "a")
      .join(broadcast(knnSum("b", "a")), "b")
      .select(col("a"), col("b"), col("cosr"),
        round(col("cosr") * lit(2 * K) /
          (col("s_a") + col("s_b")).cast(DoubleType), 6).as("margin_m"))
    val fwd = scored
      .groupBy(col("a"))
      .agg(max(struct(col("margin_m"), (-col("b")).as("nb"),
        col("cosr"))).as("m"))
      .select(col("a"), (-col("m.nb")).as("b"), col("m.cosr").as("cosr"),
        col("m.margin_m").as("margin_m"))
    val bwd = scored
      .groupBy(col("b"))
      .agg(max(struct(col("margin_m"), (-col("a")).as("na"))).as("m"))
      .select(col("b"), (-col("m.na")).as("best_a"))
    fwd.join(bwd, "b")
      .select(col("a").as("query_id"), col("b").as("cand_id"),
        round(col("cosr"), 6).as("cosine"), col("margin_m"),
        (col("best_a") === col("a")).as("mutual"))
      .orderBy(col("margin_m").desc, col("query_id"), col("cand_id"))
      .limit(20)
  }

  def t35_quality_gate_relative(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val toks = Text.tokens(col("text"))
    val scoredDocs = Tables.load(s, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("source"),
        size(array_distinct(toks)).cast(LongType).as("n_distinct"),
        size(toks).cast(LongType).as("n_tok"))
      .select(col("doc_id"), col("source"),
        expr("n_distinct * 10000 div n_tok").as("score_bp"))
    val w = Window.partitionBy(col("source"))
    scoredDocs
      .withColumn("rk", row_number().over(
        w.orderBy(col("score_bp").desc, col("doc_id"))).cast(LongType))
      .withColumn("n_src", count(lit(1)).over(w))
      .select(col("doc_id"), col("source"), col("score_bp"), col("rk"),
        expr("rk <= (n_src + 3) div 4").as("keep"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s18_margin_mining"         -> (s18_margin_mining _),
    "t35_quality_gate_relative" -> (t35_quality_gate_relative _))

  val oracles: Map[String, String] = Map(
    "s18_margin_mining" ->
      s"""WITH e AS (
        |  SELECT vec_id, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |norms AS (
        |  SELECT vec_id, sqrt(SUM(CAST(v AS DOUBLE)*CAST(v AS DOUBLE)))
        |    AS nrm
        |  FROM e GROUP BY 1),
        |dots AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |    SUM(CAST(x.v AS DOUBLE) * CAST(y.v AS DOUBLE)) AS dot
        |  FROM e x JOIN e y ON x.i = y.i
        |  WHERE x.vec_id % 2 = 0 AND y.vec_id % 2 <> 0
        |  GROUP BY 1, 2),
        |cosr AS (
        |  SELECT a, b, ROUND(dot/(na.nrm*nb.nrm), 12) AS cosr
        |  FROM dots JOIN norms na ON na.vec_id = a
        |  JOIN norms nb ON nb.vec_id = b),
        |ka AS (
        |  SELECT a, SUM(CAST(cosr AS DECIMAL(28,12))) AS s_a FROM (
        |    SELECT a, cosr,
        |      ROW_NUMBER() OVER (PARTITION BY a ORDER BY cosr DESC, b) AS rn
        |    FROM cosr) WHERE rn <= $K GROUP BY a),
        |kb AS (
        |  SELECT b, SUM(CAST(cosr AS DECIMAL(28,12))) AS s_b FROM (
        |    SELECT b, cosr,
        |      ROW_NUMBER() OVER (PARTITION BY b ORDER BY cosr DESC, a) AS rn
        |    FROM cosr) WHERE rn <= $K GROUP BY b),
        |m AS (
        |  SELECT c.a, c.b, c.cosr,
        |    ROUND(c.cosr * ${2 * K} / CAST(ka.s_a + kb.s_b AS DOUBLE), 6)
        |      AS margin_m
        |  FROM cosr c JOIN ka ON ka.a = c.a JOIN kb ON kb.b = c.b),
        |fwd AS (
        |  SELECT * FROM (
        |    SELECT a, b, cosr, margin_m,
        |      ROW_NUMBER() OVER (PARTITION BY a
        |        ORDER BY margin_m DESC, b) AS rn
        |    FROM m) WHERE rn = 1),
        |bwd AS (
        |  SELECT b, best_a FROM (
        |    SELECT b, a AS best_a,
        |      ROW_NUMBER() OVER (PARTITION BY b
        |        ORDER BY margin_m DESC, a) AS rn
        |    FROM m) WHERE rn = 1)
        |SELECT f.a AS query_id, f.b AS cand_id,
        |  ROUND(f.cosr, 6) AS cosine, f.margin_m,
        |  bwd.best_a = f.a AS mutual
        |FROM fwd f JOIN bwd ON bwd.b = f.b
        |ORDER BY f.margin_m DESC, query_id, cand_id LIMIT 20""".stripMargin,
    "t35_quality_gate_relative" ->
      """WITH scored AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_distinct(string_split_regex(trim(text), '\s+')))
        |        * 10000
        |      // len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS score_bp
        |  FROM documents WHERE length(trim(text)) > 0),
        |ranked AS (
        |  SELECT doc_id, source, score_bp,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY score_bp DESC, doc_id) AS rk,
        |    COUNT(*) OVER (PARTITION BY source) AS n_src
        |  FROM scored)
        |SELECT doc_id, source, score_bp, rk,
        |  rk <= (n_src + 3) // 4 AS keep
        |FROM ranked ORDER BY doc_id""".stripMargin)
}
