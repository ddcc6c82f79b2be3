package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Forty-fourth batch — index health, inequality, and diversity metrics:
  *
  *  - s17: cluster-health census over the trained k-means partition (the
  *    IVF index's training step) — per-cluster population, quantization
  *    SSQ, and an imbalance factor in basis points. A skewed census
  *    means hot cells at query time; THE metric an ANN index deployment
  *    watches.
  *  - q96: Gini coefficient of customer spend in exact integer basis
  *    points (Σ(2i−n−1)xᵢ / n·Σx over the ascending spend ranking) —
  *    revenue-concentration inequality, ranked by the distributed
  *    global-rank operator, no single-partition window.
  *  - t30: per-source language-diversity (Gini impurity of the lang
  *    distribution, integer bp) — the mixture-health scan that flags
  *    monolingual or templated sources at a glance.
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round44Queries extends QueryModule {

  // ── s17: census of s8's Lloyd output (k=4, 2 iterations — the same
  //        unrolled-oracle clustering); imbalance_bp = n_c·k·10⁴/N
  //        (10000 = perfectly balanced). ────────────────────────────────
  def s17_kmeans_health(s: SparkSession, dir: String): DataFrame = {
    val assign = graft.operators.Kmeans
      .lloyd(Tables.load(s, dir, "embeddings"), "vec_id", "embedding", k = 4,
        iters = 2)
    val census = assign.groupBy(col("c").as("cluster"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("d2")).as("ssq"))
    val total = census.agg(sum(col("n_vecs")).as("n_total"))
    census.crossJoin(broadcast(total))
      .select(col("cluster"), col("n_vecs"), col("ssq"),
        expr("n_vecs * 4 * 10000 div n_total").as("imbalance_bp"))
      .orderBy(col("cluster"))
  }

  // ── q96: ascending spend ranking via the distributed global rank;
  //        the Gini sum and its normalizer stay in exact cents. The wide
  //        products ride in DECIMAL(38,0): at sf1 the round-13 gate
  //        caught `(wsum − n·total_c) · 10⁴` overflowing BIGINT (wsum
  //        itself is ~n²·avg_spend ≈ 2×10¹⁸ there, and the bp scaling
  //        pushes past 2⁶³) — the oracle mirrors with HUGEINT. The
  //        numerator is ≥ 0 (Gini is non-negative), so truncating and
  //        flooring integer division agree. ─────────────────────────────
  def q96_gini_spend(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.load(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast(LongType))
        .as("spend_c"))
    val ranked = graft.operators.Rank.globalRank(spend, "p",
      col("spend_c").asc, col("o_custkey"))
    // the rank enters decimal BEFORE the product: (p·2−1)·spend_c in
    // LongType can itself overflow at extreme scale (p ~ n, so a single
    // term is ~n·spend_c); the whole term must ride in DECIMAL(38,0),
    // matching the oracle's per-term HUGEINT cast (r13 advisor note)
    val stats = ranked.agg(count(lit(1)).as("n"),
      sum(col("spend_c")).as("total_c"),
      sum((col("p").cast(DecimalType(38, 0)) * 2 - lit(1)) *
        col("spend_c").cast(DecimalType(38, 0)))
        .cast(DecimalType(38, 0)).as("wsum"))
    // Σ(2i−n−1)x = Σ(2i−1)x − n·Σx, so wsum rides in one aggregate
    stats.select(col("n").as("n_customers"), col("total_c"),
      expr("CAST((wsum - CAST(n AS DECIMAL(38,0)) * total_c) * 10000" +
        " DIV (CAST(n AS DECIMAL(38,0)) * total_c) AS BIGINT)")
        .as("gini_bp"))
  }

  // ── t30: Gini impurity 1 − Σp² per source, cross-multiplied to bp. ───
  def t30_source_diversity(s: SparkSession, dir: String): DataFrame = {
    val byLang = Tables.load(s, dir, "documents")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("nl"))
    byLang.groupBy(col("source"))
      .agg(sum(col("nl")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        sum(col("nl") * col("nl")).as("sum_sq"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        expr("10000 - (sum_sq * 10000) div (n_docs * n_docs)")
          .as("gini_bp"))
      .orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s17_kmeans_health"   -> (s17_kmeans_health _),
    "q96_gini_spend"      -> (q96_gini_spend _),
    "t30_source_diversity" -> (t30_source_diversity _))

  val oracles: Map[String, String] = Map(
    "s17_kmeans_health" ->
      s"""WITH assign AS (
        |  SELECT * FROM (
        |${Round11Queries.oracles("s8_kmeans")}
        |  )),
        |census AS (
        |  SELECT cluster, COUNT(*) AS n_vecs,
        |    CAST(SUM(d2) AS BIGINT) AS ssq
        |  FROM assign GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS n_total FROM census)
        |SELECT c.cluster, c.n_vecs, c.ssq,
        |  c.n_vecs * 4 * 10000 // t.n_total AS imbalance_bp
        |FROM census c CROSS JOIN tot t ORDER BY c.cluster""".stripMargin,
    "q96_gini_spend" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
        |      AS spend_c
        |  FROM orders GROUP BY 1),
        |rk AS (
        |  SELECT spend_c,
        |    ROW_NUMBER() OVER (ORDER BY spend_c, o_custkey) AS p
        |  FROM spend),
        |st AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(spend_c) AS BIGINT) AS total_c,
        |    SUM(CAST((p * 2 - 1) * spend_c AS HUGEINT)) AS wsum
        |  FROM rk)
        |SELECT n AS n_customers, total_c,
        |  CAST((wsum - CAST(n AS HUGEINT) * total_c) * 10000
        |    // (CAST(n AS HUGEINT) * total_c) AS BIGINT) AS gini_bp
        |FROM st""".stripMargin,
    "t30_source_diversity" ->
      """WITH bl AS (
        |  SELECT source, lang, COUNT(*) AS nl FROM documents GROUP BY 1, 2),
        |agg AS (
        |  SELECT source, CAST(SUM(nl) AS BIGINT) AS n_docs,
        |    COUNT(*) AS n_langs,
        |    CAST(SUM(nl * nl) AS BIGINT) AS sum_sq
        |  FROM bl GROUP BY 1)
        |SELECT source, n_docs, n_langs,
        |  10000 - (sum_sq * 10000) // (n_docs * n_docs) AS gini_bp
        |FROM agg ORDER BY source""".stripMargin)
}
