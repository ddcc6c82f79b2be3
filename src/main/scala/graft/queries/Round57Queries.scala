package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Fifty-seventh batch — retrieval scoring and ranker fusion:
  *
  *  - t36: BM25 (Robertson-Spärck Jones / Okapi, public) — the lexical
  *    ranking function behind virtually every retrieval baseline, and
  *    what t7's raw TF-IDF lacks: document-length normalization (b) and
  *    term-frequency saturation (k1). Probes = the five highest-df
  *    non-stopword terms, scored against every containing document.
  *    Same distribution shape as t7: tf and df are group-bys, the corpus
  *    stats (N, avgdl) are one broadcast scalar row, scoring is
  *    expression-only, and the per-term top-10 is a bounded window.
  *  - s19: reciprocal-rank fusion (Cormack et al. '09, public) of two
  *    ANN rankers — cosine and raw dot-product (MIPS) rank the s1 query
  *    set differently wherever candidate norms differ; RRF fuses them
  *    positionally: score = Σ 1/(60 + rank), computed on the integer
  *    lattice (10⁹ div (60+r), exact in both engines) so the fused
  *    ordering is engine-stable without any float summation. The hybrid
  *    (lexical + vector) serving pattern every RAG stack runs, reduced
  *    to its rank arithmetic.
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round57Queries extends QueryModule {

  def t36_bm25(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val docs = Tables.load(s, dir, "documents")
    val tok = docs.select(col("doc_id"),
      explode(Text.tokens(lower(col("text")))).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = tok.agg(
      countDistinct(col("doc_id")).as("n_docs"),
      count(lit(1)).as("total_toks"))
    val stop = Text.defaultStopwords
    val probes = dfreq
      .filter(!col("term").isInCollection(stop))
      .orderBy(col("df").desc, col("term")).limit(5)
    val scored = tf
      .join(broadcast(probes), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      // idf = ln(1 + (N - df + 0.5)/(df + 0.5)); k1 = 1.2, b = 0.75
      .withColumn("score",
        log(lit(1.0) +
          (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
        (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) *
          (lit(0.25) + lit(0.75) * col("dl") *
            col("n_docs").cast(DoubleType) / col("total_toks"))))
    val w = Window.partitionBy(col("term"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= 10)
      .select(col("term"), col("rk"), col("doc_id"), col("tf"), col("dl"),
        round(col("score"), 6).as("score"))
      .orderBy(col("term"), col("rk"))
  }

  def s19_rank_fusion(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Vectors
    val emb = Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val q = broadcast(emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv")))
    val c = emb.select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
    val scoredPairs = c.crossJoin(q)
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        round(Vectors.cosine(col("qv"), col("cv")), 12).as("cosr"),
        round(Vectors.dotProduct(col("qv"), col("cv")), 12).as("dotr"))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("cosr").desc, col("cand_id"))
    val wd = Window.partitionBy(col("query_id"))
      .orderBy(col("dotr").desc, col("cand_id"))
    val ranked = scoredPairs
      .withColumn("r_cos", row_number().over(wc).cast(LongType))
      .withColumn("r_dot", row_number().over(wd).cast(LongType))
      .withColumn("rrf_micro",
        expr("1000000000 div (60 + r_cos) + 1000000000 div (60 + r_dot)"))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_micro").desc, col("cand_id"))
    ranked.withColumn("rk", row_number().over(wf).cast(LongType))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("cand_id"),
        col("r_cos"), col("r_dot"), col("rrf_micro"))
      .orderBy(col("query_id"), col("rk"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t36_bm25"        -> (t36_bm25 _),
    "s19_rank_fusion" -> (s19_rank_fusion _))

  private val stopList: String = {
    import graft.functions.Text
    Text.defaultStopwords.map(w => s"'$w'").mkString(", ")
  }

  val oracles: Map[String, String] = Map(
    "t36_bm25" ->
      s"""WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM tok GROUP BY 1, 2),
        |dl AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
        |  FROM tok GROUP BY 1),
        |dfreq AS (
        |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |stats AS (
        |  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |    CAST(COUNT(*) AS BIGINT) AS total_toks
        |  FROM tok),
        |probes AS (
        |  SELECT term, df FROM dfreq
        |  WHERE term NOT IN ($stopList)
        |  ORDER BY df DESC, term LIMIT 5),
        |scored AS (
        |  SELECT p.term, tf.doc_id, tf.tf, dl.dl,
        |    ln(1.0 + (st.n_docs - p.df + 0.5) / (p.df + 0.5)) *
        |      (tf.tf * 2.2) /
        |      (tf.tf + 1.2 *
        |        (0.25 + 0.75 * dl.dl *
        |          CAST(st.n_docs AS DOUBLE) / st.total_toks)) AS score
        |  FROM tf JOIN probes p USING (term)
        |  JOIN dl ON dl.doc_id = tf.doc_id
        |  CROSS JOIN stats st),
        |ranked AS (
        |  SELECT term, doc_id, tf, dl, score,
        |    ROW_NUMBER() OVER (PARTITION BY term
        |      ORDER BY score DESC, doc_id) AS rk
        |  FROM scored)
        |SELECT term, rk, doc_id, tf, dl, ROUND(score, 6) AS score
        |FROM ranked WHERE rk <= 10
        |ORDER BY term, rk""".stripMargin,
    "s19_rank_fusion" ->
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
        |scored AS (
        |  SELECT query_id, cand_id,
        |    ROUND(dot/(nq.nrm*nc.nrm), 12) AS cosr,
        |    ROUND(dot, 12) AS dotr
        |  FROM dots JOIN norms nq ON nq.vec_id = query_id
        |  JOIN norms nc ON nc.vec_id = cand_id),
        |ranked AS (
        |  SELECT query_id, cand_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cosr DESC, cand_id) AS r_cos,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY dotr DESC, cand_id) AS r_dot
        |  FROM scored),
        |fused AS (
        |  SELECT query_id, cand_id, r_cos, r_dot,
        |    1000000000 // (60 + r_cos) + 1000000000 // (60 + r_dot)
        |      AS rrf_micro,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY 1000000000 // (60 + r_cos)
        |        + 1000000000 // (60 + r_dot) DESC, cand_id) AS rk
        |  FROM ranked)
        |SELECT query_id, rk, cand_id, r_cos, r_dot, rrf_micro
        |FROM fused WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin)
}
