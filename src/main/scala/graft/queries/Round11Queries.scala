package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Eleventh batch — the clustering/classification tail of corpus
  * curation:
  *
  *  - s8: distributed k-means over the embedding corpus
  *    ([[graft.operators.Kmeans]]) — the clustering half of SemDeDup
  *    (d12 is the within-cluster half) and the training step of an IVF
  *    index, replayed exactly by an unrolled integer-arithmetic oracle
  *    (the q74/q75 PageRank pattern applied to Lloyd iterations);
  *  - t20: Naive-Bayes language identification trained on half the
  *    corpus and scored on the held-out half — the fastText-style
  *    "train a classifier on a seed set, score the corpus" step of
  *    quality/language filtering (add-one smoothing, log-space scores
  *    rounded to 6 decimals BEFORE the argmax so both engines argmax
  *    over identical values; ties break toward the smaller lang).
  *
  * Reference scope: extensions beyond the reference surface (same
  * contract as the other families — the reference's transform dialect
  * is open, /root/reference/tools.py:58-65).
  */
object Round11Queries extends QueryModule {

  // ── s8: k-means (k=4, 2 Lloyd updates, seeds = 4 lowest vec_ids) —
  //        final assignment (vec_id, cluster, d2). Centroids broadcast;
  //        assignment is a narrow codegen'd map; each update is one
  //        k·d-group shuffle. ──────────────────────────────────────────
  def s8_kmeans(s: SparkSession, dir: String): DataFrame =
    graft.operators.Kmeans
      .lloyd(Tables.load(s, dir, "embeddings"), "vec_id", "embedding", k = 4, iters = 2)
      .select(col("id").as("vec_id"), col("c").as("cluster"), col("d2"))
      .orderBy(col("vec_id"))

  // ── t20: NB langid — train on doc_id % 2 = 0, score the held-out
  //        half. Per-class token log-likelihoods live in a
  //        vocabulary-sized dictionary (broadcast join, like t9/t19);
  //        the corpus side is one explode + one aggregate. ─────────────
  def t20_nb_langid(s: SparkSession, dir: String): DataFrame =
    graft.operators.NaiveBayes
      .classify(Tables.load(s, dir, "documents"), col("doc_id") % 2 === 0,
        "doc_id", "text", "lang")
      .select(col("id").as("doc_id"), col("pred").as("pred_lang"),
        col("label").as("lang"), col("correct"), col("score"))
      .orderBy(col("doc_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s8_kmeans"     -> (s8_kmeans _),
    "t20_nb_langid" -> (t20_nb_langid _))

  val oracles: Map[String, String] = Map(
    // Lloyd iterations unrolled: e_r = distances under centroids c_{r-1},
    // a_r = argmin assignment (ties -> smaller centroid id), c_r = exact
    // floored-integer-mean centroids. Output = assignment under c_2.
    "s8_kmeans" ->
      """WITH raw AS (
        |  SELECT vec_id, unnest(embedding) AS x,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, i - 1 AS i,
        |    CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS qx
        |  FROM raw),
        |c0 AS (SELECT vec_id AS c, i, qx AS cx FROM q WHERE vec_id < 4),
        |e1 AS (SELECT q.vec_id, c0.c,
        |         CAST(SUM((q.qx - c0.cx) * (q.qx - c0.cx)) AS BIGINT) AS d2
        |       FROM q JOIN c0 ON q.i = c0.i GROUP BY 1, 2),
        |a1 AS (SELECT vec_id, c FROM (
        |         SELECT vec_id, c,
        |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c)
        |             AS rn
        |         FROM e1) WHERE rn = 1),
        |c1 AS (SELECT a1.c, q.i,
        |         CAST((SUM(q.qx) -
        |               ((SUM(q.qx) % COUNT(*) + COUNT(*)) % COUNT(*)))
        |              // COUNT(*) AS BIGINT) AS cx
        |       FROM a1 JOIN q USING (vec_id) GROUP BY 1, 2),
        |e2 AS (SELECT q.vec_id, c1.c,
        |         CAST(SUM((q.qx - c1.cx) * (q.qx - c1.cx)) AS BIGINT) AS d2
        |       FROM q JOIN c1 ON q.i = c1.i GROUP BY 1, 2),
        |a2 AS (SELECT vec_id, c FROM (
        |         SELECT vec_id, c,
        |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c)
        |             AS rn
        |         FROM e2) WHERE rn = 1),
        |c2 AS (SELECT a2.c, q.i,
        |         CAST((SUM(q.qx) -
        |               ((SUM(q.qx) % COUNT(*) + COUNT(*)) % COUNT(*)))
        |              // COUNT(*) AS BIGINT) AS cx
        |       FROM a2 JOIN q USING (vec_id) GROUP BY 1, 2),
        |e3 AS (SELECT q.vec_id, c2.c,
        |         CAST(SUM((q.qx - c2.cx) * (q.qx - c2.cx)) AS BIGINT) AS d2
        |       FROM q JOIN c2 ON q.i = c2.i GROUP BY 1, 2)
        |SELECT vec_id, c AS cluster, d2 FROM (
        |  SELECT vec_id, c, d2,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
        |  FROM e3) WHERE rn = 1
        |ORDER BY vec_id""".stripMargin,
    "t20_nb_langid" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents),
        |train AS (SELECT * FROM tok WHERE doc_id % 2 = 0),
        |tr_docs AS (SELECT doc_id, lang FROM documents WHERE doc_id % 2 = 0),
        |n_train AS (SELECT COUNT(*) AS n FROM tr_docs),
        |prior AS (SELECT lang AS lg, COUNT(*) AS n_docs FROM tr_docs
        |          GROUP BY 1),
        |ntok AS (SELECT lang AS lg, COUNT(*) AS n_tok FROM train GROUP BY 1),
        |voc AS (SELECT COUNT(DISTINCT w) AS v_sz FROM train),
        |cnt AS (SELECT lang AS lg, w, COUNT(*) AS cnt FROM train
        |        GROUP BY 1, 2),
        |terms AS (
        |  SELECT t.doc_id, p.lg, p.n_docs, n.n,
        |    ln(CAST(COALESCE(c.cnt, 0) + 1 AS DOUBLE) /
        |       CAST(nt.n_tok + v.v_sz AS DOUBLE)) AS lp
        |  FROM (SELECT doc_id, w FROM tok WHERE doc_id % 2 <> 0) t
        |  CROSS JOIN prior p
        |  JOIN ntok nt ON nt.lg = p.lg
        |  CROSS JOIN voc v
        |  CROSS JOIN n_train n
        |  LEFT JOIN cnt c ON c.lg = p.lg AND c.w = t.w),
        |scores AS (
        |  SELECT doc_id, lg,
        |    ROUND(ln(CAST(n_docs AS DOUBLE) / CAST(n AS DOUBLE)) + SUM(lp),
        |      6) AS score
        |  FROM terms GROUP BY doc_id, lg, n_docs, n),
        |pred AS (
        |  SELECT doc_id, lg AS pred_lang, score FROM (
        |    SELECT doc_id, lg, score,
        |      ROW_NUMBER() OVER (PARTITION BY doc_id
        |                         ORDER BY score DESC, lg) AS rn
        |    FROM scores) WHERE rn = 1)
        |SELECT d.doc_id, p.pred_lang, d.lang,
        |  p.pred_lang = d.lang AS correct, p.score
        |FROM pred p JOIN documents d USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)
}
