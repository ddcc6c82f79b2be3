package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.streaming.Drain.drain

/** Twelfth batch — corpus-assembly and gating tail:
  *
  *  - d18: the REAL SemDeDup pipeline — k-means clusters (s8's exact
  *    integer Lloyd's) then within-cluster cosine dedup (d12's drop
  *    rule on learned clusters instead of the dataset label);
  *  - e16: the trained NB classifier gating a document stream at
  *    ingest ([[graft.operators.NaiveBayes.scores]] on a streaming
  *    frame; drain-then-finish argmax like e15) — hash-equal to t20's
  *    batch answer;
  *  - p24: deterministic epoch shuffle — content-hash ordering + a
  *    distributed global row number (no single-partition window) +
  *    round-robin shard assignment, the "shuffle the corpus the same
  *    way on every run" step of training-data layout;
  *  - t21: vocabulary OOV-rate report against the corpus top-K
  *    vocabulary — the coverage check a tokenizer build ends with.
  *
  * Reference scope: extensions beyond the reference surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round12Queries extends QueryModule {

  // ── d18: SemDeDup on learned clusters — k-means assignment bounds the
  //        pair search (pairs only form within a cluster; at 100 TB, k
  //        scales with N so clusters stay bounded and the join is keyed
  //        by cluster id, nothing global). Drop rule = d12's: within a
  //        cluster, cosine ≥ 0.30 drops the larger vec_id. ─────────────
  def d18_semdedup_kmeans(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Kmeans, Vectors}
    val e = Tables.load(s, dir, "embeddings")
    val clusters = Kmeans.lloyd(e, "vec_id", "embedding", k = 4, iters = 2)
      .select(col("id").as("vec_id"), col("c").as("cluster"))
      .localCheckpoint() // two consumers: pair join + final labeling
    val withC = e.join(clusters, "vec_id")
    val a = withC.select(col("cluster"), col("vec_id").as("id_a"),
      col("embedding").as("va"))
    val b = withC.select(col("cluster"), col("vec_id").as("id_b"),
      col("embedding").as("vb"))
    val dropped = a.join(b, "cluster")
      .filter(col("id_a") < col("id_b") &&
        Vectors.cosine(col("va"), col("vb")) >= 0.30)
      .select(col("id_b").as("vec_id")).distinct()
    e.select(col("vec_id")).join(clusters, "vec_id")
      .join(dropped.withColumn("is_dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("is_dup"), lit(false)).as("dropped"))
      .orderBy(col("vec_id"))
  }

  // ── e16: NB gate at STREAM-INGEST time — the model (trained batch-side
  //        on the even-id seed split) broadcasts into a stateless
  //        stream-static join; the per-(doc, class) score sum is the one
  //        streaming aggregation (state = docs-in-flight × classes); the
  //        drained score table finishes through the batch argmax.
  //        Hash-matching t20's oracle proves the ingest-time gate
  //        computes exactly the batch answer. ──────────────────────────
  def e16_stream_nb_gate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.NaiveBayes
    val docs = Tables.load(s, dir, "documents")
    // materialize: the stream-static broadcast sides would otherwise
    // re-execute the whole fit DAG in every microbatch (round 14)
    val model = NaiveBayes.materialize(
      NaiveBayes.fit(docs, col("doc_id") % 2 === 0, "text", "lang"))
    val stream = Tables.stream(s, dir, "documents", docs.schema)
      .filter(col("doc_id") % 2 =!= 0)
    val scored = NaiveBayes.scores(stream, model, "doc_id", "text")
    NaiveBayes.argmax(drain(scored, "complete"))
      .join(docs.select(col("doc_id").as("id"), col("lang")), "id")
      .select(col("id").as("doc_id"), col("pred").as("pred_lang"),
        col("lang"), (col("pred") === col("lang")).as("correct"),
        col("score"))
      .orderBy(col("doc_id"))
  }

  // ── p24: deterministic epoch shuffle — position = global row number
  //        under md5('epoch1:' || doc_id) (distributed two-level rank,
  //        no single-partition window), shard = (pos-1) mod 8. Rerunning
  //        the job reproduces the exact layout; changing the epoch salt
  //        reshuffles. ────────────────────────────────────────────────
  def p24_epoch_shuffle(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        md5(concat(lit("epoch1:"), col("doc_id").cast(StringType)))
          .as("h"))
    graft.operators.Rank.globalRank(docs, "pos", col("h"), col("doc_id"))
      .select(col("doc_id"), col("pos"),
        pmod(col("pos") - 1, lit(8L)).as("shard"))
      .orderBy(col("doc_id"))
  }

  // ── t21: OOV-rate report — vocabulary = corpus top-30 word types by
  //        (freq desc, word asc); per-doc out-of-vocabulary token
  //        fraction via one dictionary join (vocab broadcasts; the
  //        corpus side is one explode + one aggregate). ────────────────
  def t21_oov_rate(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
    val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w")).limit(30)
      .select(col("w"), lit(true).as("in_v"))
    toks.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tok"), col("n_oov"),
        round(col("n_oov").cast(DoubleType) /
          col("n_tok").cast(DoubleType), 6).as("oov_rate"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d18_semdedup_kmeans" -> (d18_semdedup_kmeans _),
    "e16_stream_nb_gate"  -> (e16_stream_nb_gate _),
    "p24_epoch_shuffle"   -> (p24_epoch_shuffle _),
    "t21_oov_rate"        -> (t21_oov_rate _))

  val oracles: Map[String, String] = Map(
    // the ingest-time gate must compute exactly the batch answer
    "e16_stream_nb_gate" -> Round11Queries.oracles("t20_nb_langid"),
    // s8's unrolled Lloyd chain feeding d12's within-cluster drop rule
    "d18_semdedup_kmeans" ->
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
        |       FROM q JOIN c2 ON q.i = c2.i GROUP BY 1, 2),
        |cl AS (SELECT vec_id, c AS cluster FROM (
        |         SELECT vec_id, c,
        |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c)
        |             AS rn
        |         FROM e3) WHERE rn = 1),
        |e AS (
        |  SELECT vec_id, unnest(embedding) AS v,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |norms AS (
        |  SELECT vec_id, sqrt(SUM(CAST(v AS DOUBLE)*CAST(v AS DOUBLE)))
        |    AS nrm
        |  FROM e GROUP BY 1),
        |dots AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |         SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
        |  JOIN cl ca ON ca.vec_id = a.vec_id
        |  JOIN cl cb ON cb.vec_id = b.vec_id AND ca.cluster = cb.cluster
        |  GROUP BY 1, 2),
        |dropped AS (
        |  SELECT DISTINCT id_b AS vec_id
        |  FROM dots JOIN norms na ON na.vec_id = id_a
        |            JOIN norms nb ON nb.vec_id = id_b
        |  WHERE dot / (na.nrm * nb.nrm) >= 0.30)
        |SELECT cl.vec_id, cl.cluster,
        |  (dropped.vec_id IS NOT NULL) AS dropped
        |FROM cl LEFT JOIN dropped ON cl.vec_id = dropped.vec_id
        |ORDER BY cl.vec_id""".stripMargin,
    "p24_epoch_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS hh
        |  FROM documents)
        |SELECT doc_id,
        |  ROW_NUMBER() OVER (ORDER BY hh, doc_id) AS pos,
        |  (ROW_NUMBER() OVER (ORDER BY hh, doc_id) - 1) % 8 AS shard
        |FROM h ORDER BY doc_id""".stripMargin,
    "t21_oov_rate" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents),
        |vocab AS (
        |  SELECT w FROM (
        |    SELECT w, COUNT(*) AS freq FROM tok GROUP BY w)
        |  ORDER BY freq DESC, w LIMIT 30)
        |SELECT doc_id, COUNT(*) AS n_tok,
        |  CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  ROUND(CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*), 6) AS oov_rate
        |FROM tok LEFT JOIN vocab v ON v.w = tok.w
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
