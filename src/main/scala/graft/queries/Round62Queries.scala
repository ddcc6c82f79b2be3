package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import SketchSql.textByte

/** Sixty-second batch — mixture geometry, filtered ANN, keyframes:
  *
  *  - t38: pairwise Jensen-Shannon divergence between source unigram
  *    distributions — the mixture-design metric (how redundant are two
  *    corpus sources?). The disjoint-support tails close in EXACT
  *    arithmetic (q = 0 ⟹ p·log₂(2p/p) = p, so each side's exclusive
  *    mass contributes (n − Σ_shared c)/n — no outer join, no 0·log
  *    cases); only the shared-term sum is floating, and it follows the
  *    t12 discipline (per-term contribution rounded to 12 decimals →
  *    DECIMAL(28,12) sum → order-independent under any partitioning).
  *  - s20: filtered vector search — ANN under a metadata predicate
  *    (label must match the query's), the filtered-retrieval shape
  *    every vector store serves. The predicate is not a post-filter:
  *    it IS the join key (label equi-join with the broadcast query
  *    set), so candidate generation only touches same-label rows —
  *    at 100 TB the same key prepends the IVF cell id.
  *  - m18: keyframe selection — the frame a video pipeline keeps per
  *    scene: frame 0 plus every frame whose scene-cut test fires
  *    (m13's MAFD ≥ 80 rule), each carrying its exact luma sum from
  *    the decoded Y4M raster (frameYSums ∘ frameYDeltas, one codegen'd
  *    decode per row; mad = −1 marks the unconditional first frame).
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round62Queries extends QueryModule {

  def t38_jsd_sources(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val tok = Tables.load(s, dir, "documents").select(col("source"),
      explode(Text.tokens(lower(col("text")))).as("term"))
    val counts = tok.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy(col("source")).agg(sum(col("cnt")).as("n"))
    val withN = counts.join(totals, "source")
    val left = withN.select(col("source").as("sa"), col("term"),
      col("cnt").as("ca"), col("n").as("na"))
    val right = withN.select(col("source").as("sb"), col("term"),
      col("cnt").as("cb"), col("n").as("nb"))
    val inter = left.join(right, Seq("term"))
      .filter(col("sa") < col("sb"))
      .withColumn("contrib", round(
        expr("""(ca / na) * log2(2 * (ca / na) / (ca / na + cb / nb))
               | + (cb / nb) * log2(2 * (cb / nb) / (ca / na + cb / nb))"""
          .stripMargin), 12).cast(DecimalType(28, 12)))
    inter.groupBy(col("sa"), col("sb"), col("na"), col("nb"))
      .agg(count(lit(1)).as("n_shared_terms"),
        sum(col("contrib")).as("shared_sum"),
        sum(col("ca")).as("sca"), sum(col("cb")).as("scb"))
      .select(col("sa"), col("sb"), col("n_shared_terms"),
        round((col("shared_sum").cast(DoubleType)
          + (col("na") - col("sca")) / col("na")
          + (col("nb") - col("scb")) / col("nb")) / 2, 6).as("jsd"))
      .orderBy(col("sa"), col("sb"))
  }

  def s20_filtered_ann(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Vectors
    val emb = Tables.load(s, dir, "embeddings")
    val q = broadcast(emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("lab")))
    val c = emb.select(col("vec_id").as("cand_id"),
      col("embedding").as("cv"), col("label").as("lab"))
    val scored = c.join(q, "lab")
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), col("lab"),
        Vectors.cosine(col("qv"), col("cv")).as("cosv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosv").desc, col("cand_id"))
    scored.withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("cand_id"),
        col("lab").cast(LongType).as("lab"),
        round(col("cosv"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rk"))
  }

  private val W = 8; private val H = 8; private val NFrames = 4
  private val FrameSize = W * H + 2 * (W / 2) * (H / 2) // 96
  private val YSize = W * H // 64

  def m18_keyframes(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VideoExprs
    val payload = when(col("doc_id") % 2 === 0,
        VideoExprs.encodeY4mFromText(col("text"), W, H, NFrames,
          omitC = true))
      .otherwise(VideoExprs.encodeY4mFromText(col("text"), W, H, NFrames,
        omitC = false))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), VideoExprs.frameYSums(payload).as("ysums"),
        VideoExprs.frameYDeltas(payload).as("deltas"))
      .select(col("doc_id"), col("deltas"),
        posexplode(col("ysums")).as(Seq("frame_idx", "y_sum")))
      .withColumn("mad",
        when(col("frame_idx") === 0, lit(-1L))
          .otherwise(expr("element_at(deltas, frame_idx) div 64")))
      .filter(col("frame_idx") === 0 || col("mad") >= 80)
      .select(col("doc_id"), col("frame_idx").cast(LongType), col("y_sum"),
        col("mad"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t38_jsd_sources" -> (t38_jsd_sources _),
    "s20_filtered_ann" -> (s20_filtered_ann _),
    "m18_keyframes"    -> (m18_keyframes _))

  val oracles: Map[String, String] = Map(
    "t38_jsd_sources" ->
      """WITH tok AS (
        |  SELECT source,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |counts AS (
        |  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM tok GROUP BY 1, 2),
        |totals AS (
        |  SELECT source, CAST(SUM(cnt) AS BIGINT) AS n
        |  FROM counts GROUP BY 1),
        |wn AS (SELECT c.source, c.term, c.cnt, t.n
        |       FROM counts c JOIN totals t USING (source)),
        |inter AS (
        |  SELECT a.source AS sa, b.source AS sb, a.n AS na, b.n AS nb,
        |    a.cnt AS ca, b.cnt AS cb,
        |    CAST(ROUND(
        |      (a.cnt / a.n) * log2(2 * (a.cnt / a.n)
        |        / (a.cnt / a.n + b.cnt / b.n))
        |      + (b.cnt / b.n) * log2(2 * (b.cnt / b.n)
        |        / (a.cnt / a.n + b.cnt / b.n)), 12)
        |      AS DECIMAL(28,12)) AS contrib
        |  FROM wn a JOIN wn b ON a.term = b.term AND a.source < b.source)
        |SELECT sa, sb, CAST(COUNT(*) AS BIGINT) AS n_shared_terms,
        |  ROUND((CAST(SUM(contrib) AS DOUBLE)
        |    + (na - SUM(ca)) / na + (nb - SUM(cb)) / nb) / 2, 6) AS jsd
        |FROM inter GROUP BY sa, sb, na, nb
        |ORDER BY sa, sb""".stripMargin,
    "s20_filtered_ann" ->
      """WITH e AS (
        |  SELECT vec_id, label, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |norms AS (
        |  SELECT vec_id, sqrt(SUM(CAST(v AS DOUBLE)*CAST(v AS DOUBLE)))
        |    AS nrm
        |  FROM e GROUP BY 1),
        |dots AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    CAST(q.label AS BIGINT) AS lab,
        |    SUM(CAST(q.v AS DOUBLE) * CAST(c.v AS DOUBLE)) AS dot
        |  FROM e q JOIN e c ON q.i = c.i AND q.label = c.label
        |  WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id
        |  GROUP BY 1, 2, 3),
        |ranked AS (
        |  SELECT query_id, cand_id, lab,
        |    ROUND(dot/(nq.nrm*nc.nrm), 6) AS cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY dot/(nq.nrm*nc.nrm) DESC, cand_id) AS rk
        |  FROM dots JOIN norms nq ON nq.vec_id = query_id
        |  JOIN norms nc ON nc.vec_id = cand_id)
        |SELECT query_id, rk, cand_id, lab, cosine
        |FROM ranked WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin,
    "m18_keyframes" ->
      s"""WITH fr AS (
        |  SELECT doc_id, text, CAST(t.f AS BIGINT) AS frame_idx,
        |    CAST(list_sum(list_transform(range(0, $YSize), i ->
        |      ${textByte(s"$FrameSize*t.f + i")})) AS BIGINT) AS y_sum,
        |    CASE WHEN t.f = 0 THEN CAST(-1 AS BIGINT)
        |    ELSE CAST(list_sum(list_transform(range(0, $YSize), i ->
        |      abs(${textByte(s"$FrameSize*t.f + i")} -
        |          ${textByte(s"$FrameSize*(t.f-1) + i")}))) AS BIGINT) // 64
        |    END AS mad
        |  FROM documents CROSS JOIN (VALUES (0), (1), (2), (3)) AS t(f))
        |SELECT doc_id, frame_idx, y_sum, mad
        |FROM fr WHERE frame_idx = 0 OR mad >= 80
        |ORDER BY doc_id, frame_idx""".stripMargin)
}
