package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.Tables
import graft.functions.ImageExprs
import graft.streaming.Drain.drain
import SketchSql.textByte

/** Thirtieth batch — the real decoder joins the dedup family:
  *
  *  - d23: perceptual-hash image near-duplicate detection, the image-side
  *    dedup a multimodal training corpus needs. Pipeline: decode the
  *    8×8 P5 payload → average-hash (bit i = sample i ≥ ⌊mean⌋) emitted
  *    directly as four 16-bit LSH BANDS → candidates meet through a
  *    banded equi-join (never all-pairs — identical shape to the
  *    SimHash/MinHash band path d3/d4 use) → exact Hamming verification
  *    by popcount of band XORs → pairs at distance ≤ 6. The planted
  *    near-dups are one-character text edits: the raster tiles the text
  *    cyclically, so one codepoint edit perturbs ~⌈64/len⌉ pixels — the
  *    small-perturbation regime perceptual hashing exists for; unrelated
  *    images differ in ~32 bits. Every stage (hash, banding, candidates,
  *    verification) is integer-exact and replayed by the oracle.
  *
  * Scale: banded candidates bound the join exactly like d4's SimHash
  * bands — a band value shared by many images (near-constant rasters)
  * is the known hot-bucket hazard; the d13b-style posting cap is the
  * remedy if a real corpus hits it.
  *
  * Reference scope: extension beyond the reference surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round30Queries extends QueryModule {

  def d23_image_phash_dedup(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), col("text"))
    val variants = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      expr("concat(substring(text, 1, 5), 'q', substring(text, 7))")
        .as("text"))
    val corpus = docs.unionByName(variants)
      .withColumn("bands", ImageExprs.aHashBands(
        ImageExprs.encodeImageFromText(col("text"), "pgm", 8, 8)))
      .select(col("doc_id"), col("bands"))
    // Shape choice, measured (round 8): dedup candidates as two-long
    // pairs (codegen'd distinct) and re-attach the hash arrays by two
    // keyed joins, rather than carrying the band arrays through the
    // banded join into a first()-aggregate — the array-valued hash
    // aggregate leaves whole-stage codegen and ran 1.6× slower at sf0.1
    // (1.38 s vs 2.20 s warm) despite being "one shuffle fewer".
    val exploded = corpus.select(col("doc_id"),
      posexplode(col("bands")).as(Seq("band_idx", "band_val")))
    val cand = exploded.as("a").join(exploded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    cand
      .join(corpus.select(col("doc_id").as("id_a"), col("bands").as("ba")),
        "id_a")
      .join(corpus.select(col("doc_id").as("id_b"), col("bands").as("bb")),
        "id_b")
      .withColumn("hamming", expr(
        "aggregate(zip_with(ba, bb, (x, y) -> bit_count(x ^ y)), " +
          "0, (acc, h) -> acc + h)").cast(IntegerType))
      .filter(col("hamming") <= 6)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Streaming twin of m9's media quarantine: continuous document
    * ingest, per-row decode-or-NULL (`try_image_stats` is stateless, so
    * poison pills can't wedge the stream), ONE stateful per-source
    * aggregation in complete mode. Shares m9's oracle — the batch and
    * streaming gates must agree count for count. */
  def e23_stream_media_gate(s: SparkSession, dir: String): DataFrame = {
    val stream = Tables.stream(s, dir, "documents")
      .withColumn("payload",
        ImageExprs.encodeImageFromText(col("text"), "pgm", 8, 8))
      .withColumn("payload",
        when(col("doc_id") % 7 === 0, expr("substring(payload, 1, 9)"))
          .otherwise(col("payload")))
      .withColumn("st", ImageExprs.tryImageStats(col("payload")))
    val agg = stream.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      count(col("st")).as("n_decoded"),
      sum(when(col("st").isNull, 1L).otherwise(0L)).as("n_rejected"),
      sum(col("st.sum_all")).as("px_total"))
    drain(agg, "complete").orderBy(col("source"))
  }

  /** Cross-modal quality gate — the composite keep/drop decision a
    * multimodal training pipeline makes per example, with each modality
    * contributing one rule: TEXT must tokenize to ≥5 tokens, the decoded
    * IMAGE must have ≥8 levels of dynamic range (near-constant rasters
    * carry no signal), and the EMBEDDING must have ≥2 strong directions
    * (|round(x·10⁶)| ≥ 250000 — unit-norm vectors all pass a norm gate,
    * so the gate tests concentration instead). One corpus-sized 1:1 join
    * (documents × embeddings on doc_id), per-rule failure counts ride
    * along so a drifting modality is attributable. */
  def p28_multimodal_gate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val emb = Tables.load(s, dir, "embeddings")
      .select(col("vec_id").as("doc_id"),
        expr("aggregate(embedding, 0L, (acc, x) -> acc + " +
          "IF(abs(CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) " +
          ">= 250000, 1L, 0L))").as("strong"))
    docs.join(emb, "doc_id")
      .withColumn("st", ImageExprs.imageStats(
        ImageExprs.encodeImageFromText(col("text"), "pgm", 8, 8)))
      .withColumn("text_ok",
        graft.functions.Text.tokenCount(col("text")) >= 5)
      .withColumn("image_ok",
        col("st.px_max") - col("st.px_min") >= 8)
      .withColumn("embed_ok", col("strong") >= 2)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("text_ok") && col("image_ok") && col("embed_ok"), 1L)
          .otherwise(0L)).as("n_keep"),
        sum(when(!col("text_ok"), 1L).otherwise(0L)).as("n_text_fail"),
        sum(when(!col("image_ok"), 1L).otherwise(0L)).as("n_image_fail"),
        sum(when(!col("embed_ok"), 1L).otherwise(0L)).as("n_embed_fail"))
      .orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d23_image_phash_dedup"  -> (d23_image_phash_dedup _),
    "e23_stream_media_gate"  -> (e23_stream_media_gate _),
    "p28_multimodal_gate"    -> (p28_multimodal_gate _))

  val oracles: Map[String, String] = Map(
    // e23 is the streaming twin of m9 — same gate, same oracle
    "e23_stream_media_gate" -> Round28Queries.oracles("m9_corrupt_tolerance"),
    "p28_multimodal_gate" ->
      s"""WITH q AS (
        |  SELECT vec_id AS doc_id,
        |    SUM(CASE WHEN abs(CAST(ROUND(CAST(x AS DOUBLE) * 1000000)
        |      AS BIGINT)) >= 250000 THEN 1 ELSE 0 END) AS strong
        |  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
        |  GROUP BY 1),
        |f AS (
        |  SELECT d.source,
        |    len(string_split_regex(trim(d.text), '\\s+')) >= 5 AS text_ok,
        |    (list_max(list_transform(range(0, 64), i -> ${textByte("i")})) -
        |     list_min(list_transform(range(0, 64), i -> ${textByte("i")}))) >= 8
        |      AS image_ok,
        |    q.strong >= 2 AS embed_ok
        |  FROM documents d JOIN q USING (doc_id))
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN text_ok AND image_ok AND embed_ok
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |  CAST(SUM(CASE WHEN NOT text_ok THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_text_fail,
        |  CAST(SUM(CASE WHEN NOT image_ok THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_image_fail,
        |  CAST(SUM(CASE WHEN NOT embed_ok THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_embed_fail
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "d23_image_phash_dedup" ->
      s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    concat(substr(text, 1, 5), 'q', substr(text, 7)) AS text
        |  FROM documents),
        |px AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 64), i -> ${textByte("i")}) AS p
        |  FROM corpus),
        |wm AS (
        |  SELECT doc_id, p, CAST(list_sum(p) AS BIGINT) // 64 AS mean
        |  FROM px),
        |bands AS (
        |  SELECT doc_id, CAST(t.b AS INT) AS band_idx,
        |    CAST(list_sum(list_transform(range(0, 16), j ->
        |      CASE WHEN p[CAST(16*t.b + j + 1 AS INT)] >= mean
        |        THEN (1 << CAST(j AS INT)) ELSE 0 END)) AS INT) AS band_val
        |  FROM wm CROSS JOIN (VALUES (0), (1), (2), (3)) t(b)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
        |      AND a.doc_id < b.doc_id),
        |bl AS (
        |  SELECT doc_id, list(band_val ORDER BY band_idx) AS bv
        |  FROM bands GROUP BY doc_id),
        |ham AS (
        |  SELECT id_a, id_b,
        |    CAST(list_sum(list_transform(range(1, 5), k ->
        |      bit_count(xor(x.bv[CAST(k AS INT)], y.bv[CAST(k AS INT)]))))
        |      AS INT) AS hamming
        |  FROM cand
        |  JOIN bl x ON x.doc_id = cand.id_a
        |  JOIN bl y ON y.doc_id = cand.id_b)
        |SELECT id_a, id_b, hamming FROM ham
        |WHERE hamming <= 6 ORDER BY id_a, id_b""".stripMargin)
}
