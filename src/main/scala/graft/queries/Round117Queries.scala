package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.Tables
import graft.streaming.Drain.drain

/** Hundred-seventeenth batch — corpus governance: mixture auditing,
  * cross-source contamination, ingest-time quality gating, and a vision
  * statistic:
  *
  *  - t67: per-source language-mixture entropy — the mixture audit a
  *    multilingual training corpus runs before fixing sampling weights
  *    (a source whose language entropy drifts between snapshots changed
  *    its crawl mix). Shannon entropy over per-source language counts
  *    under t12's order-independent discipline: per-term c·log2(c)
  *    rounds to DECIMAL(28,12) before the sum, so any partitioning and
  *    the SQL oracle produce the same bits.
  *  - d48: cross-source contamination matrix — for every source pair,
  *    the number of shared distinct word 3-shingles and the containment
  *    in basis points (shared · 10⁴ div min(|A|, |B|)). Full-document
  *    fingerprints find zero leakage on this corpus (duplicates are
  *    within-source), which is exactly why real pipelines measure
  *    shingle CONTAINMENT: partial reuse across sources that no
  *    whole-doc hash can see. One distinct-(source, shingle) aggregate,
  *    one posting-list self-join keyed by shingle (the d9 SMJ class —
  *    two corpus-derived sides), and a ≤(sources choose 2)-row output.
  *  - e36: streaming ingest quality gate — t65's Gopher repetition
  *    fractions computed ON THE STREAM (map-only, so the only state is
  *    the per-source flag counters) with documents flagged at
  *    dup_bp ≥ 500 / top_bp ≥ 600 (medians sit at 281/333, so the gate
  *    splits the corpus rather than rubber-stamping it). This is the
  *    production shape for training-data intake: score at ingest,
  *    aggregate gate decisions per source, never land-then-rescan.
  *  - m40: per-image histogram entropy over the REAL PGM decode path
  *    (encode text-derived 8×8 pixels to PGM bytes, decode them back,
  *    histogram the values) — the exposure/degeneracy screen a vision
  *    corpus runs (entropy ≈ 0 = blank frames); entropy under the same
  *    t12 discipline, plus the distinct-value count.
  *
  * Scale: t67 reduces the corpus to a (sources × languages) table
  * before any float; d48's join carries only distinct postings; e36's
  * stream state is counters (complete-mode memory sink as the test
  * vehicle, same plan shape over a file/Kafka sink); m40 decodes
  * per-row inside codegen.
  *
  * Reference scope: beyond-reference LLM-pipeline surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round117Queries extends QueryModule {

  /** t12's order-independent entropy: log2(n) − Σ round(c·log2 c, 12)/n
    * over a (key, c) count table, rounded to 6 dp. */
  private def entropyAgg(counted: DataFrame, key: String,
      out: String): DataFrame = counted
    .groupBy(col(key))
    .agg(sum(col("c")).cast(DoubleType).as("n"),
      sum(round(col("c") * log2(col("c")), 12)
        .cast(DecimalType(28, 12))).cast(DoubleType).as("s"))
    .select(col(key), col("n").cast(LongType).as("n"),
      round(log2(col("n")) - col("s") / col("n"), 6).as(out))

  // ── t67: per-source language-mixture entropy ──────────────────────────

  def t67_lang_mixture(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.load(s, dir, "documents")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
    val langs = counts.groupBy(col("source"))
      .agg(count(lit(1)).as("n_langs"),
        max(col("c")).as("top_lang_docs"))
    entropyAgg(counts, "source", "lang_entropy")
      .withColumnRenamed("n", "n_docs")
      .join(langs, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        col("top_lang_docs"), col("lang_entropy"))
      .orderBy(col("source"))
  }

  // ── d48: cross-source shingle-containment matrix ──────────────────────

  def d48_source_overlap(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val sh = Tables.load(s, dir, "documents")
      .select(col("source"), Text.tokens(col("text")).as("t"))
      // <3 tokens → no 3-shingles. Guard explicitly: Spark's
      // sequence(1, 0) DESCENDS ([1, 0]) where DuckDB's range(2, 2)
      // is empty — without the filter the engines would diverge
      .filter(size(col("t")) >= 3)
      .select(col("source"), explode(expr(
        """transform(sequence(1, size(t) - 2),
          |  i -> concat(t[i-1], ' ', t[i], ' ', t[i+1]))""".stripMargin))
        .as("sh"))
      .distinct()
      .localCheckpoint(true)
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("sz"))
    val shared = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("source").as("src_a"), col("sz").as("sz_a")),
        Seq("src_a"))
      .join(sizes.select(col("source").as("src_b"), col("sz").as("sz_b")),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("sz_a"), col("sz_b"),
        col("shared"),
        expr("shared * 10000 div least(sz_a, sz_b)").as("containment_bp"))
      .orderBy(col("src_a"), col("src_b"))
  }

  // ── e36: streaming Gopher-repetition quality gate ─────────────────────

  private def gopherScores(docs: DataFrame): DataFrame = docs
    .select(col("source"),
      split(trim(col("text")), "\\s+").as("t"))
    .filter(size(col("t")) >= 2)
    .withColumn("bg", expr(
      "transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))"))
    .select(col("source"),
      expr("""(size(bg) - size(array_distinct(bg))) * 10000
        |  div size(bg)""".stripMargin).as("dup_bp"),
      expr("""array_max(transform(array_distinct(bg),
        |  x -> size(filter(bg, y -> y = x)))) * 10000 div size(bg)"""
        .stripMargin).as("top_bp"))

  def e36_stream_quality_gate(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.stream(s, dir, "documents")
      // per-batch repartition: the bigram profile is per-row-heavy and a
      // small file batch arrives as one partition (round 14; production
      // streams repartition before heavy stateless compute for the same
      // decoupling of source parallelism from compute parallelism)
      .repartition(s.sparkContext.defaultParallelism)
    val agg = gopherScores(raw)
      .groupBy(col("source"))
      .agg(count(lit(1)).cast(LongType).as("n_docs"),
        sum(when(col("dup_bp") >= 500, 1L).otherwise(0L))
          .as("n_flag_dup"),
        sum(when(col("top_bp") >= 600, 1L).otherwise(0L))
          .as("n_flag_top"),
        sum(when(col("dup_bp") >= 500 || col("top_bp") >= 600, 1L)
          .otherwise(0L)).as("n_gated"))
    drain(agg, "complete").orderBy(col("source"))
  }

  // ── m40: image histogram entropy through the PGM codec ────────────────

  def m40_image_entropy(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ImageExprs
    val px = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        explode(ImageExprs.decodePixels(ImageExprs.encodeImageFromText(
          col("text"), "pgm", 8, 8))).as("v"))
      .groupBy(col("doc_id"), col("v"))
      .agg(count(lit(1)).as("c"))
    val dv = px.groupBy(col("doc_id"))
      .agg(countDistinct(col("v")).as("n_values"))
    entropyAgg(px, "doc_id", "pixel_entropy")
      .withColumnRenamed("n", "n_pixels")
      .join(dv, Seq("doc_id"))
      .select(col("doc_id"), col("n_pixels"), col("n_values"),
        col("pixel_entropy"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t67_lang_mixture"        -> (t67_lang_mixture _),
    "d48_source_overlap"      -> (d48_source_overlap _),
    "e36_stream_quality_gate" -> (e36_stream_quality_gate _),
    "m40_image_entropy"       -> (m40_image_entropy _))

  private val gateSql =
    raw"""WITH tk AS (
      |  SELECT source, string_split_regex(trim(text), '\s+') AS t
      |  FROM documents),
      |bgs AS (
      |  SELECT source,
      |    list_transform(range(2, len(t) + 1),
      |      i -> t[CAST(i - 1 AS INTEGER)] || ' ' ||
      |           t[CAST(i AS INTEGER)]) AS bg
      |  FROM tk WHERE len(t) >= 2),
      |sc AS (
      |  SELECT source,
      |    (len(bg) - len(list_distinct(bg))) * 10000 // len(bg) AS dup_bp,
      |    list_max(list_transform(list_distinct(bg),
      |      x -> len(list_filter(bg, y -> y = x)))) * 10000 // len(bg)
      |      AS top_bp
      |  FROM bgs)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN dup_bp >= 500 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_flag_dup,
      |  CAST(SUM(CASE WHEN top_bp >= 600 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_flag_top,
      |  CAST(SUM(CASE WHEN dup_bp >= 500 OR top_bp >= 600 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_gated
      |FROM sc GROUP BY source ORDER BY source""".stripMargin

  val oracles: Map[String, String] = Map(
    "t67_lang_mixture" ->
      """WITH counts AS (
        |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS n_langs,
        |  CAST(MAX(c) AS BIGINT) AS top_lang_docs,
        |  ROUND(log2(CAST(SUM(c) AS DOUBLE)) -
        |    CAST(SUM(CAST(ROUND(c * log2(CAST(c AS DOUBLE)), 12)
        |             AS DECIMAL(28,12))) AS DOUBLE) /
        |    CAST(SUM(c) AS DOUBLE), 6) AS lang_entropy
        |FROM counts GROUP BY source ORDER BY source""".stripMargin,
    "d48_source_overlap" ->
      raw"""WITH tk AS (
        |  SELECT source, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT source,
        |    unnest(list_transform(range(2, len(t)),
        |      i -> t[CAST(i - 1 AS INTEGER)] || ' ' ||
        |           t[CAST(i AS INTEGER)] || ' ' ||
        |           t[CAST(i + 1 AS INTEGER)])) AS sh
        |  FROM tk),
        |sizes AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
        |shared AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(COUNT(*) AS BIGINT) AS shared
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT s.src_a, s.src_b, za.sz AS sz_a, zb.sz AS sz_b, s.shared,
        |  s.shared * 10000 // least(za.sz, zb.sz) AS containment_bp
        |FROM shared s
        |JOIN sizes za ON za.source = s.src_a
        |JOIN sizes zb ON zb.source = s.src_b
        |ORDER BY s.src_a, s.src_b""".stripMargin,
    "e36_stream_quality_gate" -> gateSql,
    "m40_image_entropy" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    ord(substr(text, CAST(((i - 1) % length(text)) + 1 AS INT), 1))
        |      % 256 AS v
        |  FROM documents CROSS JOIN (SELECT unnest(range(1, 65)) AS i)),
        |cnt AS (
        |  SELECT doc_id, v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM px GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_pixels,
        |  CAST(COUNT(*) AS BIGINT) AS n_values,
        |  ROUND(log2(CAST(SUM(c) AS DOUBLE)) -
        |    CAST(SUM(CAST(ROUND(c * log2(CAST(c AS DOUBLE)), 12)
        |             AS DECIMAL(28,12))) AS DOUBLE) /
        |    CAST(SUM(c) AS DOUBLE), 6) AS pixel_entropy
        |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
