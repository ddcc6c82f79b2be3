package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{CountMin, Substring}

/** Twenty-second batch — span-level dedup APPLICATION and dataset
  * mixture control:
  *
  *  - d22: repeated-span removal ([[Substring.removeSharedRuns]]) — the
  *    apply step of ExactSubstr dedup (Lee et al. 2022): runs of ≥ 12
  *    tokens shared verbatim with an earlier document are excised from
  *    the later copy and the text is rebuilt, first occurrence kept.
  *    d19 *detects*; this *cleans* — what a training pipeline actually
  *    ships.
  *  - t23: deterministic mixture rebalance — per-language sampling rates
  *    that downsample every language to the rarest one's mass
  *    (uniform-mixture target), applied via the integer mix hash so any
  *    engine keeps the SAME documents. The "data mixing" knob of corpus
  *    assembly, with no RNG and no stored sample list.
  *
  * Reference scope: extension beyond the reference surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round22Queries extends QueryModule {

  // ── d22: 8-gram diagonals → ≥12-token islands → positional coverage →
  //        rebuild. Output hashes the cleaned text so the oracle checks
  //        the exact surviving byte sequence, not just counts. ──────────
  def d22_span_removal(s: SparkSession, dir: String): DataFrame =
    Substring.removeSharedRuns(Tables.load(s, dir, "documents"), "doc_id", "text",
        n = 8, minRunTokens = 12)
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_removed"),
        md5(col("cleaned")).as("cleaned_md5"))
      .orderBy(col("doc_id"))

  // ── t23: rates in ppm = (min-language count · 10⁶) div count; a doc
  //        survives iff mix61(doc_id) mod 10⁶ < its language's rate —
  //        pure expression, zero shuffle to assign, reproducible
  //        everywhere. ─────────────────────────────────────────────────
  def t23_mixture_rebalance(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("lang"))
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_orig"))
    val rates = counts
      .crossJoin(counts.agg(min(col("n_orig")).as("min_n")))
      .withColumn("rate_ppm", expr("(min_n * 1000000) div n_orig"))
      .select(col("lang"), col("n_orig"), col("rate_ppm"))
    docs
      .withColumn("hppm",
        pmod(CountMin.mix61(col("doc_id"), 1299709L, 104729L),
          lit(1000000L)))
      .join(broadcast(rates), "lang")
      .groupBy(col("lang"), col("n_orig"), col("rate_ppm"))
      .agg(count(when(col("hppm") < col("rate_ppm"), 1)).as("n_kept"))
      .orderBy(col("lang"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d22_span_removal"      -> (d22_span_removal _),
    "t23_mixture_rebalance" -> (t23_mixture_rebalance _))

  val oracles: Map[String, String] = Map(
    // d19's gram/diagonal/island chain extended to coverage + rebuild
    "d22_span_removal" ->
      """WITH base AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS L
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, L, unnest(range(1, len(L) - 6)) AS i
        |  FROM base WHERE len(L) >= 8),
        |sh AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(L[i:i+7], ' ') AS g
        |  FROM idx),
        |m AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         a.pos AS pa, a.pos - b.pos AS diag
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id),
        |r AS (
        |  SELECT id_a, id_b, diag, pa,
        |    pa - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, diag
        |                            ORDER BY pa) AS isl
        |  FROM m),
        |runs AS (
        |  SELECT id_a, id_b, diag, isl, MIN(pa) AS pa_min,
        |    COUNT(*) AS len_grams
        |  FROM r GROUP BY 1, 2, 3, 4),
        |covered AS (
        |  SELECT DISTINCT doc_id, pos FROM (
        |    SELECT id_b AS doc_id,
        |      unnest(range(pa_min - diag,
        |        pa_min - diag + len_grams + 7)) AS pos
        |    FROM runs WHERE len_grams + 7 >= 12)),
        |toks AS (
        |  SELECT doc_id, unnest(L) AS tok,
        |    generate_subscripts(L, 1) - 1 AS pos
        |  FROM base),
        |keptT AS (
        |  SELECT t.doc_id, t.tok, t.pos
        |  FROM toks t LEFT JOIN covered c
        |    ON c.doc_id = t.doc_id AND c.pos = t.pos
        |  WHERE c.pos IS NULL),
        |ka AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY pos) AS cleaned
        |  FROM keptT GROUP BY doc_id),
        |tot AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
        |  FROM toks GROUP BY doc_id)
        |SELECT tot.doc_id, tot.n_tokens,
        |  tot.n_tokens - COALESCE(ka.n_kept, 0) AS n_removed,
        |  md5(COALESCE(ka.cleaned, '')) AS cleaned_md5
        |FROM tot LEFT JOIN ka ON ka.doc_id = tot.doc_id
        |ORDER BY tot.doc_id""".stripMargin,
    "t23_mixture_rebalance" ->
      s"""WITH counts AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_orig
        |  FROM documents GROUP BY lang),
        |mn AS (SELECT MIN(n_orig) AS min_n FROM counts),
        |rates AS (
        |  SELECT lang, n_orig, (mn.min_n * 1000000) // n_orig AS rate_ppm
        |  FROM counts CROSS JOIN mn),
        |hashed AS (
        |  SELECT d.lang,
        |    ${SketchSql.mix("d.doc_id", "1299709", "104729")} % 1000000
        |      AS hppm
        |  FROM documents d)
        |SELECT r.lang, r.n_orig, r.rate_ppm,
        |  CAST(COUNT(CASE WHEN h.hppm < r.rate_ppm THEN 1 END) AS BIGINT)
        |    AS n_kept
        |FROM hashed h JOIN rates r USING (lang)
        |GROUP BY 1, 2, 3 ORDER BY r.lang""".stripMargin)
}
