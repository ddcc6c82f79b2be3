package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.functions.{AdpcmExprs, AviExprs}

/** Hundred-twenty-fifth batch — the compressed-codec seam shrinks on two
  * more fronts (round 12, building on the baseline-JPEG round):
  *
  *  - m46: REAL compressed-AUDIO decode — IMA ADPCM (DVI4) in a real
  *    WAV container ([[graft.functions.AdpcmCodec]]): fmt tag 0x0011,
  *    fact chunk, planted JUNK chunk, block state headers (predictor
  *    stored verbatim, step index CARRIED across blocks), low-nibble-
  *    first 4-bit codes. The quantizer is a pure-integer state machine,
  *    so the oracle replays the ENTIRE encode+decode chain: a
  *    per-(index, magnitude) transition table turns the greedy
  *    threshold loop into one interval join, and a recursive CTE walks
  *    all 98 samples per doc — predictor clamps, index clamps, block
  *    re-sync at k=49, everything bit-exact.
  *  - m47: REAL compressed-VIDEO decode — MJPEG in a real AVI (RIFF)
  *    container ([[graft.functions.AviCodec]]): avih/strh/strf headers,
  *    JUNK, `00dc` frame chunks whose odd JPEG sizes exercise the RIFF
  *    pad rule, idx1 index, frame count cross-checked against avih.
  *    Frame f's image is the m42 gray block-constant JPEG fixture with
  *    the value rule offset by f (consecutive frames differ — returning
  *    frame 0 four times fails the gate); per-frame luma sums replay
  *    the m42 closed-form DC math per (frame, block).
  *
  * Scale: both are per-row decode inside codegen — embarrassingly
  * parallel, no shuffle beyond the final aggregation; exactly the
  * ingest-scoring shape a 100-TB multimodal crawl runs.
  *
  * Reference scope: the reference has no media path
  * (/root/reference/tools.py is CSV/JSON/SQL only); beyond-reference
  * LLM-pipeline surface per the build brief.
  */
object Round125Queries extends QueryModule {

  // ── m46: IMA-ADPCM round trip with gated reconstruction error ─────────

  def m46_adpcm_audio(s: SparkSession, dir: String): DataFrame = {
    val dec = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      .select(col("doc_id"), col("text"),
        AdpcmExprs.decodeSamples(
          AdpcmExprs.encodeAdpcmFromText(col("text"), 8000, 98)).as("dec"))
      .select(col("doc_id"), col("text"),
        posexplode(col("dec")).as(Seq("i", "dec_v")))
      // the original fixture sample, from the same closed form the
      // oracle replays: ((cp·257) mod 65536) − 32768
      .withColumn("orig", expr(
        "(ascii(substr(text, CAST((i % length(text)) + 1 AS INT), 1)) * 257)" +
          " % 65536 - 32768"))
    dec.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_samples"),
        sum(col("dec_v")).as("sum_dec"),
        min(col("dec_v")).as("min_dec"), max(col("dec_v")).as("max_dec"),
        sum(abs(col("dec_v") - col("orig"))).as("sum_abs_err"),
        max(abs(col("dec_v") - col("orig"))).as("max_abs_err"))
      .orderBy(col("doc_id"))
  }

  // ── m47: MJPEG-in-AVI per-frame decode, closed-form DC oracle ─────────

  def m47_mjpeg_frames(s: SparkSession, dir: String): DataFrame =
    graft.Tables.spreadBarrier(Tables.load(s, dir, "documents"))
      .select(col("doc_id"),
        AviExprs.frameLumaSums(
          AviExprs.encodeAviMjpeg(col("text"), 4, 2, 2, 50)).as("sums"))
      .select(col("doc_id"),
        posexplode(col("sums")).as(Seq("frame", "sum_luma")))
      .select(col("doc_id"), col("frame").cast(LongType).as("frame"),
        col("sum_luma"), lit(256L).as("n_px"))
      .orderBy(col("doc_id"), col("frame"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m46_adpcm_audio"  -> (m46_adpcm_audio _),
    "m47_mjpeg_frames" -> (m47_mjpeg_frames _))

  private val StepList = graft.functions.AdpcmCodec.StepTable
    .mkString("[", ",", "]")

  val oracles: Map[String, String] = Map(
    // full IMA state-machine replay: tr maps (step index, 3-bit
    // magnitude) to its |delta| interval [lo, hi), reconstruction diff
    // (= step/8 + T(m)) and next index; the recursive walk threads
    // (pred, idx) through all 98 samples with the block re-sync at
    // k = 49 (predictor reset to the stored sample, index carried)
    "m46_adpcm_audio" ->
      s"""WITH RECURSIVE sm AS MATERIALIZED (
        |  SELECT d.doc_id, i.i,
        |    (ord(substr(d.text, CAST((i.i % length(d.text)) + 1 AS INT), 1))
        |      * 257) % 65536 - 32768 AS orig
        |  FROM documents d CROSS JOIN (SELECT unnest(range(0, 98)) AS i) i),
        |steps AS (
        |  SELECT i AS idx, list_extract($StepList, i + 1) AS s
        |  FROM (SELECT unnest(range(0, 89)) AS i)),
        |tr AS MATERIALIZED (
        |  SELECT idx, m,
        |    (CASE WHEN m >= 4 THEN s ELSE 0 END
        |      + CASE WHEN m % 4 >= 2 THEN s // 2 ELSE 0 END
        |      + CASE WHEN m % 2 = 1 THEN s // 4 ELSE 0 END) AS lo,
        |    CASE WHEN m = 7 THEN 4000000
        |      ELSE (CASE WHEN m + 1 >= 4 THEN s ELSE 0 END
        |        + CASE WHEN (m + 1) % 4 >= 2 THEN s // 2 ELSE 0 END
        |        + CASE WHEN (m + 1) % 2 = 1 THEN s // 4 ELSE 0 END) END AS hi,
        |    s // 8
        |      + (CASE WHEN m >= 4 THEN s ELSE 0 END
        |        + CASE WHEN m % 4 >= 2 THEN s // 2 ELSE 0 END
        |        + CASE WHEN m % 2 = 1 THEN s // 4 ELSE 0 END) AS diff,
        |    LEAST(GREATEST(idx + CASE WHEN m = 4 THEN 2 WHEN m = 5 THEN 4
        |      WHEN m = 6 THEN 6 WHEN m = 7 THEN 8 ELSE -1 END, 0), 88)
        |      AS idx2
        |  FROM steps CROSS JOIN (SELECT unnest(range(0, 8)) AS m)),
        |walk(doc_id, k, pred, idx) AS (
        |  SELECT doc_id, 0, orig, 0 FROM sm WHERE i = 0
        |  UNION ALL
        |  SELECT w.doc_id, w.k + 1,
        |    CASE WHEN (w.k + 1) % 49 = 0 THEN sm.orig
        |      ELSE LEAST(GREATEST(w.pred + CASE WHEN sm.orig < w.pred
        |        THEN -tr.diff ELSE tr.diff END, -32768), 32767) END,
        |    CASE WHEN (w.k + 1) % 49 = 0 THEN w.idx ELSE tr.idx2 END
        |  FROM walk w
        |  JOIN sm ON sm.doc_id = w.doc_id AND sm.i = w.k + 1
        |  JOIN tr ON tr.idx = w.idx
        |    AND abs(sm.orig - w.pred) >= tr.lo
        |    AND abs(sm.orig - w.pred) < tr.hi
        |  WHERE w.k < 97)
        |SELECT w.doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(SUM(w.pred) AS BIGINT) AS sum_dec,
        |  CAST(MIN(w.pred) AS INT) AS min_dec,
        |  CAST(MAX(w.pred) AS INT) AS max_dec,
        |  CAST(SUM(abs(w.pred - sm.orig)) AS BIGINT) AS sum_abs_err,
        |  CAST(MAX(abs(w.pred - sm.orig)) AS INT) AS max_abs_err
        |FROM walk w JOIN sm ON sm.doc_id = w.doc_id AND sm.i = w.k
        |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin,
    // per (frame, block): v = cp((blk+f) mod len) mod 256 → the m42
    // closed-form DC chain (quality 50: DC quantizer 16) → 64·decoded
    // per block, 4 blocks per 16×16 frame
    "m47_mjpeg_frames" ->
      """WITH fr AS (SELECT unnest(range(0, 4)) AS f),
        |k AS (SELECT unnest(range(0, 4)) AS blk),
        |b AS (
        |  SELECT d.doc_id, fr.f, k.blk,
        |    ord(substr(d.text,
        |      CAST((k.blk + fr.f) % length(d.text) AS INT) + 1, 1)) % 256
        |      AS v
        |  FROM documents d CROSS JOIN fr CROSS JOIN k),
        |q AS (
        |  SELECT doc_id, f, blk,
        |    (CASE WHEN 8 * (v - 128) >= 0
        |       THEN (8 * (v - 128) + 8) // 16
        |       ELSE -((-(8 * (v - 128)) + 8) // 16) END) * 16 AS dq
        |  FROM b)
        |SELECT doc_id, CAST(f AS BIGINT) AS frame,
        |  CAST(SUM(64 * LEAST(GREATEST(
        |    CAST(FLOOR((dq + 4) / 8.0) AS BIGINT) + 128, 0), 255))
        |    AS BIGINT) AS sum_luma,
        |  CAST(256 AS BIGINT) AS n_px
        |FROM q GROUP BY doc_id, f ORDER BY doc_id, frame""".stripMargin)
}
