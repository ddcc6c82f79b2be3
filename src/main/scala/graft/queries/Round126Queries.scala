package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{FlacExprs, TiffExprs}

/** Hundred-twenty-sixth batch — the compressed-codec seam shrinks again:
  *
  *  - m48: REAL lossless compressed-audio decode — FLAC
  *    ([[graft.functions.FlacCodec]]): `fLaC` magic, STREAMINFO +
  *    planted PADDING metadata walk, per-frame 14-bit sync, UTF-8-coded
  *    frame numbers, CRC-8 header check, CRC-16 frame check,
  *    CONSTANT/FIXED subframes and partitioned-Rice residuals (zigzag,
  *    unary-quotient bitstream). The encode decision chain — fixed
  *    predictor order by min Σ|residual| (ties low), Rice parameter by
  *    smallest p with mean zigzag ≤ 2^p — is pure integer arithmetic,
  *    so the oracle re-derives per frame the ORDER the encoder chose,
  *    the PARAMETER it coded, and the exact SUBFRAME BIT COUNT the
  *    decoder observed while parsing, and the lossless sample identity
  *    (sum_abs_err = 0) is earned by a real bit-level parse with both
  *    CRCs verified, not assumed.
  *
  * Scale: per-row encode+decode inside codegen — embarrassingly
  * parallel; the only shuffles are the two per-doc aggregations and
  * their join. Exactly the ingest-scoring shape a 100-TB lossless-audio
  * crawl runs.
  *
  * Reference scope: the reference has no media path
  * (/root/reference/tools.py is CSV/JSON/SQL only); public FLAC spec
  * (RFC 9639).
  */
object Round126Queries extends QueryModule {

  /** Samples per clip: 3 frames × [[graft.functions.FlacCodec.BlockSize]]. */
  private val NSamples = 192

  // ── t71: PII census + redaction ingest gate ────────────────────────────

  /** One pattern text per PII family, shared verbatim with the oracle so
    * the Java-regex and RE2 spellings cannot drift. All three stay inside
    * the dialect intersection (no backrefs, no lookaround). */
  private val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val NaiveIpPat = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  private val ValidIpPat =
    "\\b((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}" +
      "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\b"
  private val CardPat = "\\b[0-9]{16}\\b"

  /** Plants deterministic PII into each document (email for doc_id≡0 mod
    * 3, a valid private-range IP for ≡0 mod 4, an INVALID 999.x lookalike
    * for ≡0 mod 8, a 16-digit card for ≡0 mod 5 whose Luhn check digit is
    * correct except when doc_id≡5 mod 10), scans with the three patterns,
    * Luhn-validates every extracted card, and accounts for the exact
    * character count redaction removes. The per-source census is the
    * go/no-go table a privacy review reads before a corpus ships. */
  def t71_pii_scan(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Column
    val aug = Tables.load(s, dir, "documents").select(col("doc_id"), col("source"),
      col("text"))
      // Luhn body: '4' + 14 digits; check digit from the 15-digit sum
      // (reversed odd positions doubled — they land on even positions of
      // the final 16-digit number)
      .withColumn("body", expr(
        "concat('4', lpad(CAST(doc_id * 48271 % 100000000000000 AS STRING)," +
          " 14, '0'))"))
      .withColumn("bsum", expr(
        """aggregate(transform(sequence(1, 15), i ->
          |  CASE WHEN i % 2 = 1
          |    THEN (CASE WHEN 2 * CAST(substring(reverse(body), i, 1) AS INT)
          |            > 9
          |      THEN 2 * CAST(substring(reverse(body), i, 1) AS INT) - 9
          |      ELSE 2 * CAST(substring(reverse(body), i, 1) AS INT) END)
          |    ELSE CAST(substring(reverse(body), i, 1) AS INT) END),
          |  0L, (acc, x) -> acc + x)""".stripMargin))
      .withColumn("card", expr(
        """concat(body, CAST(CASE WHEN doc_id % 10 = 5
          |  THEN (10 - bsum % 10 + 1) % 10
          |  ELSE (10 - bsum % 10) % 10 END AS STRING))""".stripMargin))
      .withColumn("aug", expr(
        """concat(text,
          |  CASE WHEN doc_id % 3 = 0 THEN concat(' reach user',
          |    CAST(doc_id AS STRING), '@ex', CAST(doc_id % 7 AS STRING),
          |    '.org') ELSE '' END,
          |  CASE WHEN doc_id % 4 = 0 THEN concat(' host 10.',
          |    CAST(doc_id % 256 AS STRING), '.',
          |    CAST(doc_id % 100 AS STRING), '.',
          |    CAST(doc_id % 50 AS STRING)) ELSE '' END,
          |  CASE WHEN doc_id % 8 = 0 THEN ' proxy 999.12.34.56' ELSE '' END,
          |  CASE WHEN doc_id % 5 = 0 THEN concat(' card ', card)
          |    ELSE '' END)""".stripMargin))
    def extractAll(pat: String): Column =
      regexp_extract_all(col("aug"), lit(pat), lit(0))
    val scanned = aug
      .withColumn("emails", extractAll(EmailPat))
      .withColumn("ip_cand", extractAll(NaiveIpPat))
      .withColumn("ip_valid", extractAll(ValidIpPat))
      .withColumn("cards", extractAll(CardPat))
      .withColumn("n_valid_cards", expr(
        """size(filter(cards, c ->
          |  aggregate(transform(sequence(1, 16), i ->
          |    CASE WHEN i % 2 = 0
          |      THEN (CASE WHEN 2 * CAST(substring(reverse(c), i, 1) AS INT)
          |              > 9
          |        THEN 2 * CAST(substring(reverse(c), i, 1) AS INT) - 9
          |        ELSE 2 * CAST(substring(reverse(c), i, 1) AS INT) END)
          |      ELSE CAST(substring(reverse(c), i, 1) AS INT) END),
          |    0L, (acc, x) -> acc + x) % 10 = 0))""".stripMargin))
      .withColumn("red", regexp_replace(regexp_replace(regexp_replace(
        col("aug"), lit(CardPat), lit("[CARD]")),
        lit(EmailPat), lit("[EMAIL]")),
        lit(ValidIpPat), lit("[IP]")))
    scanned.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(size(col("emails")) + size(col("ip_valid")) +
          size(col("cards")) > 0, 1L).otherwise(0L)).as("n_pii_docs"),
        sum(size(col("emails")).cast("long")).as("n_emails"),
        sum(size(col("ip_cand")).cast("long")).as("n_ip_candidates"),
        sum(size(col("ip_valid")).cast("long")).as("n_valid_ips"),
        sum(size(col("cards")).cast("long")).as("n_cards"),
        sum(col("n_valid_cards")).as("n_valid_cards"),
        sum((length(col("aug")) - length(col("red"))).cast("long"))
          .as("chars_redacted"))
      .orderBy(col("source"))
  }

  // ── m48: FLAC round trip — lossless identity + coding decisions ───────

  def m48_flac_audio(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), col("text"))
      .withColumn("payload", FlacExprs.encodeFlacFromText(col("text"), NSamples))
    // lossless identity, per sample: decode vs the fixture closed form
    // slope·n + wobble with slope = (cp0 mod 7) − 3, wobble = (cpn mod 32) − 16
    val sampleAgg = docs
      .select(col("doc_id"), col("text"),
        posexplode(FlacExprs.decodeSamples(col("payload"))).as(Seq("i", "dec_v")))
      .withColumn("orig", expr(
        "((ascii(substr(text, 1, 1)) % 7) - 3) * i" +
          " + (ascii(substr(text, CAST((i % length(text)) + 1 AS INT), 1)) % 32)" +
          " - 16"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_samples"),
        sum(col("dec_v")).as("sum_dec"),
        sum(abs(col("dec_v") - col("orig"))).as("sum_abs_err"))
    // coding decisions, per frame, read back out of the bitstream
    val frameAgg = docs
      .select(col("doc_id"), explode(FlacExprs.frameStats(col("payload"))).as("fm"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("fm.ptype") === 0, 1L).otherwise(0L)).as("n_constant"),
        sum(col("fm.order")).as("sum_order"),
        sum(col("fm.param")).as("sum_param"),
        sum(col("fm.sub_bits")).as("sub_bits"))
    sampleAgg.join(frameAgg, "doc_id").orderBy(col("doc_id"))
  }

  // ── m49: TIFF container decode — IFD walk + PackBits accounting ───────

  /** 16×16 grayscale TIFFs, 4 rows per strip (4 strips — the offset and
    * bytecount ARRAYS live outside the IFD), PackBits for odd doc_ids
    * and uncompressed for even ones. The decoder walks the real IFD
    * (planted Software tag skipped), unpacks every strip, and reports
    * the compressed byte count it READ from StripByteCounts — which the
    * oracle re-derives from the pixel run structure alone (runs ≥ 2 →
    * 2-byte tokens chunked at 128, singleton groups merged into literal
    * segments costing m + ceil(m/128)). */
  def m49_tiff_decode(s: SparkSession, dir: String): DataFrame = {
    val enc = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      .withColumn("payload",
        when(col("doc_id") % 2 === 1,
          TiffExprs.encodeTiffFromText(col("text"), 16, 16, 4, packbits = true))
        .otherwise(
          TiffExprs.encodeTiffFromText(col("text"), 16, 16, 4, packbits = false)))
      .withColumn("st", TiffExprs.decodeStats(col("payload")))
    enc.select(col("doc_id"),
        col("st.width").as("width"), col("st.height").as("height"),
        col("st.compression").as("compression"),
        col("st.n_strips").as("n_strips"),
        col("st.comp_bytes").as("comp_bytes"),
        col("st.n_px").as("n_px"), col("st.sum_px").as("sum_px"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m48_flac_audio"  -> (m48_flac_audio _),
    "t71_pii_scan"    -> (t71_pii_scan _),
    "m49_tiff_decode" -> (m49_tiff_decode _))

  val oracles: Map[String, String] = Map(
    // full replay of the encode decision chain: per frame the closed-form
    // samples, the three fixed-predictor costs, the chosen order (ties
    // low), the Rice parameter (smallest p with Σzigzag ≤ n·2^p) and the
    // exact subframe bit count 8 + o·16 + 2 + 4 + 4 + Σ(q + 1 + p);
    // CONSTANT frames (min = max) cost 8 + 16. sum_abs_err is the
    // lossless identity the engine must EARN by real bitstream decode.
    "m48_flac_audio" ->
      s"""WITH s AS MATERIALIZED (
        |  SELECT d.doc_id, i.i AS n, i.i // 64 AS f, i.i % 64 AS k,
        |    ((ord(substr(d.text, 1, 1)) % 7) - 3) * i.i
        |      + (ord(substr(d.text, CAST((i.i % length(d.text)) + 1 AS INT), 1))
        |         % 32) - 16 AS v
        |  FROM documents d
        |  CROSS JOIN (SELECT unnest(range(0, $NSamples)) AS i) i),
        |w AS (
        |  SELECT doc_id, f, k, v,
        |    lag(v, 1) OVER (PARTITION BY doc_id, f ORDER BY k) AS l1,
        |    lag(v, 2) OVER (PARTITION BY doc_id, f ORDER BY k) AS l2
        |  FROM s),
        |fr AS (
        |  SELECT doc_id, f, (MIN(v) = MAX(v)) AS is_const,
        |    SUM(abs(v)) AS c0,
        |    SUM(CASE WHEN k >= 1 THEN abs(v - l1) ELSE 0 END) AS c1,
        |    SUM(CASE WHEN k >= 2 THEN abs(v - 2*l1 + l2) ELSE 0 END) AS c2
        |  FROM w GROUP BY doc_id, f),
        |og AS (
        |  SELECT doc_id, f, is_const,
        |    CASE WHEN is_const THEN 0
        |      WHEN c0 <= c1 AND c0 <= c2 THEN 0
        |      WHEN c1 <= c2 THEN 1 ELSE 2 END AS o
        |  FROM fr),
        |z AS (
        |  SELECT w.doc_id, w.f, og.is_const, og.o,
        |    CASE WHEN w.k >= og.o THEN
        |      CASE og.o WHEN 0 THEN w.v WHEN 1 THEN w.v - w.l1
        |        ELSE w.v - 2*w.l1 + w.l2 END END AS res
        |  FROM w JOIN og ON og.doc_id = w.doc_id AND og.f = w.f),
        |zz AS (
        |  SELECT doc_id, f, is_const, o,
        |    SUM(CASE WHEN res >= 0 THEN 2*res ELSE -2*res - 1 END) AS sum_zig,
        |    COUNT(res) AS n_res
        |  FROM z GROUP BY doc_id, f, is_const, o),
        |pp AS (
        |  SELECT doc_id, f, is_const, o,
        |    CASE WHEN is_const THEN 0
        |      WHEN sum_zig <= n_res THEN 0
        |      WHEN sum_zig <= n_res * 2 THEN 1
        |      WHEN sum_zig <= n_res * 4 THEN 2
        |      WHEN sum_zig <= n_res * 8 THEN 3
        |      WHEN sum_zig <= n_res * 16 THEN 4
        |      WHEN sum_zig <= n_res * 32 THEN 5
        |      WHEN sum_zig <= n_res * 64 THEN 6
        |      WHEN sum_zig <= n_res * 128 THEN 7
        |      WHEN sum_zig <= n_res * 256 THEN 8
        |      WHEN sum_zig <= n_res * 512 THEN 9
        |      WHEN sum_zig <= n_res * 1024 THEN 10
        |      WHEN sum_zig <= n_res * 2048 THEN 11
        |      WHEN sum_zig <= n_res * 4096 THEN 12
        |      WHEN sum_zig <= n_res * 8192 THEN 13
        |      ELSE 14 END AS p
        |  FROM zz),
        |rb AS (
        |  SELECT z.doc_id, z.f,
        |    SUM(((CASE WHEN z.res >= 0 THEN 2*z.res ELSE -2*z.res - 1 END)
        |         >> pp.p) + 1 + pp.p) AS rice_bits
        |  FROM z JOIN pp ON pp.doc_id = z.doc_id AND pp.f = z.f
        |  WHERE z.res IS NOT NULL AND NOT pp.is_const
        |  GROUP BY z.doc_id, z.f),
        |fb AS (
        |  SELECT pp.doc_id, pp.f, pp.is_const, pp.o, pp.p,
        |    CASE WHEN pp.is_const THEN 8 + 16
        |      ELSE 8 + pp.o * 16 + 2 + 4 + 4 + COALESCE(rb.rice_bits, 0) END
        |      AS sub_bits
        |  FROM pp LEFT JOIN rb ON rb.doc_id = pp.doc_id AND rb.f = pp.f),
        |agg_f AS (
        |  SELECT doc_id, COUNT(*) AS n_frames,
        |    SUM(CASE WHEN is_const THEN 1 ELSE 0 END) AS n_constant,
        |    SUM(o) AS sum_order, SUM(p) AS sum_param, SUM(sub_bits) AS sub_bits
        |  FROM fb GROUP BY doc_id),
        |agg_s AS (
        |  SELECT doc_id, COUNT(*) AS n_samples, SUM(v) AS sum_dec
        |  FROM s GROUP BY doc_id)
        |SELECT a.doc_id,
        |  CAST(a.n_samples AS BIGINT) AS n_samples,
        |  CAST(a.sum_dec AS BIGINT) AS sum_dec,
        |  CAST(0 AS BIGINT) AS sum_abs_err,
        |  CAST(g.n_frames AS BIGINT) AS n_frames,
        |  CAST(g.n_constant AS BIGINT) AS n_constant,
        |  CAST(g.sum_order AS BIGINT) AS sum_order,
        |  CAST(g.sum_param AS BIGINT) AS sum_param,
        |  CAST(g.sub_bits AS BIGINT) AS sub_bits
        |FROM agg_s a JOIN agg_f g ON g.doc_id = a.doc_id
        |ORDER BY a.doc_id""".stripMargin,
    // identical pattern texts (interpolated from the same Scala constants
    // the engine uses), identical planting, Luhn re-spelled in DuckDB's
    // list dialect; regexp_replace needs the 'g' flag RE2-side
    "t71_pii_scan" ->
      s"""WITH luhn AS (
        |  SELECT doc_id, source, text,
        |    '4' || lpad(CAST(doc_id * 48271 % 100000000000000 AS VARCHAR),
        |      14, '0') AS body
        |  FROM documents),
        |bsum AS (
        |  SELECT doc_id, source, text, body,
        |    CAST(list_sum(list_transform(range(1, 16), i ->
        |      CASE WHEN i % 2 = 1
        |        THEN (CASE WHEN 2 * CAST(substr(reverse(body), i, 1) AS INT)
        |                > 9
        |          THEN 2 * CAST(substr(reverse(body), i, 1) AS INT) - 9
        |          ELSE 2 * CAST(substr(reverse(body), i, 1) AS INT) END)
        |        ELSE CAST(substr(reverse(body), i, 1) AS INT) END))
        |      AS BIGINT) AS s
        |  FROM luhn),
        |aug AS (
        |  SELECT doc_id, source,
        |    text
        |    || CASE WHEN doc_id % 3 = 0 THEN ' reach user' ||
        |      CAST(doc_id AS VARCHAR) || '@ex' ||
        |      CAST(doc_id % 7 AS VARCHAR) || '.org' ELSE '' END
        |    || CASE WHEN doc_id % 4 = 0 THEN ' host 10.' ||
        |      CAST(doc_id % 256 AS VARCHAR) || '.' ||
        |      CAST(doc_id % 100 AS VARCHAR) || '.' ||
        |      CAST(doc_id % 50 AS VARCHAR) ELSE '' END
        |    || CASE WHEN doc_id % 8 = 0 THEN ' proxy 999.12.34.56'
        |      ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN ' card ' || body ||
        |      CAST(CASE WHEN doc_id % 10 = 5 THEN (10 - s % 10 + 1) % 10
        |        ELSE (10 - s % 10) % 10 END AS VARCHAR) ELSE '' END AS a
        |  FROM bsum),
        |scanned AS (
        |  SELECT doc_id, source, a,
        |    regexp_extract_all(a, '$EmailPat') AS emails,
        |    regexp_extract_all(a, '$NaiveIpPat') AS ip_cand,
        |    regexp_extract_all(a, '$ValidIpPat') AS ip_valid,
        |    regexp_extract_all(a, '$CardPat') AS cards,
        |    regexp_replace(regexp_replace(regexp_replace(a,
        |      '$CardPat', '[CARD]', 'g'),
        |      '$EmailPat', '[EMAIL]', 'g'),
        |      '$ValidIpPat', '[IP]', 'g') AS red
        |  FROM aug),
        |valid AS (
        |  SELECT doc_id, source, a, red, emails, ip_cand, ip_valid, cards,
        |    len(list_filter(cards, c ->
        |      CAST(list_sum(list_transform(range(1, 17), i ->
        |        CASE WHEN i % 2 = 0
        |          THEN (CASE WHEN 2 * CAST(substr(reverse(c), i, 1) AS INT)
        |                  > 9
        |            THEN 2 * CAST(substr(reverse(c), i, 1) AS INT) - 9
        |            ELSE 2 * CAST(substr(reverse(c), i, 1) AS INT) END)
        |          ELSE CAST(substr(reverse(c), i, 1) AS INT) END))
        |        AS BIGINT) % 10 = 0)) AS n_valid_cards
        |  FROM scanned)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN len(emails) + len(ip_valid) + len(cards) > 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs,
        |  CAST(SUM(len(emails)) AS BIGINT) AS n_emails,
        |  CAST(SUM(len(ip_cand)) AS BIGINT) AS n_ip_candidates,
        |  CAST(SUM(len(ip_valid)) AS BIGINT) AS n_valid_ips,
        |  CAST(SUM(len(cards)) AS BIGINT) AS n_cards,
        |  CAST(SUM(n_valid_cards) AS BIGINT) AS n_valid_cards,
        |  CAST(SUM(length(a) - length(red)) AS BIGINT) AS chars_redacted
        |FROM valid GROUP BY source ORDER BY source""".stripMargin,
    // pixel closed form v(i) = (cp(i/8) + (i%8)·((i/32)%2)) mod 256, then
    // the PackBits size replayed from the run structure with two
    // gaps-and-islands passes: equal-value groups (runs ≥ 2 cost
    // 2·⌊L/128⌋ + (L mod 128 = 0 ? 0 : 2)), adjacent singleton groups
    // merged into literal segments (cost m + ⌈m/128⌉), per strip of 64 px
    "m49_tiff_decode" ->
      """WITH px AS MATERIALIZED (
        |  SELECT d.doc_id, i.i AS i, i.i // 64 AS strip,
        |    (ord(substr(d.text,
        |       CAST(((i.i // 8) % length(d.text)) + 1 AS INT), 1))
        |     + (i.i % 8) * ((i.i // 32) % 2)) % 256 AS v
        |  FROM documents d CROSS JOIN (SELECT unnest(range(0, 256)) AS i) i),
        |agg_px AS (
        |  SELECT doc_id, SUM(v) AS sum_px FROM px GROUP BY doc_id),
        |g AS (
        |  SELECT doc_id, strip, v, grp, COUNT(*) AS len, MIN(i) AS i0
        |  FROM (
        |    SELECT doc_id, strip, v, i,
        |      row_number() OVER (PARTITION BY doc_id, strip ORDER BY i)
        |      - row_number() OVER (PARTITION BY doc_id, strip, v ORDER BY i)
        |        AS grp
        |    FROM px WHERE doc_id % 2 = 1)
        |  GROUP BY doc_id, strip, v, grp),
        |runcost AS (
        |  SELECT doc_id, strip,
        |    SUM(2 * (len // 128)
        |        + CASE WHEN len % 128 = 0 THEN 0 ELSE 2 END) AS bytes
        |  FROM g WHERE len >= 2 GROUP BY doc_id, strip),
        |gseq AS (
        |  SELECT doc_id, strip, len,
        |    row_number() OVER (PARTITION BY doc_id, strip ORDER BY i0) AS seq
        |  FROM g),
        |litseg AS (
        |  SELECT doc_id, strip, island, COUNT(*) AS m
        |  FROM (
        |    SELECT doc_id, strip, seq,
        |      seq - row_number() OVER (PARTITION BY doc_id, strip ORDER BY seq)
        |        AS island
        |    FROM gseq WHERE len = 1) q
        |  GROUP BY doc_id, strip, island),
        |litcost AS (
        |  SELECT doc_id, strip, SUM(m + (m + 127) // 128) AS bytes
        |  FROM litseg GROUP BY doc_id, strip),
        |strips AS (
        |  SELECT DISTINCT doc_id, strip FROM px WHERE doc_id % 2 = 1),
        |packed AS (
        |  SELECT s.doc_id,
        |    SUM(COALESCE(r.bytes, 0) + COALESCE(l.bytes, 0)) AS comp_bytes
        |  FROM strips s
        |  LEFT JOIN runcost r ON r.doc_id = s.doc_id AND r.strip = s.strip
        |  LEFT JOIN litcost l ON l.doc_id = s.doc_id AND l.strip = s.strip
        |  GROUP BY s.doc_id)
        |SELECT a.doc_id,
        |  CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
        |  CAST(CASE WHEN a.doc_id % 2 = 1 THEN 32773 ELSE 1 END AS INT)
        |    AS compression,
        |  CAST(4 AS INT) AS n_strips,
        |  CAST(CASE WHEN a.doc_id % 2 = 1 THEN p.comp_bytes ELSE 256 END
        |    AS BIGINT) AS comp_bytes,
        |  CAST(256 AS BIGINT) AS n_px,
        |  CAST(a.sum_px AS BIGINT) AS sum_px
        |FROM agg_px a LEFT JOIN packed p ON p.doc_id = a.doc_id
        |ORDER BY a.doc_id""".stripMargin)
}
