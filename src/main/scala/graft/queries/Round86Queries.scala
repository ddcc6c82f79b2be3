package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Eighty-sixth batch — phonetic blocking, probabilistic record linkage,
  * and the first spatial-join query:
  *
  *  - d39: Soundex key table — the classic phonetic blocking key for
  *    entity resolution (NARA simplified Soundex: retained first letter,
  *    H/W transparent, adjacent-code collapse, vowels separate). Both
  *    engines compute the SAME portable closed form (translate + a
  *    lambda scan over code positions), so the gate covers the whole
  *    algorithm: one wrong digit in the letter→code map or a broken
  *    duplicate-collapse shifts a key and fails the hash. Blocking keys
  *    are assigned per DISTINCT token (vocab-sized, not corpus-sized) —
  *    exactly how phonetic blocking deploys at scale.
  *  - d40: Fellegi–Sunter match weights (Fellegi & Sunter 1969) — the
  *    probabilistic record-linkage scoring behind every serious ER
  *    system. Candidate pairs are blocked on (nation, balance band ±1)
  *    — the band bound keeps block sizes corpus-density-bounded where
  *    nation alone is a 25-value constant domain; per-field m/u
  *    probabilities are estimated from the planted ground truth with
  *    Laplace smoothing (+1/+2, so nothing hits ln(0)); each agreement
  *    pattern gets the summed log-likelihood weight. The whole
  *    comparison space collapses to ≤16 pattern rows BEFORE any float
  *    arithmetic, so the ln() terms run on a handful of scalars.
  *  - q127: spatial cell-blocked radius join — customers and suppliers
  *    placed on a 10⁶×10⁶ integer grid (deterministic key-derived
  *    coordinates), find all cross pairs within distance 5000. The
  *    Spark plan is the scale shape: bucket both sides into 5000-unit
  *    cells, explode the SMALL side to its 3×3 neighborhood, broadcast
  *    it, equi-join on cell, exact integer d² filter. The oracle is the
  *    unblocked full-join spelling, so the gate proves the cell
  *    decomposition loses no pair (the same guarantee a geohash join
  *    needs at 100 TB).
  *
  * Scale: d39 aggregates the corpus once to vocab then works per-token;
  * d40 is one band-blocked self-join (block sizes bounded by local
  * balance density, not corpus size) feeding a ≤16-row pattern table
  * (the ln scoring never touches pair rows); q127 broadcasts the
  * exploded small side — zero shuffle on the big probe side.
  *
  * Reference scope: beyond-reference LLM-pipeline surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round86Queries extends QueryModule {

  /** Letter→Soundex-code map for A..Z (0 = vowel/ignored). */
  private val SdxMap = "01230120022455012623010202"

  // ── d39: portable Soundex blocking-key table over the token vocab ─────

  def d39_soundex_blocking(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val tok = Tables.load(s, dir, "documents").select(col("doc_id"),
      explode(Text.tokens(col("text"))).as("w"))
    val vocab = tok.groupBy(col("w"))
      .agg(count(lit(1)).as("occurrences"),
        countDistinct(col("doc_id")).as("df"))
    val prep = vocab
      .withColumn("up", regexp_replace(upper(col("w")), "[^A-Z]", ""))
      .filter(length(col("up")) >= 1)
      // first letter keeps its code (for the duplicate test at i=2);
      // H/W are removed from position 2 on (NARA transparency)
      .withColumn("codes", expr(
        s"""translate(concat(substring(up, 1, 1),
           | translate(substring(up, 2, length(up)), 'HW', '')),
           | 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '$SdxMap')""".stripMargin))
      .withColumn("sdx_key", expr(
        """rpad(concat(substring(up, 1, 1), substring(
          |  array_join(filter(transform(sequence(1, length(codes)),
          |    i -> CASE WHEN i >= 2
          |              AND substring(codes, i, 1) BETWEEN '1' AND '6'
          |              AND substring(codes, i, 1)
          |                  != substring(codes, i - 1, 1)
          |         THEN substring(codes, i, 1) END),
          |    x -> x IS NOT NULL), ''), 1, 3)), 4, '0')""".stripMargin))
    prep.groupBy(col("sdx_key"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("occurrences")).as("total_occ"),
        sum(col("df")).as("total_df"),
        min(col("w")).as("tok_min"), max(col("w")).as("tok_max"))
      .orderBy(col("sdx_key"))
  }

  // ── d40: Fellegi–Sunter log-likelihood match weights ───────────────────

  def d40_fellegi_sunter(s: SparkSession, dir: String): DataFrame = {
    val rec = Round31Queries.d24Records(s, dir).localCheckpoint(true)
    // Candidate blocking is (nat, balance band ±1), not nat alone: nation
    // is a 25-value constant domain, so nat-only blocks grow linearly
    // with the corpus and the within-block all-pairs grows quadratically
    // (r10 verdict; 14.6 s at sf0.1 was the suite's slowest entry). The
    // band key composes the same probe-side explode discipline as d24's
    // band join (Round31Queries.d24Edges): a probes its own band and both
    // neighbors, so every pair with |Δbalc| ≤ 100 — including ALL planted
    // matches at Δ = 37 — survives blocking exactly once (b holds one
    // band; exactly one of a's three exploded values can equal it). The
    // +100000 shift keeps the dividend positive, where Spark's
    // truncate-toward-zero `div` and DuckDB's floor `//` agree. m/u are
    // estimated on the candidate sample, the standard FS deployment shape
    // (blocking first, estimation on candidates).
    val probe = rec.select(col("id"), col("name"), col("nat"), col("seg"),
      col("balc"), explode(expr(
        """array((balc + 100000) div 100 - 1, (balc + 100000) div 100,
          |  (balc + 100000) div 100 + 1)""".stripMargin)).as("band"))
    val build = rec.withColumn("band", expr("(balc + 100000) div 100"))
    val pairs = probe.as("a").join(build.as("b"),
        col("a.nat") === col("b.nat") && col("a.band") === col("b.band") &&
          col("a.id") < col("b.id"))
      .select(
        // banded threshold form: O(len·k) instead of O(len²) per pair —
        // returns -1 above the bound, so `in [0, 1]` ≡ `distance <= 1`
        when(levenshtein(col("a.name"), col("b.name"), 1).between(0, 1), 1)
          .otherwise(0).as("name_a"),
        when(col("a.seg") === col("b.seg"), 1).otherwise(0).as("seg_a"),
        when(abs(col("a.balc") - col("b.balc")) <= 100, 1)
          .otherwise(0).as("bal_a"),
        when(col("b.id") === col("a.id") + 1000000L, 1)
          .otherwise(0).as("is_match"))
    val pat = pairs
      .groupBy(col("name_a"), col("seg_a"), col("bal_a"), col("is_match"))
      .agg(count(lit(1)).as("n_pairs"))
      .localCheckpoint(true)
    // Laplace-smoothed m/u per field, estimated from the pattern table
    // (integer counts only; the division shape mirrors the oracle)
    def mProb(f: String) =
      s"(CAST(SUM(is_match * $f * n_pairs) AS DOUBLE) + 1.0D)" +
        " / (CAST(SUM(is_match * n_pairs) AS DOUBLE) + 2.0D)"
    def uProb(f: String) =
      s"(CAST(SUM((1 - is_match) * $f * n_pairs) AS DOUBLE) + 1.0D)" +
        " / (CAST(SUM((1 - is_match) * n_pairs) AS DOUBLE) + 2.0D)"
    val mu = pat.agg(
      expr(mProb("name_a")).as("m_name"), expr(uProb("name_a")).as("u_name"),
      expr(mProb("seg_a")).as("m_seg"), expr(uProb("seg_a")).as("u_seg"),
      expr(mProb("bal_a")).as("m_bal"), expr(uProb("bal_a")).as("u_bal"))
    pat.crossJoin(broadcast(mu))
      .select(col("name_a"), col("seg_a"), col("bal_a"), col("is_match"),
        col("n_pairs"),
        expr("""round(
          |  (CASE WHEN name_a = 1 THEN ln(m_name / u_name)
          |        ELSE ln((1.0D - m_name) / (1.0D - u_name)) END)
          |  + (CASE WHEN seg_a = 1 THEN ln(m_seg / u_seg)
          |          ELSE ln((1.0D - m_seg) / (1.0D - u_seg)) END)
          |  + (CASE WHEN bal_a = 1 THEN ln(m_bal / u_bal)
          |          ELSE ln((1.0D - m_bal) / (1.0D - u_bal)) END), 6)"""
          .stripMargin).as("score"))
      .orderBy(col("is_match"), col("name_a"), col("seg_a"), col("bal_a"))
  }

  // ── q127: cell-blocked integer radius join ─────────────────────────────

  private val Cell = 5000L
  private val R2 = 25000000L // radius 5000, squared

  def q127_spatial_cell_join(s: SparkSession, dir: String): DataFrame = {
    val cp = Tables.load(s, dir, "customer").select(col("c_custkey").as("c"),
        expr("(c_custkey * 7919) % 1000000").as("x"),
        expr("(c_custkey * 104729) % 1000000").as("y"))
      .withColumn("cx", expr(s"x div $Cell"))
      .withColumn("cy", expr(s"y div $Cell"))
    val spe = Tables.load(s, dir, "supplier").select(col("s_suppkey").as("sk"),
        expr("(s_suppkey * 60013) % 1000000").as("sx"),
        expr("(s_suppkey * 122777) % 1000000").as("sy"))
      .select(col("sk"), col("sx"), col("sy"),
        explode(expr("array(-1L, 0L, 1L)")).as("dx"))
      .select(col("sk"), col("sx"), col("sy"), col("dx"),
        explode(expr("array(-1L, 0L, 1L)")).as("dy"))
      .select(col("sk"), col("sx"), col("sy"),
        expr(s"sx div $Cell + dx").as("cx"),
        expr(s"sy div $Cell + dy").as("cy"))
    cp.join(broadcast(spe), Seq("cx", "cy"))
      .filter(expr(s"(x - sx) * (x - sx) + (y - sy) * (y - sy) <= $R2"))
      .select(col("c"), col("sk").as("s"),
        expr("(x - sx) * (x - sx) + (y - sy) * (y - sy)").as("d2"))
      .orderBy(col("c"), col("s"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d39_soundex_blocking"  -> (d39_soundex_blocking _),
    "d40_fellegi_sunter"    -> (d40_fellegi_sunter _),
    "q127_spatial_cell_join" -> (q127_spatial_cell_join _))

  val oracles: Map[String, String] = Map(
    "d39_soundex_blocking" ->
      raw"""WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents),
        |vocab AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS occurrences,
        |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM tok GROUP BY w),
        |prep AS (
        |  SELECT w, occurrences, df,
        |    substr(regexp_replace(upper(w), '[^A-Z]', '', 'g'), 1, 1)
        |      AS first,
        |    translate(
        |      substr(regexp_replace(upper(w), '[^A-Z]', '', 'g'), 1, 1) ||
        |      replace(replace(
        |        substr(regexp_replace(upper(w), '[^A-Z]', '', 'g'), 2),
        |        'H', ''), 'W', ''),
        |      'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '$SdxMap') AS codes
        |  FROM vocab
        |  WHERE length(regexp_replace(upper(w), '[^A-Z]', '', 'g')) >= 1),
        |sdx AS (
        |  SELECT w, occurrences, df,
        |    rpad(first || substr(coalesce(array_to_string(list_filter(
        |      list_transform(generate_series(1, length(codes)),
        |        i -> CASE WHEN i >= 2
        |                  AND substr(codes, i, 1) BETWEEN '1' AND '6'
        |                  AND substr(codes, i, 1) <> substr(codes, i-1, 1)
        |             THEN substr(codes, i, 1) END),
        |      x -> x IS NOT NULL), ''), ''), 1, 3), 4, '0') AS sdx_key
        |  FROM prep)
        |SELECT sdx_key, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(occurrences) AS BIGINT) AS total_occ,
        |  CAST(SUM(df) AS BIGINT) AS total_df,
        |  MIN(w) AS tok_min, MAX(w) AS tok_max
        |FROM sdx GROUP BY sdx_key ORDER BY sdx_key""".stripMargin,
    "d40_fellegi_sunter" ->
      """WITH rec AS (
        |  SELECT c_custkey AS id, c_name AS name, c_nationkey AS nat,
        |    c_mktsegment AS seg, CAST(ROUND(c_acctbal*100) AS BIGINT) AS balc
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000,
        |    concat(substr(c_name, 1, length(c_name)-1), 'x'),
        |    c_nationkey, c_mktsegment,
        |    CAST(ROUND(c_acctbal*100) AS BIGINT) + 37
        |  FROM customer WHERE c_custkey % 3 = 0),
        |pairs AS (
        |  SELECT
        |    CASE WHEN levenshtein(a.name, b.name) <= 1 THEN 1 ELSE 0 END
        |      AS name_a,
        |    CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS seg_a,
        |    CASE WHEN abs(a.balc - b.balc) <= 100 THEN 1 ELSE 0 END AS bal_a,
        |    CASE WHEN b.id = a.id + 1000000 THEN 1 ELSE 0 END AS is_match
        |  FROM rec a JOIN rec b ON a.nat = b.nat AND a.id < b.id
        |    AND abs((a.balc + 100000) // 100
        |            - (b.balc + 100000) // 100) <= 1),
        |pat AS (
        |  SELECT name_a, seg_a, bal_a, is_match,
        |    CAST(COUNT(*) AS BIGINT) AS n_pairs
        |  FROM pairs GROUP BY 1, 2, 3, 4),
        |mu AS (
        |  SELECT
        |    (CAST(SUM(is_match * name_a * n_pairs) AS DOUBLE) + 1.0)
        |      / (CAST(SUM(is_match * n_pairs) AS DOUBLE) + 2.0) AS m_name,
        |    (CAST(SUM((1 - is_match) * name_a * n_pairs) AS DOUBLE) + 1.0)
        |      / (CAST(SUM((1 - is_match) * n_pairs) AS DOUBLE) + 2.0)
        |      AS u_name,
        |    (CAST(SUM(is_match * seg_a * n_pairs) AS DOUBLE) + 1.0)
        |      / (CAST(SUM(is_match * n_pairs) AS DOUBLE) + 2.0) AS m_seg,
        |    (CAST(SUM((1 - is_match) * seg_a * n_pairs) AS DOUBLE) + 1.0)
        |      / (CAST(SUM((1 - is_match) * n_pairs) AS DOUBLE) + 2.0)
        |      AS u_seg,
        |    (CAST(SUM(is_match * bal_a * n_pairs) AS DOUBLE) + 1.0)
        |      / (CAST(SUM(is_match * n_pairs) AS DOUBLE) + 2.0) AS m_bal,
        |    (CAST(SUM((1 - is_match) * bal_a * n_pairs) AS DOUBLE) + 1.0)
        |      / (CAST(SUM((1 - is_match) * n_pairs) AS DOUBLE) + 2.0)
        |      AS u_bal
        |  FROM pat)
        |SELECT p.name_a, p.seg_a, p.bal_a, p.is_match, p.n_pairs,
        |  ROUND(
        |    (CASE WHEN p.name_a = 1 THEN ln(mu.m_name / mu.u_name)
        |          ELSE ln((1.0 - mu.m_name) / (1.0 - mu.u_name)) END)
        |    + (CASE WHEN p.seg_a = 1 THEN ln(mu.m_seg / mu.u_seg)
        |            ELSE ln((1.0 - mu.m_seg) / (1.0 - mu.u_seg)) END)
        |    + (CASE WHEN p.bal_a = 1 THEN ln(mu.m_bal / mu.u_bal)
        |            ELSE ln((1.0 - mu.m_bal) / (1.0 - mu.u_bal)) END), 6)
        |    AS score
        |FROM pat p CROSS JOIN mu
        |ORDER BY p.is_match, p.name_a, p.seg_a, p.bal_a""".stripMargin,
    "q127_spatial_cell_join" ->
      s"""WITH cp AS (
        |  SELECT c_custkey AS c, (c_custkey * 7919) % 1000000 AS x,
        |    (c_custkey * 104729) % 1000000 AS y
        |  FROM customer),
        |sp AS (
        |  SELECT s_suppkey AS s, (s_suppkey * 60013) % 1000000 AS x,
        |    (s_suppkey * 122777) % 1000000 AS y
        |  FROM supplier)
        |SELECT cp.c, sp.s,
        |  (cp.x - sp.x) * (cp.x - sp.x) + (cp.y - sp.y) * (cp.y - sp.y)
        |    AS d2
        |FROM cp CROSS JOIN sp
        |WHERE (cp.x - sp.x) * (cp.x - sp.x) + (cp.y - sp.y) * (cp.y - sp.y)
        |  <= $R2
        |ORDER BY c, s""".stripMargin)
}
