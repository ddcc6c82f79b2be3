package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Eighty-eighth batch — keyword extraction, cross-source score
  * calibration, classifier reliability, and density clustering:
  *
  *  - t47: RAKE keyword scores (Rose et al. 2010) — phrases are maximal
  *    stopword-free token runs (phrase id = running stopword count, a
  *    per-document window); each word scores degree/frequency where
  *    degree sums the lengths of the phrases containing it. The whole
  *    computation is counts and one rounded division.
  *  - t48: quantile normalization across sources (the microarray
  *    classic, here calibrating a per-source length distribution onto
  *    the pooled corpus): per-source rank r of n_s maps to the pooled
  *    value at global rank ceil(r·N/n_s) — exact integer index
  *    arithmetic, no interpolation ambiguity. This is how quality
  *    scores from different crawls are made comparable before a global
  *    threshold.
  *  - t49: classifier reliability — 10 confidence bins over a
  *    deterministic synthetic score (hash-derived, label correlated by
  *    construction so the curve is monotone), per-bin confidence vs
  *    accuracy, plus Brier score and expected calibration error. All
  *    sums stay integer (score in thousandths, squared residuals in
  *    millionths) until the final rounded divisions — no float
  *    accumulation order to drift.
  *  - q129: grid-blocked DBSCAN classification (eps 5000, minPts 12)
  *    on the integer point set — neighbor counts via the q127-proven
  *    3×3 cell decomposition, then core / border / noise labels. Two
  *    cell passes (all-pairs counts, then non-core×core reachability)
  *    instead of materializing the 16M-row pair set.
  *
  * Scale: t47 is corpus-linear with per-document windows; t48's global
  * rank runs over the per-document table (at 100 TB the pooled rank
  * becomes a range-partitioned sort, same join); t49 is one scan plus a
  * 10-row aggregate; q129 shuffles on cell keys only — both passes are
  * equi-joins after the neighborhood explode.
  *
  * Reference scope: beyond-reference LLM-pipeline surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round88Queries extends QueryModule {

  private val Stop = Seq("a", "the", "and", "of", "to", "in", "is", "it",
    "on", "for")

  // ── t47: RAKE degree/frequency keyword scores ─────────────────────────

  def t47_rake(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "w")))
      .withColumn("sw", when(col("w").isInCollection(Stop), 1).otherwise(0))
    val ph = tok.withColumn("phrase_id",
      sum(col("sw")).over(Window.partitionBy(col("doc_id"))
        .orderBy(col("pos"))))
    val words = ph.filter(col("sw") === 0)
      .select(col("doc_id"), col("phrase_id"), col("w"))
    val plen = words.groupBy(col("doc_id"), col("phrase_id"))
      .agg(count(lit(1)).as("phrase_len"))
    words.join(plen, Seq("doc_id", "phrase_id"))
      .groupBy(col("w").as("term"))
      .agg(count(lit(1)).as("freq"), sum(col("phrase_len")).as("deg"))
      .select(col("term"), col("freq"), col("deg"),
        round(col("deg").cast("double") / col("freq"), 6).as("rake_score"))
      .orderBy(col("term"))
  }

  // ── t48: quantile normalization of per-source length distributions ────

  def t48_quantile_normalize(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val nn = docs.agg(count(lit(1)).as("n"))
    // pooled global rank via Rank.globalRank (range-partitioned sort +
    // broadcast offsets), not an unpartitioned window: the pooled frame
    // is one row per document — corpus-proportional, never single-task
    val pooled = graft.operators.Rank
      .globalRank(docs, "gr", col("n_chars"), col("doc_id"))
      .select(col("n_chars").as("pooled_chars"), col("gr"))
    val per = docs
      .withColumn("r", row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("n_chars"), col("doc_id"))))
      .withColumn("ns", count(lit(1)).over(Window.partitionBy(col("source"))))
      .crossJoin(broadcast(nn))
    per.join(pooled,
        col("gr") === expr("(r * n + ns - 1) div ns"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("pooled_chars").as("norm_chars"))
      .orderBy(col("doc_id"))
  }

  // ── t49: reliability bins + Brier + expected calibration error ────────

  def t49_calibration(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.load(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") * 2654435761L % 1000L).as("sm"))
      .withColumn("label",
        when(col("sm") + col("doc_id") * 40503L % 600L >= 800L, 1L)
          .otherwise(0L))
    val bins = scored.groupBy((col("sm") / 100).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("sm")).as("sum_sm"),
        sum(col("label")).as("sum_label"),
        sum((col("sm") - lit(1000L) * col("label")) *
          (col("sm") - lit(1000L) * col("label"))).as("sq"))
    val tot = bins.agg(sum(col("n")).as("nn"),
      sum(col("sq")).as("brier_num"),
      sum(abs(lit(1000L) * col("sum_label") - col("sum_sm"))).as("ece_num"))
    bins.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("sum_sm"), col("sum_label"),
        round(col("sum_sm").cast("double") / (col("n") * 1000), 6).as("conf"),
        round(col("sum_label").cast("double") / col("n"), 6).as("acc"),
        round(col("brier_num").cast("double") / (col("nn") * 1000000.0), 6)
          .as("brier"),
        round(col("ece_num").cast("double") / (col("nn") * 1000.0), 6)
          .as("ece"))
      .orderBy(col("bin"))
  }

  // ── q129: grid-blocked DBSCAN core/border/noise ───────────────────────

  private val Cell = 5000L
  private val R2 = 25000000L
  private val MinPts = 12L

  /** The integer point set (shared spelling with the oracle). */
  private def points(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer").select(col("c_custkey").as("c"),
      expr("(c_custkey * 7919) % 100000").as("x"),
      expr("(c_custkey * 104729) % 100000").as("y"))

  /** One 3×3-neighborhood cell pass: pairs (a, b) within eps, a != b. */
  private def nbrPairs(a: DataFrame, b: DataFrame): DataFrame = {
    val probe = a
      .withColumn("cx", expr(s"x div $Cell")).withColumn("cy",
        expr(s"y div $Cell"))
    val build = b
      .select(col("c").as("bc"), col("x").as("bx"), col("y").as("by"),
        explode(expr("array(-1L, 0L, 1L)")).as("dx"))
      .select(col("bc"), col("bx"), col("by"), col("dx"),
        explode(expr("array(-1L, 0L, 1L)")).as("dy"))
      .select(col("bc"), col("bx"), col("by"),
        expr(s"bx div $Cell + dx").as("cx"),
        expr(s"by div $Cell + dy").as("cy"))
    probe.join(build, Seq("cx", "cy"))
      .filter(col("bc") =!= col("c") &&
        expr(s"(x - bx) * (x - bx) + (y - by) * (y - by) <= $R2"))
  }

  def q129_dbscan_grid(s: SparkSession, dir: String): DataFrame = {
    val pts = points(s, dir).localCheckpoint(true)
    val counts = nbrPairs(pts, pts).groupBy(col("c"))
      .agg(count(lit(1)).as("n_nbrs"))
    val all = pts.join(counts, Seq("c"), "left")
      .na.fill(0L, Seq("n_nbrs"))
      .localCheckpoint(true)
    val core = all.filter(col("n_nbrs") >= MinPts)
    val nonCore = all.filter(col("n_nbrs") < MinPts)
    val borderIds = nbrPairs(
        nonCore.select(col("c"), col("x"), col("y")),
        core.select(col("c"), col("x"), col("y")))
      .select(col("c")).distinct().withColumn("is_border", lit(1))
    all.join(borderIds, Seq("c"), "left")
      .select(col("c"), col("n_nbrs"),
        when(col("n_nbrs") >= MinPts, "core")
          .when(col("is_border") === 1, "border")
          .otherwise("noise").as("cls"))
      .orderBy(col("c"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t47_rake"              -> (t47_rake _),
    "t48_quantile_normalize" -> (t48_quantile_normalize _),
    "t49_calibration"       -> (t49_calibration _),
    "q129_dbscan_grid"      -> (q129_dbscan_grid _))

  val oracles: Map[String, String] = Map(
    "t47_rake" ->
      raw"""WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS w,
        |    generate_subscripts(string_split_regex(trim(text), '\s+'), 1)
        |      AS pos
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, pos, w,
        |    CASE WHEN w IN ('a','the','and','of','to','in','is','it',
        |                    'on','for') THEN 1 ELSE 0 END AS sw
        |  FROM tok),
        |ph AS (
        |  SELECT doc_id, pos, w, sw,
        |    SUM(sw) OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
        |  FROM f),
        |words AS (SELECT doc_id, phrase_id, w FROM ph WHERE sw = 0),
        |plen AS (
        |  SELECT doc_id, phrase_id, CAST(COUNT(*) AS BIGINT) AS phrase_len
        |  FROM words GROUP BY 1, 2)
        |SELECT w.w AS term, CAST(COUNT(*) AS BIGINT) AS freq,
        |  CAST(SUM(p.phrase_len) AS BIGINT) AS deg,
        |  ROUND(CAST(SUM(p.phrase_len) AS DOUBLE) / COUNT(*), 6)
        |    AS rake_score
        |FROM words w JOIN plen p
        |  ON w.doc_id = p.doc_id AND w.phrase_id = p.phrase_id
        |GROUP BY w.w ORDER BY term""".stripMargin,
    "t48_quantile_normalize" ->
      """WITH pooled AS (
        |  SELECT n_chars AS pooled_chars,
        |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS gr
        |  FROM documents),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        |per AS (
        |  SELECT doc_id, source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS r,
        |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS ns
        |  FROM documents)
        |SELECT p.doc_id, p.source, p.n_chars, g.pooled_chars AS norm_chars
        |FROM per p CROSS JOIN nn
        |JOIN pooled g ON g.gr = (p.r * nn.n + p.ns - 1) // p.ns
        |ORDER BY p.doc_id""".stripMargin,
    "t49_calibration" ->
      """WITH scored AS (
        |  SELECT doc_id, (doc_id * 2654435761) % 1000 AS sm,
        |    CASE WHEN (doc_id * 2654435761) % 1000
        |            + (doc_id * 40503) % 600 >= 800 THEN 1 ELSE 0 END
        |      AS label
        |  FROM documents),
        |bins AS (
        |  SELECT sm // 100 AS bin, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(sm) AS BIGINT) AS sum_sm,
        |    CAST(SUM(label) AS BIGINT) AS sum_label,
        |    CAST(SUM((sm - 1000*label)*(sm - 1000*label)) AS BIGINT) AS sq
        |  FROM scored GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS nn,
        |    CAST(SUM(sq) AS BIGINT) AS brier_num,
        |    CAST(SUM(abs(1000*sum_label - sum_sm)) AS BIGINT) AS ece_num
        |  FROM bins)
        |SELECT b.bin, b.n, b.sum_sm, b.sum_label,
        |  ROUND(CAST(b.sum_sm AS DOUBLE) / (1000 * b.n), 6) AS conf,
        |  ROUND(CAST(b.sum_label AS DOUBLE) / b.n, 6) AS acc,
        |  ROUND(CAST(t.brier_num AS DOUBLE) / (1000000.0 * t.nn), 6)
        |    AS brier,
        |  ROUND(CAST(t.ece_num AS DOUBLE) / (1000.0 * t.nn), 6) AS ece
        |FROM bins b CROSS JOIN tot t ORDER BY b.bin""".stripMargin,
    "q129_dbscan_grid" ->
      """WITH pts AS (
        |  SELECT c_custkey AS c, (c_custkey * 7919) % 100000 AS x,
        |    (c_custkey * 104729) % 100000 AS y
        |  FROM customer),
        |bld2 AS (
        |  SELECT p.c AS bc, p.x AS bx, p.y AS by,
        |    p.x // 5000 + dx.dx AS cx, p.y // 5000 + dy.dy AS cy
        |  FROM pts p,
        |    (SELECT unnest([-1, 0, 1]) AS dx) dx,
        |    (SELECT unnest([-1, 0, 1]) AS dy) dy),
        |pairs AS (
        |  SELECT a.c, b.bc
        |  FROM (SELECT c, x, y, x // 5000 AS cx, y // 5000 AS cy
        |        FROM pts) a
        |  JOIN bld2 b ON a.cx = b.cx AND a.cy = b.cy
        |  WHERE b.bc != a.c
        |    AND (a.x - b.bx)*(a.x - b.bx) + (a.y - b.by)*(a.y - b.by)
        |        <= 25000000),
        |counts AS (
        |  SELECT p.c, CAST(COALESCE(n.n_nbrs, 0) AS BIGINT) AS n_nbrs
        |  FROM pts p LEFT JOIN (
        |    SELECT c, COUNT(*) AS n_nbrs FROM pairs GROUP BY c) n
        |    ON p.c = n.c),
        |core AS (SELECT c FROM counts WHERE n_nbrs >= 12),
        |border AS (
        |  SELECT DISTINCT p.c FROM pairs p
        |  WHERE p.bc IN (SELECT c FROM core)
        |    AND p.c NOT IN (SELECT c FROM core))
        |SELECT ct.c, ct.n_nbrs,
        |  CASE WHEN ct.n_nbrs >= 12 THEN 'core'
        |       WHEN ct.c IN (SELECT c FROM border) THEN 'border'
        |       ELSE 'noise' END AS cls
        |FROM counts ct ORDER BY ct.c""".stripMargin)
}
