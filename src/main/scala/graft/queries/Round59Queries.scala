package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Fifty-ninth batch — drift testing, data skipping, tokenizer health:
  *
  *  - q107: two-sample Kolmogorov-Smirnov drift test between the
  *    purchase and click value distributions — the classic
  *    distribution-shift detector next to p30's total-variation monitor.
  *    Exact on the integer lattice: D·n·m = max|i·m − j·n| over the
  *    merged CDF (i, j = cumulative counts), so both engines agree to
  *    the last bit, and the α=0.05 decision is the cross-multiplied
  *    inequality D²·nm/(n+m) > 1.358² in DECIMAL(38). The cumulative
  *    window runs on the DISTINCT-VALUE aggregate (value-domain-sized,
  *    not row-sized — ~2k cents here, bounded at any corpus scale).
  *  - p36: zone-map data skipping — the Iceberg/Delta file-pruning story
  *    on a NON-partition column: documents cluster into 8 files by an
  *    n_chars band, a manifest of per-file (min, max) is consulted for
  *    a range query, and only overlapping files are opened (p8 prunes
  *    directories via the partition predicate; this prunes FILES via
  *    stats on a column Catalyst knows nothing about). The manifest
  *    consultation is metadata-plane (8 rows driver-side, like a12's
  *    cover nodes); correctness is structural — a matching row's own
  *    file always overlaps the query range, so skipping cannot drop
  *    matches — and the oracle replays file stats, selection, and
  *    result.
  *  - t37: tokenizer fertility per language — the health metric a
  *    multilingual tokenizer build watches (high fertility = a language
  *    the vocabulary underserves): BPE tokens per word and chars per
  *    BPE token in integer basis points, aggregated from t19's per-doc
  *    tokenization (the corpus is never re-tokenized — the same
  *    dictionary-join artifact feeds both).
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round59Queries extends QueryModule {

  def q107_ks_drift(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events").select(col("event_type"),
      expr("cast(round(value * 100) as bigint)").as("cents"))
    def cdf(typ: String, c: String) = ev
      .filter(col("event_type") === typ)
      .groupBy(col("cents")).agg(count(lit(1)).as(c))
    val pts = cdf("purchase", "ca").join(cdf("click", "cb"),
        Seq("cents"), "full")
      .select(col("cents"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    // both empirical CDFs via Rank.prefixSum (distributed scan): the
    // frame is one row per distinct observed value — grows with the
    // corpus, so an unpartitioned running-sum window would single-task it
    val cum = graft.operators.Rank.prefixSum(
      graft.operators.Rank.prefixSum(pts, "i", col("ca"), col("cents")),
      "j", col("cb"), col("cents"))
    val tot = cum.agg(max(col("i")).as("n"), max(col("j")).as("m"),
      count(lit(1)).as("n_points"))
    cum.crossJoin(broadcast(tot))
      .agg(first(col("n")).as("n"), first(col("m")).as("m"),
        first(col("n_points")).as("n_points"),
        max(abs(col("i") * col("m") - col("j") * col("n"))).as("d_num"))
      .select(col("n"), col("m"), col("n_points"), col("d_num"),
        expr("d_num * 10000 div (n * m)").as("ks_bp"),
        // D > 1.358·sqrt((n+m)/nm)  ⇔  (D·nm)²·10⁶ > 1.358²·10⁶·nm·(n+m)
        expr("""cast(d_num as decimal(38,0)) * d_num * 1000000
               | > cast(1844164 as decimal(38,0)) * n * m * (n + m)"""
          .stripMargin).as("significant_05"))
  }

  private[queries] val BandW = 80
  private[queries] val PruneLo = 150
  private[queries] val PruneHi = 300

  def p36_stats_prune(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("n_chars"),
      expr(s"cast(least(n_chars div $BandW, 7) as int)").as("shard"))
    val artDir = graft.Scratch.dir("p36_zonemap", dir)
    docs.repartition(8, col("shard")).write.mode("overwrite")
      .partitionBy("shard").parquet(artDir)
    val manifest = s.read.parquet(artDir)
      .groupBy(col("shard"))
      .agg(min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx"))
      .collect()
    val selected = manifest
      .filter(r => r.getAs[Long]("mx") >= PruneLo &&
        r.getAs[Long]("mn") <= PruneHi)
      .map(_.getAs[Int]("shard")).sorted
    val pruned = s.read.option("basePath", artDir)
      .parquet(selected.map(k => s"$artDir/shard=$k"): _*)
      .filter(col("n_chars") >= PruneLo && col("n_chars") <= PruneHi)
    pruned
      .agg(count(lit(1)).as("n_rows_matched"),
        sum(col("n_chars")).as("sum_chars"))
      .select(lit(manifest.length.toLong).as("n_files_total"),
        lit(selected.length.toLong).as("n_files_read"),
        col("n_rows_matched"), col("sum_chars"))
  }

  def t37_tokenizer_fertility(s: SparkSession, dir: String): DataFrame = {
    val perDoc = Round10Queries.t19_bpe_apply(s, dir)
      .select(col("doc_id"), col("n_words"), col("n_chars"),
        col("n_bpe_tokens"))
    val langs = Tables.load(s, dir, "documents").select(col("doc_id"), col("lang"))
    perDoc.join(langs, "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("n_bpe_tokens")).as("n_bpe_tokens"))
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("n_bpe_tokens"),
        expr("n_bpe_tokens * 10000 div n_words").as("fertility_bp"),
        expr("n_chars * 10000 div n_bpe_tokens").as("chars_per_tok_bp"))
      .orderBy(col("lang"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q107_ks_drift"           -> (q107_ks_drift _),
    "p36_stats_prune"         -> (p36_stats_prune _),
    "t37_tokenizer_fertility" -> (t37_tokenizer_fertility _))

  val oracles: Map[String, String] = Map(
    "q107_ks_drift" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |ga AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS ca FROM ev
        |       WHERE event_type = 'purchase' GROUP BY 1),
        |gb AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS cb FROM ev
        |       WHERE event_type = 'click' GROUP BY 1),
        |pts AS (
        |  SELECT COALESCE(ga.cents, gb.cents) AS cents,
        |    COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        |  FROM ga FULL JOIN gb ON ga.cents = gb.cents),
        |cum AS (
        |  SELECT cents,
        |    CAST(SUM(ca) OVER (ORDER BY cents) AS BIGINT) AS i,
        |    CAST(SUM(cb) OVER (ORDER BY cents) AS BIGINT) AS j
        |  FROM pts),
        |tot AS (
        |  SELECT MAX(i) AS n, MAX(j) AS m,
        |    CAST(COUNT(*) AS BIGINT) AS n_points
        |  FROM cum),
        |d AS (
        |  SELECT MAX(ABS(i * t.m - j * t.n)) AS d_num
        |  FROM cum CROSS JOIN tot t)
        |SELECT t.n, t.m, t.n_points, d.d_num,
        |  (d.d_num * 10000) // (t.n * t.m) AS ks_bp,
        |  CAST(d.d_num AS HUGEINT) * d.d_num * 1000000
        |    > 1844164::HUGEINT * t.n * t.m * (t.n + t.m) AS significant_05
        |FROM d CROSS JOIN tot t""".stripMargin,
    "p36_stats_prune" ->
      s"""WITH d AS (
        |  SELECT doc_id, n_chars,
        |    least(n_chars // $BandW, 7) AS shard
        |  FROM documents),
        |mf AS (
        |  SELECT shard, MIN(n_chars) AS mn, MAX(n_chars) AS mx
        |  FROM d GROUP BY 1),
        |sel AS (SELECT shard FROM mf WHERE mx >= $PruneLo AND mn <= $PruneHi),
        |pr AS (
        |  SELECT * FROM d
        |  WHERE n_chars BETWEEN $PruneLo AND $PruneHi)
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM mf) AS n_files_total,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sel) AS n_files_read,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pr) AS n_rows_matched,
        |  (SELECT CAST(SUM(n_chars) AS BIGINT) FROM pr) AS sum_chars""".stripMargin,
    "t37_tokenizer_fertility" ->
      s"""WITH t19 AS (${Round10Queries.oracles("t19_bpe_apply")})
        |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(t19.n_words) AS BIGINT) AS n_words,
        |  CAST(SUM(t19.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
        |  (CAST(SUM(t19.n_bpe_tokens) AS BIGINT) * 10000)
        |    // CAST(SUM(t19.n_words) AS BIGINT) AS fertility_bp,
        |  (CAST(SUM(t19.n_chars) AS BIGINT) * 10000)
        |    // CAST(SUM(t19.n_bpe_tokens) AS BIGINT) AS chars_per_tok_bp
        |FROM t19 JOIN documents d USING (doc_id)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin)
}
