package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Sixty-fourth batch — bitemporal truth, join-size bounds, channel
  * stats:
  *
  *  - q109: bitemporal AS OF — valid time (when a fact was true) and
  *    transaction time (when the system learned it) queried together
  *    (Snodgrass, public): a price table where every fifth key receives
  *    a CORRECTION recorded on tx day 6 (old version's tx interval
  *    closes, corrected version opens; valid time unchanged). The same
  *    valid-time query asked AS OF tx day 4 vs day 10 returns different
  *    sums — the audit-trail property plain SCD2 (p7) cannot express,
  *    completing the temporal family (p19 time travel = tx time only,
  *    q99 as-of = valid time only). Interval predicates on a bounded
  *    version table; both reads are one filtered aggregate.
  *  - a18: range-join cardinality bounds from histograms — the
  *    optimizer-style estimate for |{(a,b) : |a−b| ≤ d}| BEFORE running
  *    the join: with bin width = d, every same-bin pair qualifies
  *    (intra-bin spread < d) and every qualifying pair is within one
  *    bin (|i−j| ≤ 1), so Σᵢ caᵢ·cbᵢ and Σ_{|i−j|≤1} caᵢ·cbⱼ are PROVEN
  *    lower/upper bounds. Both come from the two (bin, cnt) sketches —
  *    the adjacency join explodes each A-bin to {i−1, i, i+1} and stays
  *    an equi-join; the exact anchor runs the real bucketized range
  *    join (q36's shape). Complements a4's equi-join CM estimate.
  *  - m19: per-channel corpus statistics — the dataset mean/std every
  *    vision training run computes before normalizing: decoded RGB
  *    rasters explode to (channel, value) and collapse in one
  *    aggregate; mean and variance are served in exact integer
  *    milli-units via cross-multiplication (n·Σv² − (Σv)² over n²).
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round64Queries extends QueryModule {

  // day numbers; valid/tx intervals are [from, to)
  private val TxCorrection = 6L
  private val TxAsOfEarly = 4L
  private val TxAsOfLate = 10L
  private val ValidAt = 15L
  private val Inf = 999L

  def q109_bitemporal(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "part").select(col("p_partkey").as("k"),
      expr("cast(round(p_retailprice * 100) as bigint)").as("cents"))
    // version 1: valid [1, ∞) believed from tx day 1; for k % 5 = 0 the
    // belief is superseded on tx day 6 by a +1000¢ correction
    val v1 = base.select(col("k"), col("cents"), lit(1L).as("vf"),
      lit(Inf).as("vt"), lit(1L).as("tf"),
      when(col("k") % 5 === 0, lit(TxCorrection)).otherwise(lit(Inf))
        .as("tt"))
    val v2 = base.filter(col("k") % 5 === 0)
      .select(col("k"), (col("cents") + 1000L).as("cents"),
        lit(1L).as("vf"), lit(Inf).as("vt"),
        lit(TxCorrection).as("tf"), lit(Inf).as("tt"))
    val versions = v1.unionByName(v2)
    def asOf(tx: Long): DataFrame = versions
      .filter(col("tf") <= tx && col("tt") > tx &&
        col("vf") <= ValidAt && col("vt") > ValidAt)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"),
        sum(when(col("tf") === TxCorrection, 1L).otherwise(0L))
          .as("n_corrections_visible"))
      .select(lit(tx).as("tx_asof"), col("n_rows"), col("sum_cents"),
        col("n_corrections_visible"))
    asOf(TxAsOfEarly).unionByName(asOf(TxAsOfLate)).orderBy(col("tx_asof"))
  }

  private val RangeD = 500L // cents; also the bin width

  def a18_range_join_estimate(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events").select(col("event_type"),
      expr("cast(round(value * 100) as bigint)").as("cents"))
    def hist(typ: String, c: String) = ev
      .filter(col("event_type") === typ)
      .groupBy(expr(s"cents div $RangeD").as("bin"))
      .agg(count(lit(1)).as(c))
    val ha = hist("purchase", "ca").localCheckpoint(true)
    val hb = hist("click", "cb").localCheckpoint(true)
    val lo = ha.join(hb, "bin")
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("est_lo"))
    val hi = ha.select(col("bin"), col("ca"),
        explode(expr("array(bin - 1, bin, bin + 1)")).as("jbin"))
      .join(hb.select(col("bin").as("jbin"), col("cb")), "jbin")
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("est_hi"))
    // exact anchor: the real bucketized range join (each A row probes
    // its own and both neighbor buckets — an equi-join, never a
    // nested loop)
    val a = ev.filter(col("event_type") === "purchase")
      .select(col("cents").as("va"))
    val b = ev.filter(col("event_type") === "click")
      .select(col("cents").as("vb"))
      .withColumn("jbin", expr(s"vb div $RangeD"))
    val exact = a
      .select(col("va"), explode(expr(
        s"array(va div $RangeD - 1, va div $RangeD, va div $RangeD + 1)"))
        .as("jbin"))
      .join(b, "jbin")
      .filter(abs(col("va") - col("vb")) <= RangeD)
      .agg(count(lit(1)).as("exact_pairs"))
    lo.crossJoin(hi).crossJoin(exact)
      .select(col("est_lo"), col("est_hi"), col("exact_pairs"),
        (col("est_lo") <= col("exact_pairs")).as("lo_holds"),
        (col("est_hi") >= col("exact_pairs")).as("hi_holds"))
  }

  def m19_channel_stats(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ImageExprs
    val px = Tables.load(s, dir, "documents").select(
        ImageExprs.decodePixels(ImageExprs.encodeImageFromText(
          col("text"), "ppm", 8, 8)).as("px"))
      .select(posexplode(col("px")).as(Seq("i", "v")))
      .select(expr("cast(i % 3 as bigint)").as("channel"),
        col("v").cast("long").as("v"))
    px.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_vals"), sum(col("v")).as("sum_v"),
        sum(col("v") * col("v")).as("sum_sq"),
        min(col("v")).as("v_min"), max(col("v")).as("v_max"))
      .select(col("channel"), col("n_vals"), col("sum_v"), col("sum_sq"),
        col("v_min"), col("v_max"),
        expr("sum_v * 1000 div n_vals").as("mean_milli"),
        expr("(n_vals * sum_sq - sum_v * sum_v) * 1000" +
          " div (n_vals * n_vals)").as("var_milli"))
      .orderBy(col("channel"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q109_bitemporal"         -> (q109_bitemporal _),
    "a18_range_join_estimate" -> (a18_range_join_estimate _),
    "m19_channel_stats"       -> (m19_channel_stats _))

  val oracles: Map[String, String] = Map(
    "q109_bitemporal" ->
      s"""WITH base AS (
        |  SELECT p_partkey AS k,
        |    CAST(ROUND(p_retailprice * 100) AS BIGINT) AS cents
        |  FROM part),
        |versions AS (
        |  SELECT k, cents, 1 AS vf, $Inf AS vt, 1 AS tf,
        |    CASE WHEN k % 5 = 0 THEN $TxCorrection ELSE $Inf END AS tt
        |  FROM base
        |  UNION ALL
        |  SELECT k, cents + 1000, 1, $Inf, $TxCorrection, $Inf
        |  FROM base WHERE k % 5 = 0),
        |ao AS (
        |  SELECT t.tx AS tx_asof,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(v.cents) AS BIGINT) AS sum_cents,
        |    CAST(SUM(CASE WHEN v.tf = $TxCorrection THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_corrections_visible
        |  FROM (VALUES ($TxAsOfEarly), ($TxAsOfLate)) t(tx)
        |  JOIN versions v
        |    ON v.tf <= t.tx AND v.tt > t.tx
        |    AND v.vf <= $ValidAt AND v.vt > $ValidAt
        |  GROUP BY t.tx)
        |SELECT CAST(tx_asof AS BIGINT) AS tx_asof, n_rows, sum_cents,
        |  n_corrections_visible
        |FROM ao ORDER BY tx_asof""".stripMargin,
    "a18_range_join_estimate" ->
      s"""WITH ev AS (
        |  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |ha AS (SELECT cents // $RangeD AS bin, CAST(COUNT(*) AS BIGINT)
        |         AS ca FROM ev WHERE event_type = 'purchase' GROUP BY 1),
        |hb AS (SELECT cents // $RangeD AS bin, CAST(COUNT(*) AS BIGINT)
        |         AS cb FROM ev WHERE event_type = 'click' GROUP BY 1),
        |lo AS (SELECT CAST(COALESCE(SUM(ca * cb), 0) AS BIGINT) AS est_lo
        |       FROM ha JOIN hb USING (bin)),
        |hi AS (SELECT CAST(COALESCE(SUM(ha.ca * hb.cb), 0) AS BIGINT)
        |         AS est_hi
        |       FROM ha JOIN hb ON abs(ha.bin - hb.bin) <= 1),
        |ex AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS exact_pairs
        |  FROM (SELECT cents AS va FROM ev WHERE event_type = 'purchase') a
        |  JOIN (SELECT cents AS vb FROM ev WHERE event_type = 'click') b
        |    ON abs(a.va - b.vb) <= $RangeD)
        |SELECT lo.est_lo, hi.est_hi, ex.exact_pairs,
        |  lo.est_lo <= ex.exact_pairs AS lo_holds,
        |  hi.est_hi >= ex.exact_pairs AS hi_holds
        |FROM lo CROSS JOIN hi CROSS JOIN ex""".stripMargin,
    "m19_channel_stats" ->
      """WITH g AS (
        |  SELECT doc_id, text, length(text) AS len FROM documents),
        |px AS (
        |  SELECT CAST(i % 3 AS BIGINT) AS channel,
        |    CAST(ord(substr(text, CAST((i % len) + 1 AS INT), 1)) % 256
        |      AS BIGINT) AS v
        |  FROM g, unnest(range(0, 192)) AS t(i)),
        |agg AS (
        |  SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_vals,
        |    CAST(SUM(v) AS BIGINT) AS sum_v,
        |    CAST(SUM(v * v) AS BIGINT) AS sum_sq,
        |    CAST(MIN(v) AS BIGINT) AS v_min, CAST(MAX(v) AS BIGINT) AS v_max
        |  FROM px GROUP BY 1)
        |SELECT channel, n_vals, sum_v, sum_sq, v_min, v_max,
        |  sum_v * 1000 // n_vals AS mean_milli,
        |  (n_vals * sum_sq - sum_v * sum_v) * 1000 // (n_vals * n_vals)
        |    AS var_milli
        |FROM agg ORDER BY channel""".stripMargin)
}
