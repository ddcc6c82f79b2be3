package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables

/** Hundred-twentieth batch — sketch-parameter economics, batch planning,
  * and evaluation-split auditing:
  *
  *  - a24: Count-Min width sweep — the same key stream sketched at
  *    widths 64/128/256/512, each probed on the 20 heaviest keys, with
  *    max/total overestimate against exact counts and the conservative
  *    3N/w integer form of the ε = e/w error bound side by side. This is
  *    the sizing table an operator reads before provisioning sketch
  *    memory: error halves as width doubles, and the sweep shows exactly
  *    where the curve flattens for THIS key distribution. One pass per
  *    width over the key stream, all exact integer arithmetic
  *    (CountMin.mix61 family; oracle replays the chain in HUGEINT).
  *  - p54: length-sorted batch planning — rank documents by token count
  *    (Rank.globalRank — a distributed sort, never a single-task
  *    window), cut into batches of 8, and account padding waste
  *    Σ(batch_max − len) per batch; the ingestion-order plan's total
  *    waste rides along as the baseline every row can be compared to.
  *    Sorted batching is the standard trick that makes training/
  *    inference batches dense — this query makes the saving exact.
  *  - q165: k-fold split audit — deterministic fold assignment (the
  *    multiplicative hash mod 5, so folds are reproducible on any
  *    cluster) and the per-(fold, lang) deviation from perfect
  *    proportionality in exact ppm — the check that an evaluation split
  *    didn't concentrate a language into one fold.
  *
  * Scale: a24 is 4 sketch aggregates (d·w cells each) + a 20-row probe;
  * p54 is one global rank + one grouped aggregate; q165 reduces to
  * folds × languages before any division.
  *
  * Reference scope: beyond-reference LLM-pipeline surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round120Queries extends QueryModule {

  // ── a24: CMS error vs width, one row per width ────────────────────────

  private val Widths = Seq(64, 128, 256, 512)

  def a24_cms_width_sweep(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CountMin
    val keys = Tables.load(s, dir, "lineitem").select(col("l_partkey").as("k"))
      .localCheckpoint(true)
    val nn = keys.agg(count(lit(1)).as("n_total"))
    val exact = keys.groupBy(col("k")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("k")).limit(20)
      .localCheckpoint(true)
    val perWidth = Widths.map { w =>
      val cm = CountMin.sketch(keys, CountMin.DefaultFamily, w)
      CountMin.estimate(exact.select(col("k")), cm,
          CountMin.DefaultFamily, w)
        .join(exact, "k")
        .agg(max(col("cm_est") - col("exact_cnt")).as("max_over"),
          sum(col("cm_est") - col("exact_cnt")).as("sum_over"))
        .select(lit(w.toLong).as("width"), col("max_over"), col("sum_over"))
    }.reduce(_.unionByName(_))
    perWidth.crossJoin(broadcast(nn))
      .select(col("width"), col("n_total"), col("max_over"),
        col("sum_over"),
        expr("3 * n_total div width").as("bound_3n_w"),
        (col("max_over") <= expr("3 * n_total div width"))
          .as("within_bound"))
      .orderBy(col("width"))
  }

  // ── p54: length-sorted batches of 8 with exact padding accounting ─────

  def p54_sorted_batching(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val sized = Tables.load(s, dir, "documents")
      .select(col("doc_id"), Text.tokenCount(col("text")).cast(LongType)
        .as("len"))
    def plan(rankCol: org.apache.spark.sql.Column*): DataFrame =
      graft.operators.Rank.globalRank(sized, "rk", rankCol: _*)
        .withColumn("batch", expr("(rk - 1) div 8"))
        .groupBy(col("batch"))
        .agg(count(lit(1)).as("n_items"), max(col("len")).as("max_len"),
          sum(col("len")).as("batch_tokens"))
        .select(col("batch"), col("n_items"), col("max_len"),
          col("batch_tokens"),
          (col("n_items") * col("max_len") - col("batch_tokens"))
            .as("pad_waste"))
    val naiveTotal = plan(col("doc_id"))
      .agg(sum(col("pad_waste")).as("naive_total_waste"))
    plan(col("len"), col("doc_id"))
      .crossJoin(broadcast(naiveTotal))
      .orderBy(col("batch"))
  }

  // ── q165: deterministic k-fold assignment balance audit ───────────────

  def q165_kfold_balance(s: SparkSession, dir: String): DataFrame = {
    val folded = Tables.load(s, dir, "documents")
      .select(col("lang"), expr("(doc_id * 2654435761) % 5").as("fold"))
    val per = folded.groupBy(col("fold"), col("lang"))
      .agg(count(lit(1)).as("n"))
    val tot = folded.groupBy(col("lang"))
      .agg(count(lit(1)).as("lang_total"))
    per.join(tot, Seq("lang"))
      .select(col("fold"), col("lang"), col("n"), col("lang_total"),
        expr("abs(n * 5 - lang_total) * 1000000 div lang_total")
          .as("dev_ppm"))
      .orderBy(col("fold"), col("lang"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a24_cms_width_sweep" -> (a24_cms_width_sweep _),
    "p54_sorted_batching" -> (p54_sorted_batching _),
    "q165_kfold_balance"  -> (q165_kfold_balance _))

  val oracles: Map[String, String] = Map(
    "a24_cms_width_sweep" -> {
      val mixed = SketchSql.mix("keys.k", "fam.a", "fam.b")
      val mixedProbe = SketchSql.mix("e.k", "fam.a", "fam.b")
      s"""WITH keys AS (SELECT l_partkey AS k FROM lineitem),
        |fam(i, a, b) AS (VALUES (0, 1299709, 104729),
        |                        (1, 15485863, 1999),
        |                        (2, 32452843, 777767)),
        |ws(w) AS (VALUES (64), (128), (256), (512)),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM keys),
        |cells AS (
        |  SELECT ws.w, fam.i, $mixed % ws.w AS b,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM keys CROSS JOIN fam CROSS JOIN ws GROUP BY 1, 2, 3),
        |exact AS (
        |  SELECT k, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM keys
        |  GROUP BY k ORDER BY exact_cnt DESC, k LIMIT 20),
        |est AS (
        |  SELECT ws.w, e.k, e.exact_cnt,
        |    MIN(COALESCE(c.cnt, 0)) AS cm_est
        |  FROM exact e CROSS JOIN fam CROSS JOIN ws
        |  LEFT JOIN cells c ON c.w = ws.w AND c.i = fam.i
        |    AND c.b = $mixedProbe % ws.w
        |  GROUP BY 1, 2, 3),
        |sweep AS (
        |  SELECT CAST(w AS BIGINT) AS width,
        |    CAST(MAX(cm_est - exact_cnt) AS BIGINT) AS max_over,
        |    CAST(SUM(cm_est - exact_cnt) AS BIGINT) AS sum_over
        |  FROM est GROUP BY 1)
        |SELECT s.width, nn.n_total, s.max_over, s.sum_over,
        |  3 * nn.n_total // s.width AS bound_3n_w,
        |  s.max_over <= 3 * nn.n_total // s.width AS within_bound
        |FROM sweep s CROSS JOIN nn ORDER BY s.width""".stripMargin
    },
    "p54_sorted_batching" ->
      raw"""WITH sized AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS l
        |  FROM documents),
        |srt AS (
        |  SELECT l, (ROW_NUMBER() OVER (ORDER BY l, doc_id) - 1) // 8
        |    AS batch
        |  FROM sized),
        |per AS (
        |  SELECT batch, CAST(COUNT(*) AS BIGINT) AS n_items,
        |    CAST(MAX(l) AS BIGINT) AS max_len,
        |    CAST(SUM(l) AS BIGINT) AS batch_tokens
        |  FROM srt GROUP BY 1),
        |nai AS (
        |  SELECT l, (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // 8
        |    AS batch
        |  FROM sized),
        |nper AS (
        |  SELECT batch, COUNT(*) * MAX(l) - SUM(l) AS w FROM nai
        |  GROUP BY 1),
        |ntot AS (SELECT CAST(SUM(w) AS BIGINT) AS naive_total_waste
        |         FROM nper)
        |SELECT per.batch, per.n_items, per.max_len, per.batch_tokens,
        |  per.n_items * per.max_len - per.batch_tokens AS pad_waste,
        |  ntot.naive_total_waste
        |FROM per CROSS JOIN ntot ORDER BY per.batch""".stripMargin,
    "q165_kfold_balance" ->
      """WITH folded AS (
        |  SELECT lang, (doc_id * 2654435761) % 5 AS fold FROM documents),
        |per AS (
        |  SELECT fold, lang, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM folded GROUP BY 1, 2),
        |tot AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS lang_total
        |  FROM folded GROUP BY 1)
        |SELECT per.fold, per.lang, per.n, tot.lang_total,
        |  abs(per.n * 5 - tot.lang_total) * 1000000 // tot.lang_total
        |    AS dev_ppm
        |FROM per JOIN tot ON tot.lang = per.lang
        |ORDER BY per.fold, per.lang""".stripMargin)
}
