package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Fifteenth batch — exact substring dedup:
  *
  *  - d19: maximal shared token runs between document pairs
  *    ([[graft.operators.Substring]]) — the exact counterpart of d13's
  *    winnowed approximation, via positional n-gram diagonals (the
  *    distributed form of Lee et al. 2022's suffix-array dedup).
  *
  * Reference scope: extension beyond the reference surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round15Queries extends QueryModule {

  // ── d19: 8-gram diagonals, report pairs whose longest exact shared
  //        run is ≥ 12 tokens. Pairs meet only via the gram equi-join;
  //        islands per (pair, diagonal) — never a global window. ───────
  def d19_substring_runs(s: SparkSession, dir: String): DataFrame =
    graft.operators.Substring.sharedRuns(Tables.load(s, dir, "documents"),
        "doc_id", "text", n = 8, minRunTokens = 12)
      .orderBy(col("id_a"), col("id_b"))

  // ── a3: Count-Min point estimates vs ground truth for the 20
  //        heaviest part keys — the sketch is one d·w-cell aggregate
  //        (mergeable across partitions by construction) and every
  //        estimate is exact integer arithmetic the oracle replays;
  //        `over` pins the no-undercount guarantee cell by cell. ───────
  def a3_cms_counts(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CountMin
    val keys = Tables.load(s, dir, "lineitem").select(col("l_partkey").as("k"))
    val cm = CountMin.sketch(keys, CountMin.DefaultFamily, w = 256)
      .localCheckpoint() // consumed once per probe row set
    val exact = keys.groupBy(col("k")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("k")).limit(20)
    CountMin.estimate(exact.select(col("k")), cm,
        CountMin.DefaultFamily, w = 256)
      .join(exact, "k")
      .select(col("k").as("part_key"), col("exact_cnt"), col("cm_est"),
        (col("cm_est") >= col("exact_cnt")).as("over"))
      .orderBy(col("exact_cnt").desc, col("part_key"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d19_substring_runs" -> (d19_substring_runs _),
    "a3_cms_counts"      -> (a3_cms_counts _))

  val oracles: Map[String, String] = Map(
    // the full sketch + min-of-cells estimates in exact BIGINT; buckets
    // come from the shared mixing chain (SketchSql.bucket)
    "a3_cms_counts" ->
      s"""WITH keys AS (SELECT l_partkey AS k FROM lineitem),
        |fam(i, a, b) AS (VALUES (0, 1299709, 104729),
        |                        (1, 15485863, 1999),
        |                        (2, 32452843, 777767)),
        |cells AS (
        |  SELECT fam.i,
        |    ${SketchSql.bucket("keys.k", "fam.a", "fam.b", 256)} AS b,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM keys CROSS JOIN fam GROUP BY 1, 2),
        |exact AS (
        |  SELECT k, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM keys
        |  GROUP BY k ORDER BY exact_cnt DESC, k LIMIT 20),
        |est AS (
        |  SELECT e.k, MIN(COALESCE(c.cnt, 0)) AS cm_est
        |  FROM exact e CROSS JOIN fam
        |  LEFT JOIN cells c ON c.i = fam.i
        |    AND c.b = ${SketchSql.bucket("e.k", "fam.a", "fam.b", 256)}
        |  GROUP BY e.k)
        |SELECT e.k AS part_key, e.exact_cnt, est.cm_est,
        |  est.cm_est >= e.exact_cnt AS over
        |FROM exact e JOIN est ON est.k = e.k
        |ORDER BY e.exact_cnt DESC, part_key""".stripMargin,
    "d19_substring_runs" ->
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
        |  SELECT id_a, id_b, diag, isl, COUNT(*) AS len_grams
        |  FROM r GROUP BY 1, 2, 3, 4)
        |SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS n_runs,
        |  CAST(MAX(len_grams + 7) AS BIGINT) AS max_run_tokens,
        |  CAST(SUM(len_grams) AS BIGINT) AS shared_grams
        |FROM runs GROUP BY 1, 2
        |HAVING MAX(len_grams + 7) >= 12
        |ORDER BY id_a, id_b""".stripMargin)
}
