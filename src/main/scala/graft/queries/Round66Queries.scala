package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Sixty-sixth batch — cluster representatives and sketch QA:
  *
  *  - d34: cluster medoid selection — after near-dup clustering (d7)
  *    the curation decision is WHICH copy to keep: per cluster, the
  *    member with the highest total similarity to its peers (sum of
  *    incident threshold-edge Jaccards in integer basis points; min-id
  *    tiebreak). Quality-aware canonicalization, versus d8's
  *    book-keeping (bytes dropped) and d32's rule-based survivorship —
  *    edges already exist (the d3/d7 pipeline), so the medoid pass is
  *    one per-node weight aggregate + one per-cluster argmax window
  *    over cluster-sized frames.
  *  - a19: Count-Min error profile — the QA a sketch deployment runs
  *    before trusting estimates: every distinct key's estimate minus
  *    its exact count (always ≥ 0 — the one-sided guarantee), rolled
  *    into an error histogram, with the ε·N/w envelope checked
  *    alongside (e·N/w, e ≈ 2.72 scaled ×100 on the integer lattice).
  *    One sketch aggregate + one exact group-by + a probe join; the
  *    profile is |distinct errors|-sized.
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round66Queries extends QueryModule {

  def d34_cluster_medoid(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Graph
    val pairs = s.read
      .parquet(Round63Queries.exactPairsDir(s, dir))
      .select(col("id_a"), col("id_b"),
        expr("cast(round(jaccard * 10000) as bigint)").as("w_bp"))
      .localCheckpoint(true)
    val labels = Graph.connectedComponents(
      pairs.select(col("id_a"), col("id_b")), "id_a", "id_b")
    val incident = pairs.select(col("id_a").as("n"), col("w_bp"))
      .unionByName(pairs.select(col("id_b").as("n"), col("w_bp")))
      .groupBy(col("n"))
      .agg(sum(col("w_bp")).as("sum_w_bp"), count(lit(1)).as("n_edges"))
    val members = labels.join(incident, "n")
    val wnd = Window.partitionBy(col("l"))
      .orderBy(col("sum_w_bp").desc, col("n"))
    members.withColumn("rk", row_number().over(wnd))
      .withColumn("n_members", count(lit(1)).over(
        Window.partitionBy(col("l"))))
      .filter(col("rk") === 1)
      .select(col("l").as("cluster"), col("n_members"),
        col("n").as("medoid"), col("sum_w_bp").as("medoid_score_bp"),
        col("n_edges").as("medoid_degree"))
      .orderBy(col("cluster"))
  }

  private val CmW = 256

  def a19_cm_error_profile(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CountMin
    val keys = Tables.load(s, dir, "lineitem").select(col("l_partkey").as("k"))
    val cells = CountMin.sketch(keys, CountMin.DefaultFamily, w = CmW)
    val exact = keys.groupBy(col("k")).agg(count(lit(1)).as("exact_cnt"))
      .localCheckpoint(true)
    val est = CountMin.estimate(exact.select(col("k")), cells,
      CountMin.DefaultFamily, w = CmW)
    val n = keys.count()
    val bound = (272L * n) / (100L * CmW) // ε·N = e/w·N on the lattice
    est.join(exact, "k")
      .withColumn("err", col("cm_est") - col("exact_cnt"))
      .groupBy(col("err"))
      .agg(count(lit(1)).as("n_keys"))
      .withColumn("never_undercounts", col("err") >= 0)
      .withColumn("within_envelope", col("err") <= bound)
      .orderBy(col("err"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d34_cluster_medoid"  -> (d34_cluster_medoid _),
    "a19_cm_error_profile" -> (a19_cm_error_profile _))

  private val cmFam =
    "fam(i, a, b) AS (VALUES (0, 1299709, 104729), (1, 15485863, 1999)," +
      " (2, 32452843, 777767))"

  val oracles: Map[String, String] = Map(
    "d34_cluster_medoid" ->
      s"""WITH RECURSIVE pairs AS (${ExtensionQueries.exactJaccardSql}),
        |wp AS (
        |  SELECT id_a, id_b,
        |    CAST(ROUND(jaccard * 10000) AS BIGINT) AS w_bp
        |  FROM pairs),
        |undirected AS (
        |  SELECT id_a AS a, id_b AS b FROM wp
        |  UNION ALL SELECT id_b, id_a FROM wp),
        |nodes AS (SELECT DISTINCT a AS n FROM undirected),
        |reach(n, l) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT u.b, r.l FROM reach r JOIN undirected u ON u.a = r.n),
        |labels AS (SELECT n, MIN(l) AS l FROM reach GROUP BY n),
        |incident AS (
        |  SELECT n, CAST(SUM(w_bp) AS BIGINT) AS sum_w_bp,
        |    CAST(COUNT(*) AS BIGINT) AS n_edges
        |  FROM (SELECT id_a AS n, w_bp FROM wp
        |        UNION ALL SELECT id_b, w_bp FROM wp)
        |  GROUP BY n),
        |members AS (
        |  SELECT lb.l, lb.n, i.sum_w_bp, i.n_edges,
        |    ROW_NUMBER() OVER (PARTITION BY lb.l
        |      ORDER BY i.sum_w_bp DESC, lb.n) AS rk,
        |    COUNT(*) OVER (PARTITION BY lb.l) AS n_members
        |  FROM labels lb JOIN incident i ON i.n = lb.n)
        |SELECT l AS cluster, CAST(n_members AS BIGINT) AS n_members,
        |  n AS medoid, sum_w_bp AS medoid_score_bp,
        |  n_edges AS medoid_degree
        |FROM members WHERE rk = 1 ORDER BY cluster""".stripMargin,
    "a19_cm_error_profile" ->
      s"""WITH $cmFam,
        |keys AS (SELECT l_partkey AS k FROM lineitem),
        |cells AS (
        |  SELECT fam.i, ${SketchSql.bucket("keys.k", "fam.a", "fam.b", CmW)}
        |    AS b, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM keys CROSS JOIN fam GROUP BY 1, 2),
        |exact AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS exact_cnt
        |          FROM keys GROUP BY 1),
        |est AS (
        |  SELECT e.k, MIN(COALESCE(c.cnt, 0)) AS cm_est
        |  FROM exact e CROSS JOIN fam
        |  LEFT JOIN cells c ON c.i = fam.i AND c.b =
        |    ${SketchSql.bucket("e.k", "fam.a", "fam.b", CmW)}
        |  GROUP BY e.k),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM keys),
        |errs AS (
        |  SELECT est.cm_est - ex.exact_cnt AS err
        |  FROM est JOIN exact ex ON ex.k = est.k)
        |SELECT err, CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  err >= 0 AS never_undercounts,
        |  err <= (272 * nn.n) // (100 * $CmW) AS within_envelope
        |FROM errs CROSS JOIN nn
        |GROUP BY err, nn.n ORDER BY err""".stripMargin)
}
