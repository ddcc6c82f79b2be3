package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{DriverPath, Graph}

/** Sixty-seventh batch — the dedup aggressiveness knob and skew audit:
  *
  *  - d35: threshold sweep — the yield curve a dedup deployment reads
  *    before fixing its Jaccard threshold: at t ∈ {0.5, 0.6, 0.7}, how
  *    many pairs survive, how many documents are implicated, how many
  *    clusters form, and how many docs would drop (cluster size − 1
  *    each). One exact-pair computation at the loosest threshold feeds
  *    all three (tighter thresholds only FILTER pairs — computed once,
  *    never re-joined); components run per threshold over the
  *    already-tiny edge sets. The oracle replays each threshold's
  *    recursive closure.
  *  - p39: partition-skew audit — before choosing a partitioning key, a
  *    deployment measures its balance: for user_id mod 32 over events,
  *    the census (occupied partitions, max/min rows) and the skew
  *    factor max·parts/total in basis points (10000 = perfectly even).
  *    One group-by; the audit row is O(1). The measurement that decides
  *    when Skew.saltedJoin / AQE skew handling is needed — made a
  *    first-class query instead of a profiler anecdote.
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round67Queries extends QueryModule {

  private val Thresholds = Seq(50, 60, 70) // percent

  def d35_threshold_sweep(s: SparkSession, dir: String): DataFrame =
    sweepFromPairs(s, s.read
      .parquet(Round63Queries.exactPairsDir(s, dir))
      .select(col("id_a"), col("id_b"),
        expr("cast(round(jaccard * 100) as bigint)").as("j_pct"))
      .localCheckpoint(true))

  /** The sweep core, size-switched on [[DriverPath]] like
    * Graph.connectedComponents: below its edge cap the WHOLE sweep runs
    * on the driver — one collect, then per threshold a union-find over
    * the filtered array. The old shape paid 3 × (CC collect + checkpoint
    * + three count actions) of per-action scheduling on tiny edge sets;
    * these pairs would hit CC's driver fast-path anyway, so this
    * collapses ~15 driver actions into one with identical values. Above
    * the cap [[sweepRounds]] runs. */
  private[queries] def sweepFromPairs(s: SparkSession,
      pairs: DataFrame): DataFrame = {
    import s.implicits._
    val perT = DriverPath.rows(pairs.select(col("id_a").cast("long"),
        col("id_b").cast("long"), col("j_pct")).as[(Long, Long, Long)]) match {
      case None => sweepRounds(pairs)
      case Some(es) =>
        Thresholds.map { th =>
          val fe = es.collect { case (a, b, j) if j >= th => (a, b) }
          val lab = Graph.unionFind(fe)
          val nDocs = lab.size.toLong
          val nClusters = lab.values.toSet.size.toLong
          (th.toLong, fe.length.toLong, nDocs, nClusters, nDocs - nClusters)
        }
    }
    perT.toDF("threshold_pct", "n_pairs", "n_docs_implicated",
        "n_clusters", "n_docs_dropped")
      .orderBy(col("threshold_pct"))
  }

  /** The distributed sweep: per threshold, components over the filtered
    * pairs and three count actions. One census row per threshold. */
  private[queries] def sweepRounds(
      pairs: DataFrame): Seq[(Long, Long, Long, Long, Long)] =
    Thresholds.map { th =>
      val e = pairs.filter(col("j_pct") >= th)
        .select(col("id_a"), col("id_b"))
      val labels = Graph.connectedComponents(e, "id_a", "id_b")
        .localCheckpoint(true)
      val nPairs = e.count()
      val nDocs = labels.count()
      val nClusters = labels.select(col("l")).distinct().count()
      (th.toLong, nPairs, nDocs, nClusters, nDocs - nClusters)
    }

  private val NParts = 32

  def p39_partition_skew_audit(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables.load(s, dir, "events")
      .groupBy(expr(s"user_id % $NParts").as("part"))
      .agg(count(lit(1)).as("n"))
    parts.agg(count(lit(1)).as("n_parts_occupied"),
        sum(col("n")).as("n_rows"),
        max(col("n")).as("max_rows"), min(col("n")).as("min_rows"))
      .select(col("n_parts_occupied"), col("n_rows"), col("max_rows"),
        col("min_rows"),
        expr("max_rows * n_parts_occupied * 10000 div n_rows")
          .as("skew_bp"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d35_threshold_sweep"     -> (d35_threshold_sweep _),
    "p39_partition_skew_audit" -> (p39_partition_skew_audit _))

  private def sweepCtes(th: Int): String =
    s"""e_$th AS (SELECT id_a, id_b FROM wp WHERE j_pct >= $th),
       |und_$th AS (SELECT id_a AS a, id_b AS b FROM e_$th
       |            UNION ALL SELECT id_b, id_a FROM e_$th),
       |nodes_$th AS (SELECT DISTINCT a AS n FROM und_$th),
       |reach_$th(n, l) AS (
       |  SELECT n, n FROM nodes_$th
       |  UNION
       |  SELECT u.b, r.l FROM reach_$th r JOIN und_$th u ON u.a = r.n),
       |lab_$th AS (SELECT n, MIN(l) AS l FROM reach_$th GROUP BY n),
       |row_$th AS (
       |  SELECT CAST($th AS BIGINT) AS threshold_pct,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM e_$th) AS n_pairs,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lab_$th)
       |      AS n_docs_implicated,
       |    (SELECT CAST(COUNT(DISTINCT l) AS BIGINT) FROM lab_$th)
       |      AS n_clusters,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lab_$th) -
       |    (SELECT CAST(COUNT(DISTINCT l) AS BIGINT) FROM lab_$th)
       |      AS n_docs_dropped)""".stripMargin

  val oracles: Map[String, String] = Map(
    "d35_threshold_sweep" ->
      s"""WITH RECURSIVE pairs AS (${ExtensionQueries.exactJaccardSql}),
        |wp AS (
        |  SELECT id_a, id_b,
        |    CAST(ROUND(jaccard * 100) AS BIGINT) AS j_pct
        |  FROM pairs),
        |${Thresholds.map(sweepCtes).mkString(",\n")}
        |SELECT * FROM (${Thresholds.map(t => s"SELECT * FROM row_$t")
          .mkString(" UNION ALL ")})
        |ORDER BY threshold_pct""".stripMargin,
    "p39_partition_skew_audit" ->
      s"""WITH parts AS (
        |  SELECT user_id % $NParts AS part, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_parts_occupied,
        |  CAST(SUM(n) AS BIGINT) AS n_rows,
        |  CAST(MAX(n) AS BIGINT) AS max_rows,
        |  CAST(MIN(n) AS BIGINT) AS min_rows,
        |  (CAST(MAX(n) AS BIGINT) * COUNT(*) * 10000) // CAST(SUM(n) AS BIGINT)
        |    AS skew_bp
        |FROM parts""".stripMargin)
}
