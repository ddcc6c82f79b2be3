package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Sixty-ninth batch — the transitivity audit behind cluster dedup:
  *
  *  - d36: near-dup transitivity census — connected-component dedup
  *    (d7/d8/d34) silently assumes similarity is transitive; the
  *    open-wedge rate measures how wrong that is on THIS corpus: over
  *    the ≥0.5-Jaccard pair graph, count wedges A–B–C and how many
  *    close (A–C also a pair). A high open rate means clusters chain
  *    dissimilar documents together (the over-merge hazard; the reason
  *    production pipelines cap cluster diameter or re-verify within
  *    clusters). One node-ordered wedge join + one closure probe over
  *    the persisted pair artifact — the same Σdeg² shape q70 audits,
  *    on a 25-edge graph here.
  *
  * Reference scope: extension beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round69Queries extends QueryModule {

  def d36_transitivity_audit(s: SparkSession, dir: String): DataFrame = {
    val pairs = s.read.parquet(Round63Queries.exactPairsDir(s, dir))
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    val und = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionByName(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
    // node-ordered wedges: center b, endpoints a < c
    val wedges = und.as("x").join(und.as("y"),
        col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .select(col("x.v").as("a"), col("x.u").as("b"), col("y.v").as("c"))
    val closed = wedges.join(
        pairs.select(col("id_a").as("a"), col("id_b").as("c")),
        Seq("a", "c"), "left_semi")
    val nEdges = pairs.agg(count(lit(1)).as("n_edges"))
    val nWedges = wedges.agg(count(lit(1)).as("n_wedges"))
    val nClosed = closed.agg(count(lit(1)).as("n_closed"))
    nEdges.crossJoin(nWedges).crossJoin(nClosed)
      .select(col("n_edges"), col("n_wedges"), col("n_closed"),
        (col("n_wedges") - col("n_closed")).as("n_open"),
        expr("case when n_wedges = 0 then 10000" +
          " else n_closed * 10000 div n_wedges end").as("closure_bp"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d36_transitivity_audit" -> (d36_transitivity_audit _))

  val oracles: Map[String, String] = Map(
    "d36_transitivity_audit" ->
      s"""WITH pairs AS (${ExtensionQueries.exactJaccardSql}),
        |p2 AS (SELECT id_a, id_b FROM pairs),
        |und AS (SELECT id_a AS u, id_b AS v FROM p2
        |        UNION ALL SELECT id_b, id_a FROM p2),
        |wedges AS (
        |  SELECT x.v AS a, x.u AS b, y.v AS c
        |  FROM und x JOIN und y ON x.u = y.u AND x.v < y.v),
        |closed AS (
        |  SELECT w.a, w.b, w.c FROM wedges w
        |  WHERE EXISTS (SELECT 1 FROM p2
        |    WHERE p2.id_a = w.a AND p2.id_b = w.c)),
        |agg AS (
        |  SELECT
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM p2) AS n_edges,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM wedges) AS n_wedges,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM closed) AS n_closed)
        |SELECT n_edges, n_wedges, n_closed,
        |  n_wedges - n_closed AS n_open,
        |  CASE WHEN n_wedges = 0 THEN 10000
        |       ELSE n_closed * 10000 // n_wedges END AS closure_bp
        |FROM agg""".stripMargin)
}
