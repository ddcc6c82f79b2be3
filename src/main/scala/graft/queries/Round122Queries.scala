package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables

/** Hundred-twenty-second batch — clustering validation and corpus
  * diversity:
  *
  *  - d49: external validation of the s8 k-means clustering against the
  *    planted embedding labels — purity and the Rand index, the two
  *    standard agreement measures between a produced partition and a
  *    reference one, in exact integers end to end: the corpus reduces
  *    to the (cluster × label) contingency table first, and every pair
  *    count is C(n,2) = n(n−1)/2 integer arithmetic on that table
  *    (RI = [C(N,2) + 2ΣC(n_ij,2) − ΣC(a_i,2) − ΣC(b_j,2)] / C(N,2),
  *    Rand 1971). This is the eval loop a clustering-based curation
  *    step runs whenever ground truth exists for a sample.
  *  - t70: distinct-n diversity — the fraction of n-gram occurrences
  *    that are distinct types, n ∈ {1, 2, 3} (Li et al. 2016's
  *    distinct-1/-2 generation-diversity metric, applied corpus-side):
  *    a collapsing ratio flags templated or over-deduplicated text.
  *    Map-only n-gram explode into two counts per n.
  *
  * Scale: d49's only corpus pass is the assignment join → contingency
  * aggregate (k × labels rows before any arithmetic); t70 is one
  * explode-aggregate per n.
  *
  * Reference scope: beyond-reference LLM-pipeline surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round122Queries extends QueryModule {

  // ── d49: purity + Rand index of k-means vs planted labels ─────────────

  def d49_kmeans_validation(s: SparkSession, dir: String): DataFrame = {
    val asg = graft.operators.Kmeans
      .lloyd(Tables.load(s, dir, "embeddings"), "vec_id", "embedding", k = 4, iters = 2)
      .select(col("id").as("vec_id"), col("c").as("cluster"))
    val lab = Tables.load(s, dir, "embeddings").select(col("vec_id"), col("label"))
    val cont = asg.join(lab, Seq("vec_id"))
      .groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val byCluster = cont.groupBy(col("cluster"))
      .agg(sum(col("n")).as("a"), max(col("n")).as("mx"))
    val byLabel = cont.groupBy(col("label")).agg(sum(col("n")).as("b"))
    val pieces = cont.agg(sum(col("n")).as("nn"),
        count(lit(1)).as("n_cells"),
        sum(expr("n * (n - 1) div 2")).as("snij2"))
      .crossJoin(broadcast(byCluster.agg(
        count(lit(1)).as("n_clusters"),
        sum(expr("a * (a - 1) div 2")).as("sai2"),
        sum(col("mx")).as("purity_num"))))
      .crossJoin(broadcast(byLabel.agg(
        count(lit(1)).as("n_labels"),
        sum(expr("b * (b - 1) div 2")).as("sbj2"))))
    pieces.select(col("nn").as("n_vectors"), col("n_clusters"),
      col("n_labels"),
      expr("purity_num * 10000 div nn").as("purity_bp"),
      expr("""(nn * (nn - 1) div 2 + 2 * snij2 - sai2 - sbj2) * 10000
        |  div (nn * (nn - 1) div 2)""".stripMargin).as("rand_bp"))
  }

  // ── t70: distinct-n corpus diversity, n = 1..3 ────────────────────────

  def t70_distinct_ngrams(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val toks = Tables.load(s, dir, "documents")
      .select(Text.tokens(col("text")).as("t"))
      .localCheckpoint(true)
    val perN = (1 to 3).map { n =>
      toks.filter(size(col("t")) >= n)
        .select(explode(expr(
          s"""transform(sequence(1, size(t) - ${n - 1}),
             |  i -> array_join(slice(t, i, $n), ' '))""".stripMargin))
          .as("g"))
        .agg(count(lit(1)).as("total"),
          countDistinct(col("g")).as("n_distinct"))
        .select(lit(n.toLong).as("n"), col("total"), col("n_distinct"))
    }.reduce(_.unionByName(_))
    perN.select(col("n"), col("total"), col("n_distinct"),
        expr("n_distinct * 10000 div total").as("distinct_bp"))
      .orderBy(col("n"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d49_kmeans_validation" -> (d49_kmeans_validation _),
    "t70_distinct_ngrams"   -> (t70_distinct_ngrams _))

  val oracles: Map[String, String] = Map(
    "d49_kmeans_validation" -> {
      val s8 = Round11Queries.oracles("s8_kmeans")
      s"""WITH asg AS (SELECT vec_id, cluster FROM ($s8)),
        |lab AS (SELECT vec_id, label FROM embeddings),
        |cont AS (
        |  SELECT a.cluster, l.label, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM asg a JOIN lab l ON l.vec_id = a.vec_id GROUP BY 1, 2),
        |bc AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |    CAST(SUM(a * (a - 1) // 2) AS BIGINT) AS sai2,
        |    CAST(SUM(mx) AS BIGINT) AS purity_num
        |  FROM (SELECT cluster, SUM(n) AS a, MAX(n) AS mx FROM cont
        |        GROUP BY 1)),
        |bl AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_labels,
        |    CAST(SUM(b * (b - 1) // 2) AS BIGINT) AS sbj2
        |  FROM (SELECT label, SUM(n) AS b FROM cont GROUP BY 1)),
        |pc AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS nn,
        |    CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS snij2
        |  FROM cont)
        |SELECT pc.nn AS n_vectors, bc.n_clusters, bl.n_labels,
        |  bc.purity_num * 10000 // pc.nn AS purity_bp,
        |  (pc.nn * (pc.nn - 1) // 2 + 2 * pc.snij2 - bc.sai2 - bl.sbj2)
        |    * 10000 // (pc.nn * (pc.nn - 1) // 2) AS rand_bp
        |FROM pc CROSS JOIN bc CROSS JOIN bl""".stripMargin
    },
    "t70_distinct_ngrams" ->
      raw"""WITH tk AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT ns.n,
        |    unnest(list_transform(range(1, len(t) - ns.n + 2),
        |      i -> array_to_string(t[CAST(i AS INTEGER):
        |        CAST(i + ns.n - 1 AS INTEGER)], ' '))) AS g
        |  FROM tk CROSS JOIN (SELECT unnest([1, 2, 3]) AS n) ns
        |  WHERE len(t) >= ns.n)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(COUNT(*) AS BIGINT) AS total,
        |  CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
        |  CAST(COUNT(DISTINCT g) AS BIGINT) * 10000
        |    // CAST(COUNT(*) AS BIGINT) AS distinct_bp
        |FROM grams GROUP BY n ORDER BY n""".stripMargin)
}
