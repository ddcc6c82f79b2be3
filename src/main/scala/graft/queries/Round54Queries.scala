package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Fifty-fourth batch — retrieval chunking, privacy census, link
  * prediction:
  *
  *  - t34: RAG chunk windows — the splitting face of corpus prep (p23
  *    sequence-packing is the concatenating face): every document becomes
  *    overlapping 64-token windows on a 48-token stride, the unit a
  *    retrieval index or a fixed-context encoder actually ingests. Pure
  *    map-side expression work (tokenize → `sequence` of starts →
  *    posexplode → slice/join/md5): zero shuffle to chunk, so at 100 TB
  *    it scales with scan bandwidth alone. Chunk text is md5-fingerprinted
  *    so downstream exact dedup (d1) applies unchanged at chunk level.
  *  - q104: l-diversity census — the sibling of q90's k-anonymity: same
  *    quasi-identifier classes (nation × $1000 balance band), but the
  *    failure mode audited is sensitive-attribute homogeneity (market
  *    segment): a class where everyone shares one segment leaks the
  *    attribute even at k ≥ 5 (Machanavajjhala et al. '07, "l-diversity",
  *    public). Two bounded group-bys; the census is |classes|-sized.
  *  - q105: common-neighbor link prediction on the co-purchase graph —
  *    Jaccard(N(a), N(b)) in integer basis points over non-adjacent
  *    distance-2 pairs, top-20. The wedge join is the same node-ordered
  *    Σdeg² shape q70/q91 audit; candidates only materialize where a
  *    common neighbor exists (never all pairs), adjacency is removed by
  *    an anti-join against the edge list, and the final top-20 is a
  *    TakeOrdered over the candidate aggregate.
  *
  * Reference scope: extension beyond the reference surface (its transform
  * dialect is open, /root/reference/tools.py:58-65).
  */
object Round54Queries extends QueryModule {

  private val ChunkLen = 64
  private val Stride   = 48

  def t34_chunk_windows(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val docs = Tables.load(s, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
    docs
      .select(col("doc_id"), col("toks"), col("n"),
        posexplode(sequence(lit(0), col("n") - 1, lit(Stride)))
          .as(Seq("chunk_id", "tok_start")))
      .select(col("doc_id"),
        col("chunk_id").cast(LongType),
        col("tok_start").cast(LongType),
        least(lit(ChunkLen), col("n") - col("tok_start"))
          .cast(LongType).as("n_toks"),
        md5(array_join(
          expr(s"slice(toks, tok_start + 1, $ChunkLen)"), " "))
          .as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  def q104_l_diversity(s: SparkSession, dir: String): DataFrame = {
    val cls = Tables.load(s, dir, "customer")
      .select(col("c_nationkey").as("nat"),
        expr("cast(round(c_acctbal * 100) as bigint) div 100000").as("band"),
        col("c_mktsegment").as("seg"))
      .groupBy(col("nat"), col("band"))
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col("seg")).as("l_div"))
    cls.groupBy(col("l_div"))
      .agg(count(lit(1)).as("n_classes"),
        sum(col("class_size")).as("n_records"))
      .withColumn("at_risk", col("l_div") < 3)
      .orderBy(col("l_div"))
  }

  def q105_link_prediction(s: SparkSession, dir: String): DataFrame = {
    val e = Round6Queries.copurchaseEdges(s, dir).localCheckpoint(true)
    val und = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val cn = und.as("x").join(und.as("y"),
        col("x.v") === col("y.v") && col("x.u") < col("y.u"))
      .groupBy(col("x.u").as("a"), col("y.u").as("b"))
      .agg(count(lit(1)).as("common"))
    cn.join(e.select(col("u").as("a"), col("v").as("b")), Seq("a", "b"),
        "left_anti")
      .join(deg.select(col("u").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("u").as("b"), col("deg").as("deg_b")), "b")
      .select(col("a"), col("b"), col("common"), col("deg_a"), col("deg_b"),
        expr("common * 10000 div (deg_a + deg_b - common)").as("jaccard_bp"))
      .orderBy(col("jaccard_bp").desc, col("a"), col("b"))
      .limit(20)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t34_chunk_windows"    -> (t34_chunk_windows _),
    "q104_l_diversity"     -> (q104_l_diversity _),
    "q105_link_prediction" -> (q105_link_prediction _))

  val oracles: Map[String, String] = Map(
    "t34_chunk_windows" ->
      s"""WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM d),
        |st AS (
        |  SELECT doc_id, toks, n, unnest(range(0, n, $Stride)) AS tok_start
        |  FROM n)
        |SELECT doc_id,
        |  tok_start // $Stride AS chunk_id,
        |  tok_start,
        |  least($ChunkLen, n - tok_start) AS n_toks,
        |  md5(array_to_string(
        |    toks[tok_start + 1 : least(tok_start + $ChunkLen, n)], ' '))
        |    AS chunk_md5
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin,
    "q104_l_diversity" ->
      """WITH cls AS (
        |  SELECT c_nationkey AS nat,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) // 100000 AS band,
        |    COUNT(*) AS class_size,
        |    COUNT(DISTINCT c_mktsegment) AS l_div
        |  FROM customer GROUP BY 1, 2)
        |SELECT l_div, COUNT(*) AS n_classes,
        |  CAST(SUM(class_size) AS BIGINT) AS n_records,
        |  l_div < 3 AS at_risk
        |FROM cls GROUP BY l_div ORDER BY l_div""".stripMargin,
    "q105_link_prediction" ->
      s"""WITH ${Round6Queries.edgesSql},
        |und AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
        |deg AS (SELECT u, COUNT(*) AS deg FROM und GROUP BY 1),
        |cn AS (
        |  SELECT x.u AS a, y.u AS b, COUNT(*) AS common
        |  FROM und x JOIN und y ON x.v = y.v AND x.u < y.u
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT cn.a, cn.b, cn.common, da.deg AS deg_a, db.deg AS deg_b,
        |    (cn.common * 10000) // (da.deg + db.deg - cn.common)
        |      AS jaccard_bp
        |  FROM cn
        |  JOIN deg da ON da.u = cn.a
        |  JOIN deg db ON db.u = cn.b
        |  WHERE NOT EXISTS
        |    (SELECT 1 FROM e WHERE e.u = cn.a AND e.v = cn.b))
        |SELECT a, b, common, deg_a, deg_b, jaccard_bp
        |FROM cand ORDER BY jaccard_bp DESC, a, b LIMIT 20""".stripMargin)
}
