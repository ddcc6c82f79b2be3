package graft.queries

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Thirty-seventh batch — storage-format breadth, CDC, corpus curation,
  * and a second retrieval-eval metric:
  *
  *  - p31: ORC round-trip — the columnar sibling of the parquet path
  *    (same predicate-pushdown/column-pruning story through Spark's
  *    native ORC reader), proven by writing a filtered slice and
  *    aggregating the read-back against a parquet-side oracle.
  *  - p32: snapshot diff / CDC generation — classify rows between two
  *    table versions into inserts/updates/deletes via one full-outer
  *    join on the key, the changelog a downstream incremental consumer
  *    (p29's delta maintenance) ingests.
  *  - d26: cross-SOURCE contamination matrix — exact 3-gram shingle
  *    Jaccard between every source pair from posting lists (which
  *    corpora duplicate each other — the curation question ABOVE
  *    per-document dedup).
  *  - s16: ANN mean-reciprocal-rank — where does the TRUE nearest
  *    neighbor land in the under-provisioned LSH's ranking; the
  *    rank-position metric complementing s13's set-overlap recall, in
  *    integer basis points.
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round37Queries extends QueryModule {

  // ── p31: write a pushdown-relevant slice to ORC partitioned by return
  //        flag, read it back, aggregate. At 100 TB the ORC scan gets
  //        the same PushedFilters/ReadSchema treatment as parquet —
  //        format breadth without a second code path. ───────────────────
  def p31_orc_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val slice = Tables.load(s, dir, "lineitem")
      .filter(col("l_shipdate") >= to_date(lit("1998-01-01")))
      .select(col("l_returnflag"), col("l_quantity"),
        round(col("l_extendedprice") * 100).cast(LongType).as("cents"))
    val orcDir = graft.Scratch.dir("p31_orc", dir)
    slice.write.mode(SaveMode.Overwrite)
      .partitionBy("l_returnflag").orc(orcDir)
    s.read.orc(orcDir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(LongType)).as("sum_qty"),
        sum(col("cents")).as("revenue_c"))
      .orderBy(col("l_returnflag"))
  }

  // ── p32: v1 = v0 with planted deletes (key%13=0), balance updates
  //        (+$100 on key%10=0 survivors) and inserts (key+1M for
  //        key%3=0). One full-outer join on the key classifies every
  //        changed row; unchanged rows drop out. The changelog feeds
  //        incremental consumers — p29's delta joins eat exactly this. ──
  def p32_snapshot_diff(s: SparkSession, dir: String): DataFrame = {
    val v0 = Tables.load(s, dir, "customer").select(col("c_custkey").as("id"),
      round(col("c_acctbal") * 100).cast(LongType).as("balc"))
    val survivors = v0.filter(col("id") % 13 =!= 0)
    val v1 = survivors
      .select(col("id"),
        when(col("id") % 10 === 0, col("balc") + 10000L)
          .otherwise(col("balc")).as("balc"))
      .unionByName(v0.filter(col("id") % 3 === 0)
        .select((col("id") + 1000000L).as("id"), col("balc")))
    v0.select(col("id"), col("balc").as("old_balc"))
      .join(v1.select(col("id"), col("balc").as("new_balc")),
        Seq("id"), "full_outer")
      .withColumn("op",
        when(col("old_balc").isNull, lit("I"))
          .when(col("new_balc").isNull, lit("D"))
          .when(col("old_balc") =!= col("new_balc"), lit("U")))
      .filter(col("op").isNotNull)
      .select(col("op"), col("id"), col("old_balc"), col("new_balc"))
      .orderBy(col("id"), col("op"))
  }

  // ── d26: distinct (source, shingle) postings, then one posting-keyed
  //        join generates source pairs — Σ_sh |sources(sh)|² work, never
  //        |corpus|². Jaccard in exact integer basis points. ────────────
  def d26_source_overlap(s: SparkSession, dir: String): DataFrame = {
    val post = Tables.load(s, dir, "documents")
      .select(col("source"),
        explode(array_distinct(
          graft.functions.Text.shingles(col("text"), 3))).as("sh"))
      .distinct()
      .localCheckpoint()
    val sizes = post.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = post.as("a").join(post.as("b"),
        col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("source").as("src_a"), col("n").as("na")),
        "src_a")
      .join(sizes.select(col("source").as("src_b"), col("n").as("nb")),
        "src_b")
      .select(col("src_a"), col("src_b"), col("inter"), col("na"),
        col("nb"),
        expr("inter * 10000 div (na + nb - inter)").as("jaccard_bp"))
      .orderBy(col("src_a"), col("src_b"))
  }

  // ── s16: rank of the exact nearest neighbor inside the one-table-LSH
  //        candidate ranking (s13's ANN); missed → rank NULL → rr 0.
  //        Reciprocal rank in integer basis points: 10000 div rank. ─────
  def s16_ann_mrr(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, Similarity}
    val emb = Tables.load(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
    val gt1 = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
        k = 1)
      .select(col("query_id"), col("cand_id").as("true_top1"))
    val bucketed = emb.select(col("vec_id"),
      Dedup.lshBucket(col("embedding"), dim = 64, nPlanes = 4).as("bucket"))
    val qb = broadcast(queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        Dedup.lshBucket(col("embedding"), dim = 64, nPlanes = 4)
          .as("bucket")))
    val ranked = bucketed.join(qb, "bucket")
      .filter(col("vec_id") =!= col("query_id"))
      .join(emb.select(col("vec_id"), col("embedding").as("cv")), "vec_id")
      .select(col("query_id"), col("vec_id").as("cand_id"),
        graft.operators.Vectors.cosine(col("qv"), col("cv")).as("cosv"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosv").desc, col("cand_id"))).cast(LongType))
    gt1.join(ranked.select(col("query_id"),
          col("cand_id").as("true_top1"), col("rk")),
        Seq("query_id", "true_top1"), "left")
      .select(col("query_id"), col("true_top1"),
        coalesce(col("rk"), lit(0L)).as("ann_rank"),
        coalesce(expr("10000 div rk"), lit(0L)).as("rr_bp"))
      .orderBy(col("query_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p31_orc_roundtrip"  -> (p31_orc_roundtrip _),
    "p32_snapshot_diff"  -> (p32_snapshot_diff _),
    "d26_source_overlap" -> (d26_source_overlap _),
    "s16_ann_mrr"        -> (s16_ann_mrr _))

  val oracles: Map[String, String] = Map(
    "p31_orc_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT)
        |    AS revenue_c
        |FROM lineitem WHERE l_shipdate >= DATE '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "p32_snapshot_diff" ->
      """WITH v0 AS (
        |  SELECT c_custkey AS id,
        |    CAST(ROUND(c_acctbal*100) AS BIGINT) AS balc
        |  FROM customer),
        |v1 AS (
        |  SELECT id, CASE WHEN id % 10 = 0 THEN balc + 10000
        |    ELSE balc END AS balc
        |  FROM v0 WHERE id % 13 <> 0
        |  UNION ALL
        |  SELECT id + 1000000, balc FROM v0 WHERE id % 3 = 0),
        |d AS (
        |  SELECT COALESCE(v0.id, v1.id) AS id, v0.balc AS old_balc,
        |    v1.balc AS new_balc
        |  FROM v0 FULL OUTER JOIN v1 ON v1.id = v0.id)
        |SELECT CASE WHEN old_balc IS NULL THEN 'I'
        |  WHEN new_balc IS NULL THEN 'D'
        |  WHEN old_balc <> new_balc THEN 'U' END AS op,
        |  id, old_balc, new_balc
        |FROM d
        |WHERE old_balc IS NULL OR new_balc IS NULL OR old_balc <> new_balc
        |ORDER BY id, op""".stripMargin,
    "d26_source_overlap" ->
      """WITH base AS (
        |  SELECT source, string_split_regex(trim(text), '\s+') AS L
        |  FROM documents),
        |idx AS (
        |  SELECT source, L, unnest(range(1, len(L) - 1)) AS i
        |  FROM base WHERE len(L) >= 3),
        |post AS (
        |  SELECT DISTINCT source, array_to_string(L[i:i+2], ' ') AS sh
        |  FROM idx),
        |sizes AS (SELECT source, COUNT(*) AS n FROM post GROUP BY 1),
        |inter AS (
        |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter
        |  FROM post a JOIN post b
        |    ON a.sh = b.sh AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT i.src_a, i.src_b, i.inter, sa.n AS na, sb.n AS nb,
        |  i.inter * 10000 // (sa.n + sb.n - i.inter) AS jaccard_bp
        |FROM inter i JOIN sizes sa ON sa.source = i.src_a
        |JOIN sizes sb ON sb.source = i.src_b
        |ORDER BY i.src_a, i.src_b""".stripMargin,
    "s16_ann_mrr" ->
      s"""WITH pj(j, pj) AS (VALUES ${ExtensionQueries.lshPlanePowers}),
        |pi(i, pi) AS (VALUES ${ExtensionQueries.lshDimPowers}),
        |raw AS (
        |  SELECT vec_id, unnest(embedding) AS x,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
        |    AS qx, i - 1 AS i
        |  FROM raw),
        |planes AS (
        |  SELECT pj.j, pi.i,
        |    CAST(((CAST(pj.pj AS HUGEINT) * CAST(pi.pi AS HUGEINT))
        |      % 2305843009213693951) % 2001 - 1000 AS BIGINT) AS c
        |  FROM pj CROSS JOIN pi),
        |bits AS (
        |  SELECT q.vec_id, p.j,
        |    CASE WHEN SUM(q.qx * p.c) >= 0
        |         THEN CAST(POWER(2, p.j) AS BIGINT) ELSE 0 END AS b
        |  FROM q JOIN planes p ON p.i = q.i
        |  GROUP BY q.vec_id, p.j),
        |bkt AS (SELECT vec_id, SUM(b) AS bucket FROM bits GROUP BY 1),
        |e AS (
        |  SELECT vec_id, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |norms AS (
        |  SELECT vec_id, sqrt(SUM(CAST(v AS DOUBLE)*CAST(v AS DOUBLE)))
        |    AS nrm
        |  FROM e GROUP BY 1),
        |dots AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
        |    SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 20
        |  GROUP BY 1, 2),
        |cosv AS (
        |  SELECT query_id, cand_id, dot/(na.nrm*nb.nrm) AS cosv
        |  FROM dots JOIN norms na ON na.vec_id = query_id
        |  JOIN norms nb ON nb.vec_id = cand_id),
        |gt1 AS (
        |  SELECT query_id, cand_id AS true_top1 FROM (
        |    SELECT query_id, cand_id, ROW_NUMBER() OVER (
        |      PARTITION BY query_id ORDER BY cosv DESC, cand_id) AS rk
        |    FROM cosv) WHERE rk = 1),
        |ranked AS (
        |  SELECT c.query_id, c.cand_id, ROW_NUMBER() OVER (
        |    PARTITION BY c.query_id ORDER BY c.cosv DESC, c.cand_id)
        |    AS rk
        |  FROM cosv c
        |  JOIN bkt bq ON bq.vec_id = c.query_id
        |  JOIN bkt bc ON bc.vec_id = c.cand_id
        |    AND bc.bucket = bq.bucket)
        |SELECT g.query_id, g.true_top1,
        |  CAST(COALESCE(r.rk, 0) AS BIGINT) AS ann_rank,
        |  CAST(COALESCE(10000 // r.rk, 0) AS BIGINT) AS rr_bp
        |FROM gt1 g LEFT JOIN ranked r ON r.query_id = g.query_id
        |  AND r.cand_id = g.true_top1
        |ORDER BY g.query_id""".stripMargin)
}
