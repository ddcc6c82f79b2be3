package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import SketchSql.MStr

/** Sixty-third batch — LSH parameter economics and merge-on-read:
  *
  *  - d33: LSH band-tuning curve — the measurement a dedup deployment
  *    makes before fixing (b, r): from ONE shared 32-slot MinHash
  *    signature table, three bandings (4×8, 8×4, 16×2) each generate
  *    their candidate pairs (band key = the r raw slot VALUES, joined
  *    as a string — no engine-local hash, so the oracle replays the
  *    exact candidate set), scored against the exact Jaccard ≥ 0.5
  *    pairs: recall and precision in integer basis points per config.
  *    The empirical S-curve trade (more rows per band ⟹ fewer, cleaner
  *    candidates) read off real data instead of the formula.
  *  - p38: merge-on-read vs copy-on-write — the two lakehouse update
  *    strategies side by side: tombstone deletes + balance-delta
  *    upserts applied at READ time (anti-join + left-join-coalesce
  *    over the base artifact) versus a compacted REWRITE; the audit
  *    proves row-for-row equality (count and exact cent sums) and
  *    reports the bookkeeping (deleted/updated/live). p13's upsert and
  *    p17's CDC applied the changes; this one pins that both
  *    application strategies converge.
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round63Queries extends QueryModule {

  private val pairsBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The exact ≥0.5-Jaccard near-dup pair table as a persisted artifact —
    * the d2 pipeline's output, computed once per corpus (memoized like
    * s7's IVF index and a12's dyadic rollup, surfaced through
    * `prebuildArtifacts`' artifact_build_sec). d33's recall scoring,
    * d34's medoid weights and d35's threshold sweep all consume it; in
    * production the pair table IS a maintained artifact, not a per-query
    * recomputation. */
  private[queries] def exactPairsDir(s: SparkSession, dir: String): String =
    pairsBuilt.computeIfAbsent(dir, _ => {
      val out = graft.Scratch.dir("exact_pairs", dir)
      graft.sinks.ParquetSink.write(
        graft.operators.Dedup.ngramJaccard(Tables.load(s, dir, "documents"),
          "doc_id", "text", n = 3, threshold = 0.5), out)
      out
    })

  private val Configs = Seq((4, 8), (8, 4), (16, 2)) // (bands, r), b·r = 32

  def d33_lsh_tuning(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    import graft.functions.{NativeExprs, Text}
    val docs = Tables.load(s, dir, "documents")
    // the PORTABLE family (d20's) — the oracle replays every slot, so
    // candidate sets must be value-identical, not just engine-internal
    val sig = docs
      // shingle-less docs carry the all-sentinel signature and would
      // spuriously pair with each other; the oracle's sig CTE simply has
      // no rows for them — mirror that
      .filter(size(Text.shingles(col("text"), 3)) > 0)
      .select(col("doc_id").as("id"),
        NativeExprs.minhashSigPortable(Text.shingles(col("text"), 3), 32)
          .as("sig"))
      .localCheckpoint(true)
    val exact = s.read.parquet(exactPairsDir(s, dir))
      .select(col("id_a"), col("id_b"), lit(true).as("is_true"))
    // ONE exploded band table carries all three configs (config tag in
    // the key), so candidate generation is a single self-equi-join and
    // the whole curve is one lazy plan — no per-config driver actions
    val bandCols = Configs.flatMap { case (bands, r) =>
      (0 until bands).map { b =>
        struct(lit(bands).as("bands"), lit(b).as("band"),
          concat_ws(",", expr(s"transform(slice(sig, ${b * r + 1}, $r)," +
            " x -> cast(x as string))")).as("bkey"))
      }
    }
    val bnd = sig.select(col("id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("id"), col("bs.bands").as("bands"),
        col("bs.band").as("band"), col("bs.bkey").as("bkey"))
    val cand = bnd.as("x").join(bnd.as("y"),
        col("x.bands") === col("y.bands") && col("x.band") === col("y.band") &&
          col("x.bkey") === col("y.bkey") && col("x.id") < col("y.id"))
      .select(col("x.bands").as("bands"), col("x.id").as("id_a"),
        col("y.id").as("id_b"))
      .distinct()
    val perConfig = cand
      .join(exact, Seq("id_a", "id_b"), "left")
      .groupBy(col("bands"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("is_true"), 1L).otherwise(0L)).as("n_captured"))
    val spark = s
    import spark.implicits._
    val configDf = Configs.map { case (b, r) => (b.toLong, r.toLong) }
      .toDF("bands", "r")
    configDf.join(perConfig, Seq("bands"), "left")
      .crossJoin(broadcast(exact.agg(count(lit(1)).as("n_exact"))))
      .select(col("bands"), col("r"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_captured"), lit(0L)).as("n_captured"),
        col("n_exact"))
      .withColumn("recall_bp",
        expr("case when n_exact = 0 then 0 else n_captured * 10000 div n_exact end"))
      .withColumn("precision_bp",
        expr("case when n_candidates = 0 then 0" +
          " else n_captured * 10000 div n_candidates end"))
      .orderBy(col("bands"))
  }

  def p38_merge_on_read(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "customer").select(col("c_custkey").as("id"),
      expr("cast(round(c_acctbal * 100) as bigint)").as("balc"))
    val deletes = base.filter(col("id") % 7 === 3).select(col("id"))
    val updates = base.filter(col("id") % 5 === 0)
      .select(col("id"), (col("balc") + 1000L).as("new_balc"))
    // merge-on-read: apply at query time
    val mor = base.join(deletes, Seq("id"), "left_anti")
      .join(updates, Seq("id"), "left")
      .select(col("id"), coalesce(col("new_balc"), col("balc")).as("balc"))
    // copy-on-write: materialize the rewrite, then read it back
    val cowDir = graft.Scratch.dir("p38_cow", dir)
    graft.sinks.ParquetSink.write(mor, cowDir)
    val cow = s.read.parquet(cowDir)
    val morAgg = mor.agg(count(lit(1)).as("n_live_mor"),
      sum(col("balc")).as("sum_balc_mor"))
    val cowAgg = cow.agg(count(lit(1)).as("n_live_cow"),
      sum(col("balc")).as("sum_balc_cow"))
    base.agg(count(lit(1)).as("n_base"))
      .crossJoin(deletes.agg(count(lit(1)).as("n_deleted")))
      .crossJoin(updates.join(deletes, Seq("id"), "left_anti")
        .agg(count(lit(1)).as("n_updated_live")))
      .crossJoin(morAgg).crossJoin(cowAgg)
      .withColumn("strategies_agree",
        col("n_live_mor") === col("n_live_cow") &&
          col("sum_balc_mor") === col("sum_balc_cow"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d33_lsh_tuning"    -> (d33_lsh_tuning _),
    "p38_merge_on_read" -> (p38_merge_on_read _))

  /** Same 32-multiplier portable minhash family as d20's oracle. */
  private val mhFam: String =
    (0 until 32).map(j =>
      s"($j, ${BigInt(1000033).modPow(BigInt(j + 1), BigInt(MStr))})")
      .mkString(", ")

  private def configCtes(bands: Int, r: Int): String =
    s"""bnd_$bands AS (
       |  SELECT doc_id, j // $r AS band,
       |    STRING_AGG(CAST(mh AS VARCHAR), ',' ORDER BY j) AS bkey
       |  FROM sig GROUP BY doc_id, j // $r),
       |cand_$bands AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bnd_$bands a JOIN bnd_$bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |row_$bands AS (
       |  SELECT CAST($bands AS BIGINT) AS bands, CAST($r AS BIGINT) AS r,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_$bands)
       |      AS n_candidates,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_$bands c
       |     WHERE EXISTS (SELECT 1 FROM exact e
       |       WHERE e.id_a = c.id_a AND e.id_b = c.id_b)) AS n_captured,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact)""".stripMargin

  val oracles: Map[String, String] = Map(
    "d33_lsh_tuning" ->
      s"""WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w,
        |    generate_subscripts(string_split_regex(trim(text), '\\s+'), 1)
        |      AS pos
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, w || ' ' || w2 || ' ' || w3 AS shingle
        |  FROM (
        |    SELECT doc_id, w,
        |      lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
        |      lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
        |    FROM tok) WHERE w2 IS NOT NULL AND w3 IS NOT NULL),
        |hs AS (
        |  SELECT doc_id, shingle,
        |    list_reduce(list_transform(range(1, length(shingle) + 1),
        |        p -> CAST(ord(substr(shingle, CAST(p AS INT), 1)) AS HUGEINT)),
        |      (h, c) -> (h * 1000003 + c) % $MStr) AS h0
        |  FROM sh),
        |fam(j, pj) AS (VALUES $mhFam),
        |sig AS (
        |  SELECT doc_id, fam.j,
        |    MIN(CAST((CAST(fam.pj AS HUGEINT) * hs.h0) % $MStr AS BIGINT))
        |      AS mh
        |  FROM hs CROSS JOIN fam GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(COUNT(*) AS BIGINT) AS inter_sh
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |exact AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE inter_sh * 2 >= CAST(sa.n + sb.n AS BIGINT) - inter_sh),
        |${Configs.map { case (b, r) => configCtes(b, r) }.mkString(",\n")}
        |SELECT bands, r, n_candidates, n_captured, n_exact,
        |  CASE WHEN n_exact = 0 THEN 0
        |       ELSE n_captured * 10000 // n_exact END AS recall_bp,
        |  CASE WHEN n_candidates = 0 THEN 0
        |       ELSE n_captured * 10000 // n_candidates END AS precision_bp
        |FROM (${Configs.map { case (b, _) => s"SELECT * FROM row_$b" }
          .mkString(" UNION ALL ")})
        |ORDER BY bands""".stripMargin,
    "p38_merge_on_read" ->
      """WITH base AS (
        |  SELECT c_custkey AS id,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS balc
        |  FROM customer),
        |mor AS (
        |  SELECT b.id,
        |    CASE WHEN b.id % 5 = 0 THEN b.balc + 1000 ELSE b.balc END
        |      AS balc
        |  FROM base b WHERE b.id % 7 <> 3)
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM base) AS n_base,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM base WHERE id % 7 = 3)
        |    AS n_deleted,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM base
        |   WHERE id % 5 = 0 AND id % 7 <> 3) AS n_updated_live,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM mor) AS n_live_mor,
        |  (SELECT CAST(SUM(balc) AS BIGINT) FROM mor) AS sum_balc_mor,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM mor) AS n_live_cow,
        |  (SELECT CAST(SUM(balc) AS BIGINT) FROM mor) AS sum_balc_cow,
        |  TRUE AS strategies_agree""".stripMargin)
}
