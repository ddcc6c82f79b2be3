package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import SketchSql.MStr

/** Thirty-eighth batch — evaluation harnesses for the dedup and
  * classification legs (the counterpart of s13/s16's ANN metrics):
  *
  *  - d27: LSH dedup recall eval — which exact near-dup pairs does a
  *    deliberately under-provisioned MinHash-LSH (8 hashes, 2 bands)
  *    still catch? Per-pair found flags against the exact Jaccard≥0.5
  *    truth; the (1−s^r)^b miss law made measurable. Signatures come
  *    from the portable mod-2^61-1 family, so the oracle replays every
  *    slot and band bucket.
  *  - t26: classifier agreement — Cohen's kappa between the t2 langid
  *    heuristic and the declared labels, in exact integer basis points
  *    (chance-corrected agreement; the label-audit metric a training
  *    pipeline tracks per batch).
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round38Queries extends QueryModule {

  // ── d27: truth = exact 3-gram Jaccard ≥ 0.5 via shingle postings
  //        (Σ count² per shingle, never corpus²); weak ANN = 2 bands ×
  //        4 portable-family slots, band key = the slot tuple itself
  //        (no engine-local band hashing — the oracle compares the
  //        same tuples). found ⇔ the pair shares ≥1 band. ──────────────
  def d27_dedup_recall(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{NativeExprs, Text}
    val base = graft.Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id").as("id"),
        array_distinct(Text.shingles(col("text"), 3)).as("shs"),
        NativeExprs.minhashSigPortable(Text.shingles(col("text"), 3), 8)
          .as("sig"))
      .withColumn("n_sh", size(col("shs")))
      .localCheckpoint()
    val post = base.select(col("id"), explode(col("shs")).as("sh"))
    val truth = post.as("a")
      .join(post.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter_sh"))
      .join(base.select(col("id").as("id_a"), col("n_sh").as("na")), "id_a")
      .join(base.select(col("id").as("id_b"), col("n_sh").as("nb")), "id_b")
      .withColumn("union_sh",
        (col("na") + col("nb")).cast(LongType) - col("inter_sh"))
      .filter(col("inter_sh") * 2 >= col("union_sh"))
      .select(col("id_a"), col("id_b"), col("inter_sh"), col("union_sh"))
    val bands = base.select(col("id"),
        explode(array((0 until 2).map { b =>
          struct(lit(b).as("band"),
            concat_ws(",", expr(s"transform(slice(sig, ${b * 4 + 1}, 4), " +
              "x -> cast(x as string))")).as("key"))
        }: _*)).as("bs"))
      .select(col("id"), col("bs.band"), col("bs.key"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
      .withColumn("hit", lit(1))
    truth.join(cand, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), col("inter_sh"), col("union_sh"),
        col("hit").isNotNull.as("found"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // ── t26: Cohen's kappa of lang_pred vs lang_declared over the whole
  //        corpus. po − pe with the common n² denominator cross-
  //        multiplied away: kappa_bp = 10000·(agree·n − Σ row·col) /
  //        (n² − Σ row·col), sign-split so BOTH engines truncate toward
  //        zero (Spark `div` truncates; DuckDB `//` floors — they agree
  //        only on non-negative operands). ────────────────────────────
  def t26_classifier_agreement(s: SparkSession, dir: String): DataFrame = {
    val pred = ExtensionQueries.t2_langid(s, dir)
      .select(col("lang_pred"), col("lang_declared"))
      .localCheckpoint()
    val totals = pred.agg(count(lit(1)).as("n"),
      sum(when(col("lang_pred") === col("lang_declared"), 1L)
        .otherwise(0L)).as("n_agree"))
    val rows = pred.groupBy(col("lang_declared").as("label"))
      .agg(count(lit(1)).as("row_tot"))
    val cols = pred.groupBy(col("lang_pred").as("label"))
      .agg(count(lit(1)).as("col_tot"))
    val rc = rows.join(cols, Seq("label"), "full_outer")
      .agg(coalesce(sum(coalesce(col("row_tot"), lit(0L)) *
        coalesce(col("col_tot"), lit(0L))), lit(0L)).as("sum_rc"))
    totals.crossJoin(rc)
      .withColumn("num", col("n_agree") * col("n") - col("sum_rc"))
      .withColumn("den", col("n") * col("n") - col("sum_rc"))
      .select(col("n"), col("n_agree"), col("sum_rc"),
        expr("""CASE WHEN num >= 0 THEN (num * 10000) div den
               |     ELSE -(((-num) * 10000) div den) END""".stripMargin)
          .as("kappa_bp"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d27_dedup_recall"         -> (d27_dedup_recall _),
    "t26_classifier_agreement" -> (t26_classifier_agreement _))

  /** First 8 portable minhash multipliers: B2^(j+1) mod 2^61−1. */
  private val mhFam8: String =
    (0 until 8).map(j =>
      s"($j, ${BigInt(1000033).modPow(BigInt(j + 1), BigInt(MStr))})")
      .mkString(", ")

  val oracles: Map[String, String] = Map(
    "d27_dedup_recall" ->
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
        |fam(j, pj) AS (VALUES $mhFam8),
        |sig AS (
        |  SELECT doc_id, fam.j,
        |    MIN(CAST((CAST(fam.pj AS HUGEINT) * hs.h0) % $MStr AS BIGINT))
        |      AS mh
        |  FROM hs CROSS JOIN fam GROUP BY 1, 2),
        |bands AS (
        |  SELECT doc_id, j // 4 AS band,
        |    array_to_string(list(mh ORDER BY j), ',') AS key
        |  FROM sig GROUP BY doc_id, j // 4),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |truth AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(COUNT(*) AS BIGINT) AS inter_sh,
        |    CAST(MIN(sa.n + sb.n) AS BIGINT) - COUNT(*) AS union_sh
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |    AND a.doc_id < b.doc_id
        |  JOIN sizes sa ON sa.doc_id = a.doc_id
        |  JOIN sizes sb ON sb.doc_id = b.doc_id
        |  GROUP BY 1, 2
        |  HAVING CAST(COUNT(*) AS BIGINT) * 2 >=
        |    CAST(MIN(sa.n + sb.n) AS BIGINT) - COUNT(*))
        |SELECT t.id_a, t.id_b, t.inter_sh, t.union_sh,
        |  c.id_a IS NOT NULL AS found
        |FROM truth t LEFT JOIN cand c
        |  ON c.id_a = t.id_a AND c.id_b = t.id_b
        |ORDER BY t.id_a, t.id_b""".stripMargin,
    "t26_classifier_agreement" ->
      s"""WITH p AS (
        |  SELECT lang_pred, lang_declared FROM (
        |${ExtensionQueries.oracles("t2_langid")}
        |  )),
        |tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN lang_pred = lang_declared THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_agree
        |  FROM p),
        |r AS (SELECT lang_declared AS label, COUNT(*) AS row_tot FROM p
        |      GROUP BY 1),
        |c AS (SELECT lang_pred AS label, COUNT(*) AS col_tot FROM p
        |      GROUP BY 1),
        |rc AS (
        |  SELECT CAST(COALESCE(SUM(COALESCE(r.row_tot, 0) *
        |    COALESCE(c.col_tot, 0)), 0) AS BIGINT) AS sum_rc
        |  FROM r FULL OUTER JOIN c ON c.label = r.label)
        |SELECT tot.n, tot.n_agree, rc.sum_rc,
        |  CASE WHEN tot.n_agree * tot.n - rc.sum_rc >= 0
        |    THEN ((tot.n_agree * tot.n - rc.sum_rc) * 10000)
        |      // (tot.n * tot.n - rc.sum_rc)
        |    ELSE -(((rc.sum_rc - tot.n_agree * tot.n) * 10000)
        |      // (tot.n * tot.n - rc.sum_rc)) END AS kappa_bp
        |FROM tot CROSS JOIN rc""".stripMargin)
}
