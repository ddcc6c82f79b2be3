package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}
import graft.Tables

/** Seventy-fourth batch — edit-distance dedup refinement, smoothed
  * language modeling, and RFM segmentation:
  *
  *  - d37: Levenshtein refinement of the near-dup candidate set. The
  *    persisted ≥0.5-Jaccard pair artifact (Round63Queries.exactPairsDir
  *    — shingle overlap, order-insensitive) is re-scored with true edit
  *    distance (order-SENSITIVE): `levenshtein` is built into both
  *    engines, the corpus is ASCII (char semantics can't diverge), and
  *    `edit_sim_bp = (maxlen − lev)·10⁴ div maxlen` stays integer-exact.
  *    The production shape of "candidates from a cheap set measure,
  *    verdicts from an expensive sequence measure": the O(n·m) DP runs
  *    only on artifact pairs, never the corpus cross-product.
  *  - t42: bigram Kneser-Ney smoothing — the LM behind CCNet-style
  *    quality filtering — in EXACT scaled-integer arithmetic. With
  *    discount d = 3/4: P_KN(w2|w1) = max(c12−d,0)/c1 +
  *    d·N1+(w1,·)/c1 · N1+(·,w2)/N1+(··), so scaling by 4·c1·N1+(··)
  *    makes the numerator max(4·c12−3,0)·Nall + 3·N1f·N1b — all BIGINT,
  *    emitted as ppm via integer division (both engines truncate; all
  *    terms positive). Continuation counts (distinct-predecessor mass)
  *    are what distinguish KN from plain discounting, and they're one
  *    extra groupBy each.
  *  - q114: RFM (recency/frequency/monetary) customer segmentation —
  *    ntile(4) quartiles per axis with custkey tiebreaks for a total
  *    (engine-portable) order, monetary in exact cents, reported as the
  *    ≤64-cell segment census. Three window passes over one per-customer
  *    aggregate; the census is a second tiny aggregate.
  *
  * Reference scope: beyond-reference LLM-pipeline + analytics surface
  * (the reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round74Queries extends QueryModule {

  // ── d37: edit-distance refinement of the near-dup pair artifact ───────

  def d37_edit_distance_refine(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    val pairs = s.read.parquet(Round63Queries.exactPairsDir(s, dir))
      .select(col("id_a"), col("id_b"))
    val lev = levenshtein(col("text_a"), col("text_b"))
    val maxLen = greatest(length(col("text_a")), length(col("text_b")))
      .cast(LongType)
    pairs
      .join(docs.select(col("doc_id").as("id_a"), col("text").as("text_a")),
        "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("text").as("text_b")),
        "id_b")
      .select(col("id_a"), col("id_b"), lev.cast(LongType).as("lev"),
        ((maxLen - lev) * 10000L).as("num"), maxLen.as("ml"))
      .select(col("id_a"), col("id_b"), col("lev"),
        expr("num div ml").as("edit_sim_bp"),
        expr("num div ml >= 8000").as("is_near"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // ── t42: bigram Kneser-Ney, exact scaled integers ─────────────────────

  def t42_kneser_ney(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val docs = Tables.load(s, dir, "documents")
    val bi = docs.select(explode(Text.shingles(col("text"), 2)).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("cb"))
      .withColumn("w1", element_at(split(col("b"), " "), 1))
      .withColumn("w2", element_at(split(col("b"), " "), 2))
    val ctx = bi.groupBy(col("w1"))
      .agg(sum(col("cb")).as("c1"), count(lit(1)).as("n1f"))
    val bck = bi.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
    val nall = bi.agg(count(lit(1)).as("nall"))
    val scored = bi
      .join(ctx, "w1").join(bck, "w2").crossJoin(broadcast(nall))
      .select(col("b").as("bigram"), col("cb").as("n_xy"),
        col("c1").as("c_ctx"), col("n1f").as("n1_fwd"),
        col("n1b").as("n1_back"),
        expr("((greatest(4 * cb - 3, 0) * nall + 3 * n1f * n1b) * 1000000)" +
          " div (4 * c1 * nall)").as("p_kn_ppm"))
    scored.orderBy(col("n_xy").desc, col("bigram")).limit(20)
      .withColumn("rk",
        row_number().over(Window.orderBy(col("n_xy").desc, col("bigram")))
          .cast(LongType))
      .orderBy(col("rk"))
  }

  // ── q114: RFM quartile segmentation census ────────────────────────────

  def q114_rfm_segments(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
    val maxDate = orders.agg(max(col("o_orderdate").cast("date")).as("d_max"))
    val per = orders
      .groupBy(col("o_custkey").as("custkey"))
      .agg(max(col("o_orderdate").cast("date")).as("d_last"),
        count(lit(1)).as("f_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast(LongType).as("m_cents"))
      .crossJoin(broadcast(maxDate))
      .select(col("custkey"),
        datediff(col("d_max"), col("d_last")).cast(LongType).as("r_days"),
        col("f_orders"), col("m_cents"))
    // ntile(4) over an empty partition spec would funnel the per-customer
    // frame (corpus-proportional) through one task per axis. Each axis
    // instead gets a Rank.globalRank (range-partitioned sort + broadcast
    // offsets) and the exact ntile arithmetic on (rank, n): the first
    // n%4 buckets take n/4+1 rows, the rest n/4 — Spark's documented
    // ntile remainder rule, reproduced in integers.
    val cnt = per.agg(count(lit(1)).as("n"))
    val rkd = graft.operators.Rank.globalRank(
      graft.operators.Rank.globalRank(
        graft.operators.Rank.globalRank(per,
          "rk_r", col("r_days"), col("custkey")),
        "rk_f", col("f_orders"), col("custkey")),
      "rk_m", col("m_cents"), col("custkey"))
      .crossJoin(broadcast(cnt))
    def tile(rk: String): org.apache.spark.sql.Column = expr(
      s"""CASE WHEN $rk <= (n % 4) * (n div 4 + 1)
         |  THEN ($rk - 1) div (n div 4 + 1) + 1
         |  ELSE (n % 4) + ($rk - 1 - (n % 4) * (n div 4 + 1))
         |       div (n div 4) + 1 END""".stripMargin)
    val q = rkd.select(col("custkey"), col("m_cents"),
      tile("rk_r").as("r_q"), tile("rk_f").as("f_q"),
      tile("rk_m").as("m_q"))
    q.groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("m_cents")).as("total_cents"))
      .orderBy(col("r_q"), col("f_q"), col("m_q"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d37_edit_distance_refine" -> (d37_edit_distance_refine _),
    "t42_kneser_ney"           -> (t42_kneser_ney _),
    "q114_rfm_segments"        -> (q114_rfm_segments _))

  /** The d33 oracle's exact-pair derivation (J ≥ 0.5 ⇔ 2·inter ≥ union),
    * shared shape — the oracle recomputes the artifact from raw. */
  private val pairCtes =
    raw"""tok AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w,
      |    generate_subscripts(string_split_regex(trim(text), '\s+'), 1)
      |      AS pos
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, w || ' ' || w2 || ' ' || w3 AS shingle
      |  FROM (
      |    SELECT doc_id, w,
      |      lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
      |      lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
      |    FROM tok) WHERE w2 IS NOT NULL AND w3 IS NOT NULL),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(COUNT(*) AS BIGINT) AS inter_sh
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT id_a, id_b FROM inter
      |  JOIN sizes sa ON sa.doc_id = id_a
      |  JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE inter_sh * 2 >= CAST(sa.n + sb.n AS BIGINT) - inter_sh)""".stripMargin

  val oracles: Map[String, String] = Map(
    "d37_edit_distance_refine" ->
      s"""WITH $pairCtes
        |SELECT p.id_a, p.id_b,
        |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
        |  ((GREATEST(length(da.text), length(db.text)) -
        |    levenshtein(da.text, db.text)) * 10000)
        |    // GREATEST(length(da.text), length(db.text)) AS edit_sim_bp,
        |  ((GREATEST(length(da.text), length(db.text)) -
        |    levenshtein(da.text, db.text)) * 10000)
        |    // GREATEST(length(da.text), length(db.text)) >= 8000 AS is_near
        |FROM pairs p
        |JOIN documents da ON da.doc_id = p.id_a
        |JOIN documents db ON db.doc_id = p.id_b
        |ORDER BY p.id_a, p.id_b""".stripMargin,
    "t42_kneser_ney" ->
      raw"""WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w,
        |    generate_subscripts(string_split_regex(trim(text), '\s+'), 1)
        |      AS pos
        |  FROM documents),
        |seq AS (
        |  SELECT doc_id, pos, w,
        |    LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM tok),
        |bi AS (
        |  SELECT w || ' ' || w2 AS b, w AS w1, w2,
        |    CAST(COUNT(*) AS BIGINT) AS cb
        |  FROM seq WHERE w2 IS NOT NULL GROUP BY 1, 2, 3),
        |ctx AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS c1,
        |  CAST(COUNT(*) AS BIGINT) AS n1f FROM bi GROUP BY 1),
        |bck AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b
        |  FROM bi GROUP BY 1),
        |nall AS (SELECT CAST(COUNT(*) AS BIGINT) AS nall FROM bi),
        |scored AS (
        |  SELECT b AS bigram, cb AS n_xy, ctx.c1 AS c_ctx,
        |    ctx.n1f AS n1_fwd, bck.n1b AS n1_back,
        |    ((GREATEST(4*cb - 3, 0) * nall.nall + 3 * ctx.n1f * bck.n1b)
        |      * 1000000) // (4 * ctx.c1 * nall.nall) AS p_kn_ppm
        |  FROM bi JOIN ctx ON ctx.w1 = bi.w1
        |    JOIN bck ON bck.w2 = bi.w2 CROSS JOIN nall),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (ORDER BY n_xy DESC, bigram) AS rk
        |  FROM scored)
        |SELECT bigram, n_xy, c_ctx, n1_fwd, n1_back, p_kn_ppm,
        |  CAST(rk AS BIGINT) AS rk
        |FROM ranked WHERE rk <= 20 ORDER BY rk""".stripMargin,
    "q114_rfm_segments" ->
      """WITH per AS (
        |  SELECT o_custkey AS custkey,
        |    CAST(datediff('day', MAX(CAST(o_orderdate AS DATE)),
        |      (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders))
        |      AS BIGINT) AS r_days,
        |    CAST(COUNT(*) AS BIGINT) AS f_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
        |      AS m_cents
        |  FROM orders GROUP BY 1),
        |q AS (
        |  SELECT custkey, m_cents,
        |    CAST(NTILE(4) OVER (ORDER BY r_days, custkey) AS BIGINT) AS r_q,
        |    CAST(NTILE(4) OVER (ORDER BY f_orders, custkey) AS BIGINT) AS f_q,
        |    CAST(NTILE(4) OVER (ORDER BY m_cents, custkey) AS BIGINT) AS m_q
        |  FROM per)
        |SELECT r_q, f_q, m_q, CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(m_cents) AS BIGINT) AS total_cents
        |FROM q GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin)
}
