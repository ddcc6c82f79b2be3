package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import SketchSql.MStr

/** Eighteenth batch — integer HyperLogLog, bottleneck paths, and
  * normalization-aware dedup:
  *
  *  - a7: HyperLogLog distinct count with the whole register pipeline in
  *    exact integer arithmetic (trailing-zero ranks via a power-of-two
  *    dictionary join, the harmonic mean as one exact big-integer
  *    division) — completing the cardinality-sketch family next to
  *    a5's KMV.
  *  - q80: widest (maximum-bottleneck) path over nation-flow capacities
  *    ([[graft.operators.Graph.widestPath]]) — sssp's capacity dual.
  *  - d21: exact dedup AFTER text normalization (case-fold, punctuation
  *    strip, whitespace collapse) — the CCNet/RefinedWeb-style first
  *    pass that plain d1 hashing misses; exercised against a corpus
  *    where every doc has a shouty punctuated twin.
  *
  * Reference scope: extension beyond the reference surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round18Queries extends QueryModule {

  // ── a7: one pass builds 64 registers (bucket = h mod 64, rank =
  //        1-based lowest-set-bit position of h div 64 — a broadcast join
  //        against 55 powers of two, no float log anywhere). The raw HLL
  //        estimate α·m²/Σ2^(−r) is evaluated as ONE exact integer
  //        division with the sum scaled by 2^56 (T ≤ 64·2^56 < 2^63),
  //        via BigInt on the single aggregated row — so DuckDB's HUGEINT
  //        replays it bit for bit. No small-range correction: that branch
  //        needs ln(); the raw estimator is deterministic and documented.
  def a7_hll_distinct(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CountMin
    import s.implicits._
    val keys = Tables.load(s, dir, "lineitem").select(col("l_partkey").as("k"))
    val pow2 = Seq.tabulate(55)(e => (1L << e, e + 1)).toDF("p", "r")
    val regs = keys
      .select(CountMin.mix61(col("k"), 1299709L, 104729L).as("h"))
      .select(expr("h % 64").as("bkt"), expr("h div 64").as("v"))
      .withColumn("lsb", expr("v & -v"))
      .join(broadcast(pow2), col("lsb") === col("p"), "left")
      .select(col("bkt"), coalesce(col("r"), lit(56)).as("r"))
      .groupBy(col("bkt")).agg(max(col("r")).as("rmax"))
    val hllEst = udf((tPresent: Long, nb: Long) => {
      val t56 = BigInt(tPresent) + BigInt(64 - nb) * BigInt(2).pow(56)
      ((BigInt(2904064) * BigInt(2).pow(56)) / (BigInt(1000) * t56)).toLong
    })
    regs.agg(
        sum(expr("shiftleft(cast(1 as bigint), 56 - rmax)")).as("tp"),
        count(lit(1)).as("nb"))
      .select(hllEst(col("tp"), col("nb")).as("hll_est"),
        (col("tp") + (lit(64L) - col("nb")) * expr(
          "shiftleft(cast(1 as bigint), 56)")).as("t56"),
        (lit(64L) - col("nb")).as("zero_registers"))
      .crossJoin(keys.agg(countDistinct(col("k")).as("exact_distinct")))
  }

  // ── q80: max-bottleneck capacity from nation 3 over supplier→customer
  //        flow edges (capacity = MAX shipped quantity, deterministically
  //        sparsified; source 3 keeps out-edges at every SF — nation 0
  //        loses all of its at sf0.001). Caps only grow and live in the
  //        finite weight set, so the oracle's recursive walk terminates
  //        by state dedup. ─────────────────────────────────────────────
  def q80_widest_path(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val li = Tables.load(s, dir, "lineitem")
    val su = Tables.load(s, dir, "supplier")
    val or = Tables.load(s, dir, "orders")
    val cu = Tables.load(s, dir, "customer")
    val edges = li
      .join(su, li("l_suppkey") === su("s_suppkey"))
      .join(or, li("l_orderkey") === or("o_orderkey"))
      .join(cu, or("o_custkey") === cu("c_custkey"))
      .filter(col("s_nationkey") =!= col("c_nationkey"))
      .groupBy(col("s_nationkey").cast(LongType).as("src"),
        col("c_nationkey").cast(LongType).as("dst"))
      .agg(max(col("l_quantity")).cast(LongType).as("w"))
      .filter(pmod(col("src") * 3 + col("dst") * 7, lit(5L)) < 2)
    graft.operators.Graph.widestPath(edges, source = 3L, maxIters = 30)
      .filter(col("node") =!= 3L)
      .select(col("node"), col("cap").as("bottleneck"))
      .orderBy(col("node"))
  }

  // ── d21: normalization-aware exact dedup. The corpus is each document
  //        plus a deterministic variant (uppercased, "!!" appended,
  //        doc_id + 10^6); raw md5 sees 2N distinct texts, the
  //        normalized fingerprint (lower → strip non-[a-z0-9 ] → collapse
  //        spaces → trim) merges every pair. One hash-aggregate on the
  //        normalized digest — d1's shuffle shape with a codegen'd
  //        normalization chain in the map stage. ─────────────────────────
  def d21_normalized_dedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    val variants = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(upper(col("text")), lit(" !!")).as("text"))
    docs.unionByName(variants)
      .select(col("doc_id"),
        md5(trim(regexp_replace(regexp_replace(lower(col("text")),
          "[^a-z0-9 ]", ""), " +", " "))).as("norm_md5"))
      .groupBy(col("norm_md5"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"),
        max(col("doc_id")).as("drop_id"))
      .filter(col("n_docs") > 1)
      .orderBy(col("keep_id"))
  }

  // ── q81: top-2 orders per customer through the CUSTOM planner path
  //        ([[graft.operators.TopK]] → TopKPerKeyPlan → strategy →
  //        partial/final bounded-heap execs): the window-free top-k.
  //        The oracle is the window formulation — semantics equality is
  //        exactly what's being hash-checked. ───────────────────────────
  def q81_topk_per_key(s: SparkSession, dir: String): DataFrame =
    graft.operators.TopK.perKey(
        Tables.load(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice")),
        keyCols = Seq("o_custkey"), orderCol = "o_totalprice",
        tieCol = "o_orderkey", k = 2)
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a7_hll_distinct"      -> (a7_hll_distinct _),
    "q80_widest_path"      -> (q80_widest_path _),
    "q81_topk_per_key"     -> (q81_topk_per_key _),
    "d21_normalized_dedup" -> (d21_normalized_dedup _))

  /** (2^e, rank e+1) rows for the oracle's trailing-zero dictionary. */
  private val pow2Rows: String =
    (0 until 55).map(e => s"(${1L << e}, ${e + 1})").mkString(", ")

  /** 2904064 · 2^56 — the α·m² numerator pre-scaled by the register
    * denominator, as one exact literal both engines share. */
  private val hllNum: String =
    (BigInt(2904064) * BigInt(2).pow(56)).toString

  val oracles: Map[String, String] = Map(
    "a7_hll_distinct" ->
      s"""WITH hv AS (
        |  SELECT ${SketchSql.mix("l_partkey", "1299709", "104729")} AS h
        |  FROM lineitem),
        |hb AS (SELECT h % 64 AS bkt, h // 64 AS v FROM hv),
        |p2(p, r) AS (VALUES $pow2Rows),
        |regs AS (
        |  SELECT bkt, MAX(COALESCE(p2.r, 56)) AS rmax
        |  FROM hb LEFT JOIN p2 ON (hb.v & (-hb.v)) = p2.p
        |  GROUP BY bkt),
        |agg AS (
        |  SELECT CAST(SUM(1::BIGINT << (56 - rmax)) AS BIGINT) AS tp,
        |    COUNT(*) AS nb
        |  FROM regs),
        |sel AS (
        |  SELECT CAST(tp + (64 - nb) * (1::BIGINT << 56) AS BIGINT) AS t56,
        |    CAST(64 - nb AS BIGINT) AS zero_registers
        |  FROM agg),
        |ex AS (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT)
        |         AS exact_distinct FROM lineitem)
        |SELECT CAST($hllNum::HUGEINT // (1000::HUGEINT * sel.t56) AS BIGINT)
        |    AS hll_est,
        |  sel.t56, sel.zero_registers, ex.exact_distinct
        |FROM sel CROSS JOIN ex""".stripMargin,
    "q80_widest_path" ->
      """WITH RECURSIVE edges AS (
        |  SELECT src, dst, w FROM (
        |    SELECT CAST(s.s_nationkey AS BIGINT) AS src,
        |      CAST(c.c_nationkey AS BIGINT) AS dst,
        |      CAST(MAX(l.l_quantity) AS BIGINT) AS w
        |    FROM lineitem l
        |    JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |    JOIN orders o ON l.l_orderkey = o.o_orderkey
        |    JOIN customer c ON o.o_custkey = c.c_custkey
        |    WHERE s.s_nationkey <> c.c_nationkey
        |    GROUP BY 1, 2)
        |  WHERE (src * 3 + dst * 7) % 5 < 2),
        |walk(node, b) AS (
        |  SELECT CAST(3 AS BIGINT) AS node,
        |    CAST(9223372036854775807 AS BIGINT) AS b
        |  UNION
        |  SELECT e.dst, LEAST(w.b, e.w)
        |  FROM walk w JOIN edges e ON e.src = w.node)
        |SELECT node, MAX(b) AS bottleneck FROM walk WHERE node <> 3
        |GROUP BY node ORDER BY node""".stripMargin,
    "q81_topk_per_key" ->
      """WITH ranked AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, o_totalprice
        |FROM ranked WHERE rn <= 2
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin,
    "d21_normalized_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, upper(text) || ' !!' FROM documents),
        |normed AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_md5
        |  FROM corpus)
        |SELECT norm_md5, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  MIN(doc_id) AS keep_id, MAX(doc_id) AS drop_id
        |FROM normed GROUP BY norm_md5 HAVING COUNT(*) > 1
        |ORDER BY keep_id""".stripMargin)
}
