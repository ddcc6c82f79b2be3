package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.streaming.Drain.drain
import SketchSql.MStr

/** Sixteenth batch — sketch-driven planning + weighted graph distance:
  *
  *  - a4: Count-Min join-size estimation (the AMS/CM inner product) —
  *    sizing a join from two tiny sketches without touching either table.
  *  - a5: KMV (k-minimum-values) distinct-count sketch — the mergeable
  *    order-statistics estimator, exact integer arithmetic end to end.
  *  - d20: MinHash Jaccard *estimation* held against exact Jaccard — the
  *    signature agreement fraction itself is the output, in the portable
  *    mod-2^61-1 family the oracle replays ([[graft.functions.NativeHash
  *    .minhashSigPortable]]).
  *  - q78: single-source shortest paths (distributed Bellman-Ford,
  *    [[graft.operators.Graph.sssp]]) over a weighted nation-flow graph.
  *  - e18: streaming Count-Min ingest — the sketch built as a streaming
  *    aggregation over micro-batches equals the batch sketch cell for
  *    cell (mergeability is the operator's defining property).
  *
  * Reference scope: extension beyond the reference surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round16Queries extends QueryModule {

  // ── a4: |events ⋈ orders on user key| estimated from two 3×65536-cell
  //        sketches. Inner product per hash row ≥ true size (collisions
  //        only add); min over rows is the bound the planner would use
  //        to pick broadcast vs shuffle at 100 TB. `over` pins the
  //        no-undercount guarantee. Width matters for MEANING, not just
  //        memory: E[overcount] = ΣA·ΣB/w, so w must dwarf
  //        (ΣA·ΣB)/|A⋈B| for the bound to be actionable — 65536 puts the
  //        expected slack near 2% here where 256 would bury the answer
  //        under a 6× additive term. ─────────────────────────────────────
  def a4_cms_join_size(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CountMin
    val aK = Tables.load(s, dir, "events").select(col("user_id").as("k"))
    val bK = Tables.load(s, dir, "orders").select(col("o_custkey").as("k"))
    val est = CountMin.joinSizeEstimate(
      CountMin.sketch(aK, CountMin.DefaultFamily, w = 65536),
      CountMin.sketch(bK, CountMin.DefaultFamily, w = 65536))
    val exact = aK.groupBy(col("k")).agg(count(lit(1)).as("ca"))
      .join(bK.groupBy(col("k")).agg(count(lit(1)).as("cb")), "k")
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L))
        .as("exact_join_size"))
    exact.crossJoin(est)
      .select(col("exact_join_size"), col("cm_join_est"),
        (col("cm_join_est") >= col("exact_join_size")).as("over"))
  }

  // ── a5: distinct l_partkey via the KMV order-statistics sketch: keep
  //        the 64 smallest distinct hash values (one TakeOrdered — a
  //        per-partition top-k then a 64-row merge, no global sort) and
  //        estimate (k−1)·2^48 / h_k by exact integer division. The
  //        sketch is mergeable (union = min-k of the unions), the
  //        fallback when fewer than k hashes exist is the exact count. ──
  def a5_kmv_distinct(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CountMin
    val kk = 64
    val m48 = 1L << 48
    val keys = Tables.load(s, dir, "lineitem").select(col("l_partkey").as("k"))
    val top = keys.select(
        pmod(CountMin.mix61(col("k"), 1299709L, 104729L), lit(m48)).as("h"))
      .distinct()
      .orderBy(col("h")).limit(kk)
      .agg(count(lit(1)).as("m"), max(col("h")).as("kth_hash"))
    top.crossJoin(keys.agg(countDistinct(col("k")).as("exact_distinct")))
      .select(lit(kk.toLong).as("sample_k"), col("kth_hash"),
        when(col("m") < kk, col("m"))
          .otherwise(expr(s"${(kk - 1).toLong * m48} div kth_hash"))
          .as("kmv_est"),
        col("exact_distinct"))
  }

  // ── d20: MinHash as an *estimator*, not just a candidate filter: for
  //        every pair with exact Jaccard ≥ 0.3 (integer-compared), emit
  //        the exact intersection/union alongside the number of agreeing
  //        signature slots (E[mh_matches/k] = Jaccard). Signatures come
  //        from the portable mod-2^61-1 family so the oracle recomputes
  //        every slot; one localCheckpoint feeds postings AND both
  //        signature lookups, so the corpus is shingled exactly once. ───
  def d20_minhash_jaccard_est(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{NativeExprs, Text}
    val k = 32
    val base = graft.Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id").as("id"),
        array_distinct(Text.shingles(col("text"), 3)).as("shs"),
        NativeExprs.minhashSigPortable(Text.shingles(col("text"), 3), k)
          .as("sig"))
      .withColumn("n_sh", size(col("shs")))
      .localCheckpoint()
    val postA = base.select(col("id").as("id_a"), explode(col("shs")).as("sh"))
    val postB = base.select(col("id").as("id_b"), explode(col("shs")).as("sh2"))
    val inter = postA
      .join(postB, col("sh") === col("sh2") && col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter_sh"))
    inter
      .join(base.select(col("id").as("id_a"), col("n_sh").as("na"),
        col("sig").as("sig_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("n_sh").as("nb"),
        col("sig").as("sig_b")), "id_b")
      .withColumn("union_sh",
        (col("na") + col("nb")).cast(LongType) - col("inter_sh"))
      .filter(col("inter_sh") * 10 >= col("union_sh") * 3)
      .select(col("id_a"), col("id_b"), col("inter_sh"), col("union_sh"),
        expr("CAST(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y)," +
          " v -> v)) AS BIGINT)").as("mh_matches"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // ── q78: shortest supply distance from nation 0 over a directed
  //        nation-flow graph (edge = supplier nation → customer nation,
  //        weight = min shipped quantity; deterministically sparsified so
  //        the graph isn't complete). Bellman-Ford: one relax join + one
  //        min-aggregate per round, early exit on stability. ────────────
  def q78_sssp(s: SparkSession, dir: String): DataFrame = {
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
      .agg(min(col("l_quantity")).cast(LongType).as("w"))
      .filter(pmod(col("src") * 7 + col("dst") * 3, lit(5L)) < 2)
    graft.operators.Graph.sssp(edges, source = 0L, maxIters = 30)
      .orderBy(col("node"))
  }

  // ── e18: the Count-Min sketch AS a streaming aggregation — complete-
  //        mode groupBy over the hashed cells; micro-batch partials merge
  //        because the sketch of a union is the cell-wise sum. The final
  //        cell table must equal the batch sketch exactly (and does: the
  //        oracle recomputes it from the batch table). ──────────────────
  def e18_stream_cms_ingest(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CountMin
    val stream = Tables.stream(s, dir, "lineitem")
    val cells = CountMin.sketch(stream.select(col("l_partkey").as("k")),
      CountMin.DefaultFamily, w = 256)
    drain(cells, "complete").orderBy(col("i"), col("b"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a4_cms_join_size"        -> (a4_cms_join_size _),
    "a5_kmv_distinct"         -> (a5_kmv_distinct _),
    "d20_minhash_jaccard_est" -> (d20_minhash_jaccard_est _),
    "q78_sssp"                -> (q78_sssp _),
    "e18_stream_cms_ingest"   -> (e18_stream_cms_ingest _))

  /** B2^(j+1) mod 2^61-1 for j=0..31 (B2=1000033) — the portable minhash
    * multipliers, so DuckDB replays every signature slot. */
  private val mhFam: String =
    (0 until 32).map(j =>
      s"($j, ${BigInt(1000033).modPow(BigInt(j + 1), BigInt(MStr))})")
      .mkString(", ")

  private val cmFam =
    "fam(i, a, b) AS (VALUES (0, 1299709, 104729), (1, 15485863, 1999)," +
      " (2, 32452843, 777767))"

  val oracles: Map[String, String] = Map(
    "a4_cms_join_size" ->
      s"""WITH $cmFam,
        |ka AS (SELECT user_id AS k FROM events),
        |kb AS (SELECT o_custkey AS k FROM orders),
        |ca AS (
        |  SELECT fam.i, ${SketchSql.bucket("ka.k", "fam.a", "fam.b", 65536)}
        |    AS bkt, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM ka CROSS JOIN fam GROUP BY 1, 2),
        |cb AS (
        |  SELECT fam.i, ${SketchSql.bucket("kb.k", "fam.a", "fam.b", 65536)}
        |    AS bkt, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM kb CROSS JOIN fam GROUP BY 1, 2),
        |ip AS (
        |  SELECT ca.i, SUM(ca.cnt * cb.cnt) AS ip
        |  FROM ca JOIN cb ON ca.i = cb.i AND ca.bkt = cb.bkt GROUP BY 1),
        |ex AS (
        |  SELECT CAST(SUM(x.c * y.c) AS BIGINT) AS exact_join_size
        |  FROM (SELECT k, COUNT(*) AS c FROM ka GROUP BY 1) x
        |  JOIN (SELECT k, COUNT(*) AS c FROM kb GROUP BY 1) y ON x.k = y.k)
        |SELECT ex.exact_join_size, CAST(MIN(ip.ip) AS BIGINT) AS cm_join_est,
        |  CAST(MIN(ip.ip) AS BIGINT) >= ex.exact_join_size AS over
        |FROM ip CROSS JOIN ex GROUP BY ex.exact_join_size""".stripMargin,
    "a5_kmv_distinct" ->
      s"""WITH hs AS (
        |  SELECT DISTINCT
        |    ${SketchSql.mix("l_partkey", "1299709", "104729")}
        |      % 281474976710656 AS h
        |  FROM lineitem),
        |top AS (SELECT h FROM hs ORDER BY h LIMIT 64),
        |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS m, MAX(h) AS kth_hash
        |        FROM top),
        |ex AS (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT)
        |         AS exact_distinct FROM lineitem)
        |SELECT CAST(64 AS BIGINT) AS sample_k, agg.kth_hash,
        |  CASE WHEN agg.m < 64 THEN agg.m
        |       ELSE 17732923532771328 // agg.kth_hash END AS kmv_est,
        |  ex.exact_distinct
        |FROM agg CROSS JOIN ex""".stripMargin,
    "d20_minhash_jaccard_est" ->
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
        |cand AS (
        |  SELECT id_a, id_b, inter_sh,
        |    CAST(sa.n + sb.n AS BIGINT) - inter_sh AS union_sh
        |  FROM inter JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE inter_sh * 10 >= (CAST(sa.n + sb.n AS BIGINT) - inter_sh) * 3),
        |mm AS (
        |  SELECT c.id_a, c.id_b,
        |    CAST(SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS BIGINT)
        |      AS mh_matches
        |  FROM cand c JOIN sig x ON x.doc_id = c.id_a
        |  JOIN sig y ON y.doc_id = c.id_b AND y.j = x.j
        |  GROUP BY 1, 2)
        |SELECT c.id_a, c.id_b, c.inter_sh, c.union_sh, mm.mh_matches
        |FROM cand c JOIN mm ON mm.id_a = c.id_a AND mm.id_b = c.id_b
        |ORDER BY c.id_a, c.id_b""".stripMargin,
    "q78_sssp" ->
      """WITH RECURSIVE edges AS (
        |  SELECT src, dst, w FROM (
        |    SELECT CAST(s.s_nationkey AS BIGINT) AS src,
        |      CAST(c.c_nationkey AS BIGINT) AS dst,
        |      CAST(MIN(l.l_quantity) AS BIGINT) AS w
        |    FROM lineitem l
        |    JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |    JOIN orders o ON l.l_orderkey = o.o_orderkey
        |    JOIN customer c ON o.o_custkey = c.c_custkey
        |    WHERE s.s_nationkey <> c.c_nationkey
        |    GROUP BY 1, 2)
        |  WHERE (src * 7 + dst * 3) % 5 < 2),
        |walk(node, d) AS (
        |  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS d
        |  UNION
        |  SELECT e.dst, w.d + e.w
        |  FROM walk w JOIN edges e ON e.src = w.node
        |  WHERE w.d + e.w <= 1200)
        |SELECT node, MIN(d) AS dist FROM walk GROUP BY node
        |ORDER BY node""".stripMargin,
    "e18_stream_cms_ingest" ->
      s"""WITH $cmFam,
        |keys AS (SELECT l_partkey AS k FROM lineitem)
        |SELECT fam.i, ${SketchSql.bucket("keys.k", "fam.a", "fam.b", 256)}
        |    AS b,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM keys CROSS JOIN fam GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}
