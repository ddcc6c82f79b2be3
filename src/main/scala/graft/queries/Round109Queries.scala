package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.Tables

/** Hundred-ninth batch — graph radius census, sequential-pattern
  * mining, and single-pass dictionary scanning:
  *
  *  - q153: eccentricity / diameter / radius census over the
  *    weight-thresholded nation trade graph (edges kept when their
  *    transaction count is ≥ 60% of the heaviest edge — the same
  *    relative-threshold sparsification a 100 TB deployment applies
  *    before all-pairs analytics). Multi-source BFS closure by
  *    iterated frontier joins (the q73 Pregel pattern, all 25
  *    sources at once); center/periphery flags from the global
  *    radius/diameter.
  *  - q154: GSP-style sequential patterns (Srikant & Agrawal 1996)
  *    with a 1-hour max-gap: for every ordered pair and triple of
  *    event types, how many users exhibit the pattern with each step
  *    within one hour of the previous. Existence semantics exactly —
  *    a chain (t_a < t_b ≤ t_a+g, t_c ≤ t_b+g) exists iff some
  *    gap-qualified b-instant has a gap-qualified c after it, so the
  *    plan is two bounded per-user interval joins, no backtracking.
  *  - t61: Aho–Corasick dictionary scan
  *    ([[graft.functions.AhoCountExpr]]) — all occurrences of a
  *    10-term dictionary (with nested terms: table⊃able, scan⊃can,
  *    value⊃val exercising the output links) counted in ONE pass per
  *    document. Dictionary terms are border-free, so the oracle can
  *    replay each count with the non-overlapping replace() identity.
  *
  * Scale: q153's closure frontier is bounded by |V|² of a 25-node
  * summary graph; q154's self-joins are keyed by user with per-user
  * fan-out bounded by activity×gap; t61 is embarrassingly parallel
  * map work (the whole point vs per-term rescans).
  *
  * Reference scope: extension beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round109Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ── q153: eccentricity census on the thresholded trade graph ──────────

  def q153_eccentricity(s: SparkSession, dir: String): DataFrame = {
    val w = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .groupBy(col("c_nationkey").as("u"), col("s_nationkey").as("v"))
      .agg(count(lit(1)).as("w"))
    val maxw = w.agg(max(col("w")).as("maxw"))
    val e = w.crossJoin(broadcast(maxw))
      .filter(col("w") * 5 >= col("maxw") * 3)
      .select(col("u"), col("v"))
    val und = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      .distinct().localCheckpoint(true)
    // multi-source BFS closure: all sources advance one hop per round
    // (Graph.multiSourceBfs; the ≤25-node nation graph takes its
    // DriverPath driver loop, the distributed frontier rounds run above
    // the edge cap)
    val dist = graft.operators.Graph.multiSourceBfs(und)
    val ecc = dist.groupBy(col("src"))
      .agg(max(col("d")).as("ecc"), count(lit(1)).as("n_reachable"))
    val bounds = ecc.agg(max(col("ecc")).as("diam"), min(col("ecc")).as("radius"))
    ecc.crossJoin(broadcast(bounds))
      .join(t(s, dir, "nation").select(col("n_nationkey").as("src"),
        col("n_name")), Seq("src"))
      .select(col("n_name"), col("ecc"), col("n_reachable"),
        (col("ecc") === col("radius")).cast(LongType).as("is_center"),
        (col("ecc") === col("diam")).cast(LongType).as("is_periphery"))
      .orderBy(col("n_name"))
  }

  // ── q154: max-gap sequential patterns over user event sequences ───────

  private val GapUs = 3600L * 1000000L // 1 hour in microseconds

  def q154_seq_patterns(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val ev = raw.select(col("user_id"), col("event_type").as("et"),
      unix_micros(Tables.tsMicros(raw)).as("tu"))
    val nUsers = ev.agg(countDistinct(col("user_id")).as("n_users"))
    val ab = ev.as("a").join(ev.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("b.tu") > col("a.tu") &&
          col("b.tu") <= col("a.tu") + GapUs)
      .select(col("a.user_id").as("user_id"), col("a.et").as("ea"),
        col("b.et").as("eb"), col("b.tu").as("tb"))
    val p2 = ab.select(col("user_id"), col("ea"), col("eb")).distinct()
      .groupBy(concat(col("ea"), lit(">"), col("eb")).as("pattern"))
      .agg(count(lit(1)).as("support_users"))
      .select(col("pattern"), lit(2L).as("k"), col("support_users"))
    val p3 = ab.select(col("user_id"), col("ea"), col("eb"), col("tb"))
      .distinct()
      .as("m").join(ev.as("c"),
        col("m.user_id") === col("c.user_id") &&
          col("c.tu") > col("m.tb") &&
          col("c.tu") <= col("m.tb") + GapUs)
      .select(col("m.user_id").as("user_id"), col("m.ea").as("ea"),
        col("m.eb").as("eb"), col("c.et").as("ec"))
      .distinct()
      .groupBy(concat(col("ea"), lit(">"), col("eb"), lit(">"), col("ec"))
        .as("pattern"))
      .agg(count(lit(1)).as("support_users"))
      .select(col("pattern"), lit(3L).as("k"), col("support_users"))
    p2.unionByName(p3).crossJoin(broadcast(nUsers))
      .select(col("pattern"), col("k"), col("support_users"),
        round(col("support_users").cast(DoubleType) /
          col("n_users").cast(DoubleType), 6).as("support_frac"))
      .orderBy(col("k"), col("pattern"))
  }

  // ── t61: Aho–Corasick dictionary scan over documents ──────────────────

  /** Border-free terms (no proper prefix = suffix), several nested. */
  private[queries] val ScanTerms = Seq("table", "able", "le ", "scan",
    "can", "an s", "value", "val", "a t", "stream")

  def t61_dictionary_scan(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.AhoCountExpr
    val counts = t(s, dir, "documents")
      .select(col("doc_id"),
        AhoCountExpr.ahoCount(col("text"), ScanTerms).as("c"))
      .select(col("doc_id"),
        posexplode(col("c")).as(Seq("pos", "cnt")))
      .select(col("doc_id"),
        element_at(typedLit(ScanTerms), col("pos") + 1).as("term"),
        col("cnt"))
    counts.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_matches"),
        sum((col("cnt") > 0).cast(LongType)).as("n_terms_hit"),
        min(struct((-col("cnt")).as("neg"), col("term"))).as("top"))
      .select(col("doc_id"), col("n_matches"), col("n_terms_hit"),
        col("top.term").as("top_term"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q153_eccentricity"   -> (q153_eccentricity _),
    "q154_seq_patterns"   -> (q154_seq_patterns _),
    "t61_dictionary_scan" -> (t61_dictionary_scan _))

  private val TermValues =
    ScanTerms.map(p => s"('${p.replace("'", "''")}')").mkString(", ")

  val oracles: Map[String, String] = Map(
    "q153_eccentricity" ->
      """WITH RECURSIVE w AS (
        |  SELECT c.c_nationkey AS u, s.s_nationkey AS v,
        |    CAST(COUNT(*) AS BIGINT) AS w
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  WHERE c.c_nationkey <> s.s_nationkey
        |  GROUP BY 1, 2),
        |e AS (SELECT u, v FROM w WHERE w * 5 >= (SELECT MAX(w) FROM w) * 3),
        |und AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
        |nodes AS (SELECT u AS nk FROM und UNION SELECT v FROM und),
        |r(src, n, d) AS (
        |  SELECT nk, nk, 0 FROM nodes
        |  UNION
        |  SELECT r.src, und.v, r.d + 1 FROM r JOIN und ON und.u = r.n
        |  WHERE r.d < 25),
        |sp AS (SELECT src, n, MIN(d) AS d FROM r GROUP BY 1, 2),
        |ecc AS (
        |  SELECT src, CAST(MAX(d) AS BIGINT) AS ecc,
        |    CAST(COUNT(*) AS BIGINT) AS n_reachable
        |  FROM sp GROUP BY 1),
        |agg AS (SELECT MAX(ecc) AS diam, MIN(ecc) AS radius FROM ecc)
        |SELECT nat.n_name, ecc.ecc, ecc.n_reachable,
        |  CAST(ecc.ecc = agg.radius AS BIGINT) AS is_center,
        |  CAST(ecc.ecc = agg.diam AS BIGINT) AS is_periphery
        |FROM ecc, agg
        |JOIN nation nat ON nat.n_nationkey = ecc.src
        |ORDER BY nat.n_name""".stripMargin,
    "q154_seq_patterns" ->
      """WITH ev AS (
        |  SELECT user_id, event_type AS et, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        |nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |       FROM ev),
        |ab AS (
        |  SELECT DISTINCT a.user_id, a.et AS ea, b.et AS eb, b.ts AS tb
        |  FROM ev a JOIN ev b ON a.user_id = b.user_id
        |    AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR),
        |p2 AS (
        |  SELECT ea || '>' || eb AS pattern, CAST(2 AS BIGINT) AS k,
        |    CAST(COUNT(*) AS BIGINT) AS support_users
        |  FROM (SELECT DISTINCT user_id, ea, eb FROM ab)
        |  GROUP BY 1),
        |p3 AS (
        |  SELECT ea || '>' || eb || '>' || ec AS pattern,
        |    CAST(3 AS BIGINT) AS k,
        |    CAST(COUNT(*) AS BIGINT) AS support_users
        |  FROM (
        |    SELECT DISTINCT m.user_id, m.ea, m.eb, c.et AS ec
        |    FROM ab m JOIN ev c ON c.user_id = m.user_id
        |      AND c.ts > m.tb AND c.ts <= m.tb + INTERVAL 1 HOUR)
        |  GROUP BY 1),
        |allp AS (SELECT * FROM p2 UNION ALL SELECT * FROM p3)
        |SELECT p.pattern, p.k, p.support_users,
        |  ROUND(CAST(p.support_users AS DOUBLE) /
        |    CAST(nu.n_users AS DOUBLE), 6) AS support_frac
        |FROM allp p, nu
        |ORDER BY p.k, p.pattern""".stripMargin,
    "t61_dictionary_scan" ->
      s"""WITH pats(term) AS (VALUES $TermValues),
        |cnt AS (
        |  -- border-free terms: occurrences cannot self-overlap, so the
        |  -- non-overlapping replace() count equals the automaton's count
        |  SELECT d.doc_id, p.term,
        |    CAST((length(d.text) - length(replace(d.text, p.term, '')))
        |      // length(p.term) AS BIGINT) AS c
        |  FROM documents d, pats p),
        |rk AS (
        |  SELECT doc_id, term, c,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, term)
        |      AS rn
        |  FROM cnt)
        |SELECT c.doc_id,
        |  CAST(SUM(c.c) AS BIGINT) AS n_matches,
        |  CAST(SUM(CASE WHEN c.c > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_terms_hit,
        |  MAX(CASE WHEN r.rn = 1 THEN r.term END) AS top_term
        |FROM cnt c JOIN rk r ON r.doc_id = c.doc_id AND r.term = c.term
        |GROUP BY c.doc_id
        |ORDER BY c.doc_id""".stripMargin)
}
