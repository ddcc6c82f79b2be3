package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Thirty-first batch — graph structure mining and record linkage, the
  * corpus-hygiene analyses that run BESIDE dedup in a production data
  * pipeline:
  *
  *  - q85: onion-layer (k-core peeling) decomposition of the co-purchase
  *    graph — the density profile that separates a graph's dense core
  *    from its sparse fringe (spam/bot-clique detection's first pass).
  *  - q86: synchronous label-propagation communities — the linear-time
  *    community baseline; unlike connected components (d7) it respects
  *    edge density, so one bridge edge does not merge two dense groups.
  *  - d24: entity resolution (record linkage) — blocking + multi-field
  *    match scoring + connected components over MATCH edges, the
  *    Fellegi–Sunter pipeline shape that turns "customer typed their
  *    name twice" into one canonical entity.
  *  - q87: exponentially-decayed trending scores — recency-weighted item
  *    ranking in exact integer arithmetic (power-of-2 decay per day), the
  *    freshness signal behind every "trending now" surface.
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65); graph and
  * linkage semantics from public literature (Seidman '83; Raghavan '07;
  * Fellegi–Sunter '69).
  */
object Round31Queries extends QueryModule {

  // ── q85: onion layers of the co-purchase graph, k=9, 10 peel rounds.
  //        Graph.onionLayers runs exactly 10 synchronous peels (converged
  //        rounds are no-ops), so the unrolled-CTE oracle replays every
  //        layer; the per-layer profile is the output a fraud/quality
  //        triage consumes. At 100 TB each round is two survivor
  //        semi-joins + one degree aggregate keyed on the node — the BFS
  //        shuffle shape, no all-pairs anywhere. ──────────────────────────
  def q85_kcore_layers(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph
      .onionLayers(Round6Queries.copurchaseEdges(s, dir), "u", "v",
        k = 9, rounds = 10)
      .groupBy(col("layer"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("n")).as("min_node"), max(col("n")).as("max_node"))
      .orderBy(col("layer"))

  // ── q86: label-propagation communities, 3 synchronous rounds. The
  //        mode-with-min-tie-break update is deterministic, so the
  //        3-round unrolled oracle reproduces every label; output is the
  //        community census (label, size, id span). ───────────────────────
  def q86_label_prop(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph
      .labelPropagation(Round6Queries.copurchaseEdges(s, dir), "u", "v",
        iters = 3)
      .groupBy(col("l").as("community"))
      .agg(count(lit(1)).as("n_members"),
        min(col("n")).as("min_member"), max(col("n")).as("max_member"))
      .orderBy(col("community"))

  // ── d24: entity resolution over customer records. Corpus = customers
  //        plus planted one-typo variants (every 3rd customer: last name
  //        char replaced, balance drifted 37 cents). Pipeline: BLOCK on
  //        (nation, segment, $1 balance band) — the numeric field joins
  //        as a BAND KEY (width = the $1 match tolerance; the probe side
  //        explodes to bands {b, b+1} so a cross-band pair still meets —
  //        q36's bucketized-range shape), then score candidates on TWO
  //        fields (name levenshtein ≤ 1 AND |balance| drift ≤ $1 —
  //        either alone over-matches: sequential names are levenshtein-1
  //        apart, random balances occasionally collide), then contract
  //        MATCH edges to entities with connectedComponents (min-id
  //        canonical label). The band key is what makes this scale:
  //        without it the (nation, segment) blocks run |block|²
  //        levenshteins (measured 5.4 s at sf0.1 — the whole suite's
  //        slowest query); with it candidates collapse to near-planted
  //        and the same query runs in a fraction of that. At 100 TB a
  //        hot band gets a finer key (the d13b posting-cap lever), never
  //        a wider compare. ──────────────────────────────────────────────
  def d24_entity_resolution(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.connectedComponents(d24Edges(s, dir), "ia", "ib")
      .groupBy(col("l").as("entity"))
      .agg(count(lit(1)).as("n_records"),
        min(col("n")).as("min_record"), max(col("n")).as("max_record"))
      .orderBy(col("entity"))

  /** The record set d24 resolves: base customers plus planted near-dup
    * variants (name levenshtein-1, balance +37¢) for every third key. */
  private[graft] def d24Records(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "customer").select(
      col("c_custkey").as("id"),
      col("c_name").as("name"),
      col("c_nationkey").as("nat"),
      col("c_mktsegment").as("seg"),
      round(col("c_acctbal") * 100).cast(LongType).as("balc"))
    val variants = base.filter(col("id") % 3 === 0).select(
      (col("id") + 1000000L).as("id"),
      expr("concat(substring(name, 1, length(name)-1), 'x')").as("name"),
      col("nat"), col("seg"), (col("balc") + 37L).as("balc"))
    base.unionByName(variants)
  }

  /** The match-edge builder (exposed for PlanAuditSpec's band-join pin). */
  private[graft] def d24Edges(s: SparkSession, dir: String): DataFrame = {
    val rec = d24Records(s, dir)
    // probe side lands in its own band and the next: a pair with
    // |balc_a − balc_b| ≤ 100 differs by ≤ 1 band, and orienting the
    // probe upward (b, b+1) meets each unordered pair exactly once —
    // the exact filter below keeps the semantics identical to the
    // unbanded join
    val probe = rec.select(col("id"), col("name"), col("nat"), col("seg"),
      col("balc"), explode(array(expr("balc div 100"),
        expr("balc div 100 + 1"))).as("band"))
    val build = rec.withColumn("band", expr("balc div 100"))
    val edges = probe.as("a").join(build.as("b"),
        col("a.nat") === col("b.nat") && col("a.seg") === col("b.seg") &&
          col("a.band") === col("b.band") &&
          col("a.id") =!= col("b.id") &&
          abs(col("a.balc") - col("b.balc")) <= 100 &&
          levenshtein(col("a.name"), col("b.name")) <= 1)
      .select(least(col("a.id"), col("b.id")).as("ia"),
        greatest(col("a.id"), col("b.id")).as("ib"))
      .distinct()
    edges
  }

  // ── q87: decayed trending items. Item = (event_type, props.k); weight
  //        of an event aged `a` days (vs the 2024-01-31 anchor; the data
  //        spans Jan 1–30, so a ∈ [1,30]) is 2^(30−a) — halving per day,
  //        exact in BIGINT. One map-side-combined aggregate builds the
  //        ~500-item scoreboard; the rank window runs on the aggregate,
  //        not the events. ─────────────────────────────────────────────────
  def q87_decayed_trend(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(s, dir, "events")
    val scored = raw
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("k"),
        datediff(lit(java.sql.Date.valueOf("2024-01-31")),
          to_date(Tables.tsMicros(raw))).as("age"))
      .withColumn("w", expr("shiftleft(CAST(1 AS BIGINT), 30 - age)"))
      .groupBy(col("event_type"), col("k"))
      .agg(count(lit(1)).as("n"), sum(col("w")).as("score"))
    scored
      .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("event_type"), col("k")))
        .cast(LongType))
      .filter(col("rank") <= 20)
      .select(col("rank"), col("event_type"), col("k"), col("n"),
        col("score"))
      .orderBy(col("rank"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q85_kcore_layers"      -> (q85_kcore_layers _),
    "q86_label_prop"        -> (q86_label_prop _),
    "d24_entity_resolution" -> (d24_entity_resolution _),
    "q87_decayed_trend"     -> (q87_decayed_trend _))

  // one survivor-set peel: nodes of `prev` keeping ≥ k surviving neighbors.
  // MATERIALIZED is load-bearing: each survivor set is referenced by the
  // next peel AND by the final layer CASE, and DuckDB's default CTE
  // inlining would re-expand the whole chain per reference (exponential).
  private def peel(prev: String, curr: String, k: Int): String =
    s"""$curr AS MATERIALIZED (
       |  SELECT u AS n FROM und
       |  WHERE u IN (SELECT n FROM $prev) AND v IN (SELECT n FROM $prev)
       |  GROUP BY u HAVING COUNT(*) >= $k)""".stripMargin

  // one synchronous LPA round: mode of neighbor labels, min-label ties
  private def lpa(prev: String, curr: String): String =
    s"""$curr AS (
       |  SELECT n, l FROM (
       |    SELECT n, l, ROW_NUMBER() OVER (PARTITION BY n
       |        ORDER BY c DESC, l) AS rn
       |    FROM (SELECT und.u AS n, p.l, COUNT(*) AS c
       |          FROM und JOIN $prev p ON p.n = und.v GROUP BY 1, 2))
       |  WHERE rn = 1)""".stripMargin

  /** Shared CTE block for the d24 family: records (base + planted
    * variants) → match edges → undirected closure → smallest-reachable
    * label per matched node. d32's survivorship oracle reuses it. */
  private[queries] val d24CtesSql: String =
    """rec AS (
      |  SELECT c_custkey AS id, c_name AS name, c_nationkey AS nat,
      |    c_mktsegment AS seg, CAST(ROUND(c_acctbal*100) AS BIGINT) AS balc
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey + 1000000,
      |    concat(substr(c_name, 1, length(c_name)-1), 'x'),
      |    c_nationkey, c_mktsegment,
      |    CAST(ROUND(c_acctbal*100) AS BIGINT) + 37
      |  FROM customer WHERE c_custkey % 3 = 0),
      |ed AS (
      |  SELECT a.id AS ia, b.id AS ib FROM rec a JOIN rec b
      |  ON a.nat = b.nat AND a.seg = b.seg AND a.id < b.id
      |  WHERE levenshtein(a.name, b.name) <= 1
      |    AND abs(a.balc - b.balc) <= 100),
      |und AS (SELECT ia AS u, ib AS v FROM ed
      |        UNION SELECT ib, ia FROM ed),
      |reach(n, m) AS (
      |  SELECT u, v FROM und
      |  UNION
      |  SELECT r.n, und.v FROM reach r JOIN und ON und.u = r.m),
      |lab AS (SELECT n, LEAST(n, MIN(m)) AS l FROM reach GROUP BY n)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q85_kcore_layers" -> {
      val rounds = 10
      val chain = (1 to rounds)
        .map(r => peel(s"s${r - 1}", s"s$r", 9)).mkString(",\n")
      val cases = (1 to rounds)
        .map(r => s"WHEN n NOT IN (SELECT n FROM s$r) THEN $r")
        .mkString("\n    ")
      s"""WITH ${Round6Queries.edgesSql},
         |und AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
         |s0 AS (SELECT DISTINCT u AS n FROM und),
         |$chain,
         |lay AS (
         |  SELECT n, CASE
         |    $cases
         |    ELSE ${rounds + 1} END AS layer
         |  FROM s0)
         |SELECT layer, COUNT(*) AS n_nodes,
         |  MIN(n) AS min_node, MAX(n) AS max_node
         |FROM lay GROUP BY layer ORDER BY layer""".stripMargin
    },
    "q86_label_prop" ->
      s"""WITH ${Round6Queries.edgesSql},
         |und AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
         |l0 AS (SELECT DISTINCT u AS n, u AS l FROM und),
         |${lpa("l0", "l1")},
         |${lpa("l1", "l2")},
         |${lpa("l2", "l3")}
         |SELECT l AS community, COUNT(*) AS n_members,
         |  MIN(n) AS min_member, MAX(n) AS max_member
         |FROM l3 GROUP BY l ORDER BY community""".stripMargin,
    "d24_entity_resolution" ->
      s"""WITH RECURSIVE $d24CtesSql
        |SELECT l AS entity, COUNT(*) AS n_records,
        |  MIN(n) AS min_record, MAX(n) AS max_record
        |FROM lab GROUP BY l ORDER BY entity""".stripMargin,
    "q87_decayed_trend" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS INT) AS k,
        |    date_diff('day', CAST(CAST(ts AS TIMESTAMP) AS DATE),
        |      DATE '2024-01-31') AS age
        |  FROM events),
        |sc AS (
        |  SELECT event_type, k, COUNT(*) AS n,
        |    CAST(SUM(CAST(1 AS BIGINT) << (30 - age)) AS BIGINT) AS score
        |  FROM ev GROUP BY 1, 2),
        |rk AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY score DESC, event_type, k)
        |    AS rank, event_type, k, n, score
        |  FROM sc)
        |SELECT rank, event_type, k, n, score FROM rk
        |WHERE rank <= 20 ORDER BY rank""".stripMargin)
}
