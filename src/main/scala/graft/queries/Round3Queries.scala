package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.Text
import graft.operators.Multimodal
import DecimalSums.{dec, dsum}

/** Third batch: exact percentiles, stratified deterministic sampling,
  * SCD Type-2 dimension versioning (the warehouse-history operator an ETL
  * engine is expected to ship), a composite document quality gate, and
  * frame-sample chunking over multimodal payloads.
  */
object Round3Queries extends QueryModule {

  // ── q49: exact percentiles per group (`percentile` is the exact sort-
  //        based aggregate; a1 covers the approximate sketch twin) ────────
  def q49_percentile(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.25)"), 6).as("p25"),
        round(expr("percentile(l_extendedprice, 0.5)"), 6).as("p50"),
        round(expr("percentile(l_extendedprice, 0.75)"), 6).as("p75"),
        round(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  // ── q50: stratified deterministic sampling — per-stratum rates via the
  //        same portable md5-prefix hash as q41, so rare strata can be
  //        kept at higher rates than common ones (the class-balance knob
  //        of a training-data pipeline). No RNG: re-runs and engines
  //        agree row-for-row. ───────────────────────────────────────────
  def q50_stratified_sample(s: SparkSession, dir: String): DataFrame = {
    val key = md5(concat_ws("-",
      col("l_orderkey").cast(StringType),
      col("l_linenumber").cast(StringType)))
    // per-stratum threshold on the first hash byte: A≈10%, N≈5%, R≈20%
    val thr = when(col("l_returnflag") === "A", "1a")
      .when(col("l_returnflag") === "N", "0d")
      .otherwise("33")
    Tables.load(s, dir, "lineitem")
      .filter(substring(key, 1, 2) < thr)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  // ── p7: SCD Type-2 history build — collapse each customer's order-
  //        priority sequence into versioned [valid_from, valid_to) ranges
  //        with an is_current flag. Gaps-and-islands over one window
  //        partitioning: all three windows share (o_custkey) partitioning,
  //        so the whole history builds in a single shuffle. ──────────────
  def p7_scd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("d"), col("o_orderkey"))
    val base = Tables.load(s, dir, "orders").select(
      col("o_custkey"), col("o_orderkey"),
      col("o_orderdate").cast(DateType).as("d"),
      col("o_orderpriority").as("state"))
    val prev = lag(col("state"), 1).over(w)
    val runs = base
      .withColumn("chg",
        when(prev.isNull || prev =!= col("state"), 1).otherwise(0))
      .withColumn("ver", sum(col("chg"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("o_custkey"), col("ver"))
      .agg(min(col("state")).as("state"), min(col("d")).as("valid_from"))
    val wv = Window.partitionBy(col("o_custkey")).orderBy(col("ver"))
    val nextFrom = lead(col("valid_from"), 1).over(wv)
    runs.select(
      col("o_custkey"), col("ver").cast(IntegerType).as("version"),
      col("state"), col("valid_from"), nextFrom.as("valid_to"),
      nextFrom.isNull.as("is_current"))
      .orderBy(col("o_custkey"), col("version"))
  }

  // ── t6: composite quality gate — keep/drop with machine-readable
  //        reasons, the decision step the t1/t2 metrics feed. Reasons are
  //        evaluated in a fixed order so the joined string is
  //        deterministic. ────────────────────────────────────────────────
  def t6_quality_filter(s: SparkSession, dir: String): DataFrame = {
    val txt = col("text")
    val reasons = concat_ws(",",
      when(length(txt) < 50, "too_short"),
      when(length(txt) > 20000, "too_long"),
      when(Text.punctRatio(txt) >= 0.2, "high_punct"),
      when(Text.stopwordRatio(txt, Text.defaultStopwords) < 0.01,
        "low_stopword"),
      when(Text.langId(txt) === "und", "lang_und"))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), (reasons === "").as("keep"),
        reasons.as("reasons"))
      .orderBy(col("doc_id"))
  }

  // ── q55: recursive CTE (Spark 4 WITH RECURSIVE) — generate a calendar
  //        month spine by recursion and left-join per-month order counts,
  //        zero-filling empty months. The recursion runs on both engines
  //        natively. ───────────────────────────────────────────────────────
  def q55_recursive_cte(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(
      """WITH RECURSIVE months(m) AS (
        |  SELECT DATE '1995-01-01'
        |  UNION ALL
        |  SELECT CAST(m + INTERVAL '1' MONTH AS DATE) FROM months
        |  WHERE m < DATE '1996-12-01'
        |),
        |oc AS (
        |  SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
        |           AS m,
        |         COUNT(*) AS n
        |  FROM orders GROUP BY 1)
        |SELECT months.m AS month, COALESCE(oc.n, 0) AS n_orders
        |FROM months LEFT JOIN oc ON oc.m = months.m
        |ORDER BY month""".stripMargin)
  }

  // ── q56: VARIANT ingestion (Spark 4's semi-structured type) — parse the
  //        JSON payload once into the binary VARIANT encoding, then typed
  //        path extraction; the schema-on-read shape that replaces
  //        string-re-parsing per field at scale. Oracle recomputes the
  //        same paths with its native JSON machinery. ────────────────────
  def q56_variant(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(col("event_id"), parse_json(col("props")).as("v"))
      .select(col("event_id"),
        expr("variant_get(v, '$.k', 'int')").as("k"),
        expr("variant_get(v, '$.missing', 'int')").as("missing"))
      .groupBy((col("k") % 7).as("k_mod"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).cast(LongType).as("sum_k"),
        count(col("missing")).as("n_missing"))
      .orderBy(col("k_mod"))

  // ── q57: per-group top-k via a typed Aggregator (UDAF surface) — the
  //        bounded-buffer map-side combine that makes per-group top-k
  //        viable on groups spanning millions of rows (contrast q10's
  //        global TakeOrderedAndProject and q19's full-sort window) ──────
  def q57_topk_per_group(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val agg = new graft.functions.TopKAgg(3).toColumn
    Tables.load(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
      .as[(String, Double, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, price, key) => (price, key) }
      .agg(agg.name("topk"))
      .flatMap { case (prio, topk) =>
        topk.zipWithIndex.map { case ((price, key), i) =>
          (prio, i + 1, key, price) // i + 1 is Int → rk lands as IntegerType
        }
      }
      .toDF("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
      .orderBy(col("o_orderpriority"), col("rk"))
  }

  // ── q58: salted skew join through the oracle gate — lineitem joined to a
  //        3-row dim on l_returnflag is the pathological all-hot-keys
  //        shape; salting spreads each key over 8 tasks and the result
  //        must equal the plain join exactly (salting only changes
  //        partitioning, never semantics) ───────────────────────────────
  def q58_salted_join(s: SparkSession, dir: String): DataFrame = {
    val dim = s.createDataFrame(Seq(
      ("A", "returned"), ("N", "active"), ("R", "refunded")))
      .toDF("flag", "flag_name")
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_returnflag").as("flag"), col("l_quantity"))
    graft.operators.Skew.saltedJoin(li, dim, "flag", salts = 8)
      .groupBy(col("flag_name"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("flag_name"))
  }

  // ── q59: NOT IN vs NOT EXISTS under nulls — the three-valued-logic
  //        corner: one NULL in the NOT IN subquery empties the result
  //        (x <> NULL is never true), while NOT EXISTS keeps its rows.
  //        Pinning both on one nullable subquery proves the engine honors
  //        ANSI semantics rather than the intuitive-but-wrong reading. ───
  def q59_not_in_null(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "customer").createOrReplaceTempView("customer")
    Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(
      """WITH sub AS (
        |  SELECT CASE WHEN o_orderkey % 1000 = 0 THEN NULL
        |              ELSE o_custkey END AS k
        |  FROM orders WHERE o_totalprice > 150000)
        |SELECT
        |  (SELECT COUNT(*) FROM customer
        |   WHERE c_custkey NOT IN (SELECT k FROM sub)) AS n_not_in,
        |  (SELECT COUNT(*) FROM customer c
        |   WHERE NOT EXISTS (SELECT 1 FROM sub WHERE sub.k = c.c_custkey))
        |    AS n_not_exists""".stripMargin)
  }

  // ── p10: schema-evolution read — two batches written under drifting
  //        schemas (a column added mid-stream) merge back into one scan
  //        (`mergeSchema`), with nulls where the old batch lacks the new
  //        column. The reality of 100 TB accumulated over schema
  //        versions. ──────────────────────────────────────────────────────
  def p10_schema_evolution(s: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("p10_evo")
    val orders = Tables.load(s, dir, "orders")
    orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$out/batch1")
    orders.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .write.mode("overwrite").parquet(s"$out/batch2")
    s.read.option("mergeSchema", "true")
      .parquet(s"$out/batch1", s"$out/batch2")
      .groupBy(coalesce(col("o_orderstatus"), lit("pre_schema")).as("status"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(col("status"))
  }

  // ── p11: idempotent partition backfill — dynamic partition overwrite
  //        replaces ONLY the partitions present in the incoming write and
  //        leaves the rest untouched: re-running a day's backfill can't
  //        clobber the other days. ────────────────────────────────────────
  def p11_partition_backfill(s: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("p11_orders_by_status")
    val orders = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    orders.write.partitionBy("o_orderstatus").mode("overwrite").parquet(out)
    // re-run the 'F' partition's pipeline (same input → same output);
    // dynamic mode must replace just that directory
    orders.filter(col("o_orderstatus") === "F")
      .write.partitionBy("o_orderstatus")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(out)
    s.read.parquet(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  // ── t8: PII-style scrubbing — mask digit runs in semi-structured
  //        payloads, count redactions per row, fingerprint the scrubbed
  //        text (the audit trail a privacy pass leaves behind). Plain
  //        regexp column ops: codegen'd, shuffle-free, row-parallel. ─────
  def t8_pii_scrub(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events").select(
      col("event_id"),
      size(regexp_extract_all(col("props"), lit("[0-9]+"), lit(0)))
        .as("n_redacted"),
      md5(regexp_replace(col("props"), "[0-9]+", "#")).as("scrubbed_md5"))
      .orderBy(col("event_id"))

  // ── m2: frame-sample chunking — every 2nd 20-byte frame of each payload
  //        becomes a row (the shape a video/audio decode stage consumes).
  //        The per-frame "decode" is the deterministic stub byte-probe;
  //        the plumbing (payload attach, index plan, explode, per-frame
  //        projection) is the real thing. ────────────────────────────────
  def m2_frame_sample(s: SparkSession, dir: String): DataFrame = {
    val frameLen = 20
    val withPayload = Multimodal.attachFakePayload(
      Tables.load(s, dir, "documents").select(col("doc_id"), col("text")), "text")
      .withColumn("n_frames",
        (length(col("text")) / frameLen).cast(IntegerType) + 1)
    Multimodal.sampleFrameIndexes(withPayload, "n_frames", stride = 2)
      .select(col("doc_id"), col("text"),
        explode(col("frame_idx")).as("frame"))
      .filter(col("frame") * frameLen < length(col("text")))
      .select(col("doc_id"), col("frame").cast(IntegerType).as("frame"),
        ascii(col("text").substr(col("frame") * frameLen + 1, lit(1)))
          .cast(IntegerType).as("frame_byte"))
      .orderBy(col("doc_id"), col("frame"))
  }

  // ── q51: FULL OUTER join — both sides partial, so nulls appear on each
  //        side (the one join shape the suite didn't yet pin) ─────────────
  def q51_full_outer(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.load(s, dir, "orders")
      .filter(col("o_totalprice") > 150000)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_big_orders"))
    val b = Tables.load(s, dir, "customer")
      .filter(col("c_acctbal") > 5000)
      .select(col("c_custkey"), col("c_acctbal"))
    a.join(b, col("o_custkey") === col("c_custkey"), "full_outer")
      .select(coalesce(col("o_custkey"), col("c_custkey")).as("custkey"),
        col("n_big_orders"), col("c_acctbal"))
      .orderBy(col("custkey"))
  }

  // ── q52: map-typed column surface — build per-group maps with
  //        map_from_entries over a sorted collect_list (sort makes the
  //        nondeterministic collect order irrelevant), then look up and
  //        introspect. Output stays scalar so engines compare values, not
  //        map encodings. ───────────────────────────────────────────────
  def q52_map_funcs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("o_orderstatus"))
      .agg(map_from_entries(array_sort(
        collect_list(struct(col("o_orderpriority"), col("n"))))).as("m"))
      .select(col("o_orderstatus"),
        // coalesce: a priority absent from a status must read as 0 like
        // the oracle's COUNT(CASE ...), not as a missing-key null
        coalesce(element_at(col("m"), "1-URGENT"), lit(0L)).as("urgent_n"),
        coalesce(element_at(col("m"), "5-LOW"), lit(0L)).as("low_n"),
        size(map_keys(col("m"))).cast(IntegerType).as("n_prio"))
      .orderBy(col("o_orderstatus"))

  // ── t7: TF-IDF top terms — the classic relevance scoring a text corpus
  //        pipeline runs: tf per (doc, term), df per term, idf from the
  //        corpus size (broadcast scalar — no driver-side collect of
  //        anything bigger than one count), top-3 terms per doc with a
  //        deterministic (score desc, term asc) tiebreak. ────────────────
  def t7_tfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val tok = docs.select(col("doc_id"),
      explode(Text.tokens(lower(col("text")))).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(dfreq), "term").crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf") * log((col("n_docs") + 1).cast(DoubleType) /
          (col("df") + 1).cast(DoubleType)))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rk", row_number().over(w).cast(IntegerType))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"),
        round(col("tfidf"), 6).as("tfidf"))
      .orderBy(col("doc_id"), col("rk"))
  }

  // ── q53: IGNORE NULLS window navigation — carry the last / first
  //        non-null observation forward over a sparse column (the
  //        gap-filling idiom time-series pipelines lean on) ──────────────
  def q53_ignore_nulls(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(
      """SELECT o_custkey, o_orderkey,
        |  LAST_VALUE(CASE WHEN o_orderstatus <> 'P' THEN o_totalprice END)
        |    IGNORE NULLS OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS last_settled_price,
        |  FIRST_VALUE(CASE WHEN o_orderstatus <> 'P' THEN o_totalprice END)
        |    IGNORE NULLS OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS first_settled_price
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin)
  }

  // ── p8: partitioned write + pruned read — the layout operator that makes
  //        100 TB scans affordable: write partitioned by a low-cardinality
  //        key, read back with a partition predicate (Catalyst prunes to
  //        one directory — PlanAuditSpec pins the PartitionFilters), and
  //        the oracle proves the round-trip loses nothing. ───────────────
  def p8_partition_prune(s: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("p8_orders_by_status")
    Tables.load(s, dir, "orders")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    s.read.parquet(out)
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderpriority"))
  }

  // ── q54: boolean / bitwise aggregates — the remaining aggregate-surface
  //        corner (every/any twins of DuckDB bool_and/bool_or, bit_and/or
  //        over integral keys) ───────────────────────────────────────────
  def q54_bool_bit_aggs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        every(col("l_quantity") < 50).as("all_small"),
        some(col("l_discount") > 0.09).as("any_high_disc"),
        bit_and(col("l_linenumber").cast(LongType)).as("key_bit_and"),
        bit_or(col("l_linenumber").cast(LongType)).as("key_bit_or"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  // ── p9: DQ quarantine split — route rows through validation rules and
  //        account for every failure (the dead-letter-queue shape of a
  //        production ingest: nothing silently dropped). One pass, one
  //        aggregate; at scale the same rule column also partitions the
  //        quarantine sink. ──────────────────────────────────────────────
  def p9_quarantine(s: SparkSession, dir: String): DataFrame = {
    val rule = when(col("o_totalprice") <= 0, "nonpositive_price")
      .when(col("o_orderdate").cast(DateType).isNull, "bad_date")
      .when(!col("o_orderstatus").isin("O", "F", "P"), "unknown_status")
      .otherwise("ok")
    Tables.load(s, dir, "orders")
      .groupBy(rule.as("rule"))
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("total_price"))
      .orderBy(col("rule"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q49_percentile"        -> (q49_percentile _),
    "q50_stratified_sample" -> (q50_stratified_sample _),
    "q51_full_outer"        -> (q51_full_outer _),
    "q52_map_funcs"         -> (q52_map_funcs _),
    "q53_ignore_nulls"      -> (q53_ignore_nulls _),
    "q54_bool_bit_aggs"     -> (q54_bool_bit_aggs _),
    "q55_recursive_cte"     -> (q55_recursive_cte _),
    "q56_variant"           -> (q56_variant _),
    "q57_topk_per_group"    -> (q57_topk_per_group _),
    "q58_salted_join"       -> (q58_salted_join _),
    "q59_not_in_null"       -> (q59_not_in_null _),
    "p9_quarantine"         -> (p9_quarantine _),
    "p7_scd2"               -> (p7_scd2 _),
    "p8_partition_prune"    -> (p8_partition_prune _),
    "p10_schema_evolution"  -> (p10_schema_evolution _),
    "p11_partition_backfill" -> (p11_partition_backfill _),
    "t6_quality_filter"     -> (t6_quality_filter _),
    "t7_tfidf"              -> (t7_tfidf _),
    "t8_pii_scrub"          -> (t8_pii_scrub _),
    "m2_frame_sample"       -> (m2_frame_sample _))

  val oracles: Map[String, String] = Map(
    "q49_percentile" ->
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
        |  ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
        |  ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q50_stratified_sample" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
        |    CAST(l_linenumber AS VARCHAR)), 1, 2) <
        |  CASE l_returnflag WHEN 'A' THEN '1a' WHEN 'N' THEN '0d'
        |    ELSE '33' END
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q51_full_outer" ->
      """WITH a AS (
        |  SELECT o_custkey, COUNT(*) AS n_big_orders
        |  FROM orders WHERE o_totalprice > 150000 GROUP BY 1),
        |b AS (
        |  SELECT c_custkey, c_acctbal
        |  FROM customer WHERE c_acctbal > 5000)
        |SELECT COALESCE(o_custkey, c_custkey) AS custkey,
        |  n_big_orders, c_acctbal
        |FROM a FULL OUTER JOIN b ON a.o_custkey = b.c_custkey
        |ORDER BY custkey""".stripMargin,
    "q52_map_funcs" ->
      """SELECT o_orderstatus,
        |  COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END)
        |    AS urgent_n,
        |  COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS low_n,
        |  CAST(COUNT(DISTINCT o_orderpriority) AS INT) AS n_prio
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q53_ignore_nulls" ->
      """SELECT o_custkey, o_orderkey,
        |  LAST_VALUE(CASE WHEN o_orderstatus <> 'P' THEN o_totalprice END
        |    IGNORE NULLS) OVER (PARTITION BY o_custkey
        |      ORDER BY CAST(o_orderdate AS DATE), o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS last_settled_price,
        |  FIRST_VALUE(CASE WHEN o_orderstatus <> 'P' THEN o_totalprice END
        |    IGNORE NULLS) OVER (PARTITION BY o_custkey
        |      ORDER BY CAST(o_orderdate AS DATE), o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS first_settled_price
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "t7_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |    tf.tf * ln(CAST(n.n_docs + 1 AS DOUBLE)
        |               / CAST(dfreq.df + 1 AS DOUBLE)) AS tfidf
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, tfidf,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf DESC, term) AS INT) AS rk
        |  FROM scored)
        |SELECT doc_id, rk, term, ROUND(tfidf, 6) AS tfidf
        |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "q54_bool_bit_aggs" ->
      """SELECT l_returnflag,
        |  bool_and(l_quantity < 50) AS all_small,
        |  bool_or(l_discount > 0.09) AS any_high_disc,
        |  CAST(bit_and(CAST(l_linenumber AS BIGINT)) AS BIGINT)
        |    AS key_bit_and,
        |  CAST(bit_or(CAST(l_linenumber AS BIGINT)) AS BIGINT)
        |    AS key_bit_or,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "p9_quarantine" ->
      """SELECT CASE
        |    WHEN o_totalprice <= 0 THEN 'nonpositive_price'
        |    WHEN CAST(o_orderdate AS DATE) IS NULL THEN 'bad_date'
        |    WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 'unknown_status'
        |    ELSE 'ok' END AS rule,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS total_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "p8_partition_prune" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "p7_scd2" ->
      """WITH base AS (
        |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d,
        |         o_orderpriority AS state
        |  FROM orders),
        |marked AS (
        |  SELECT *, CASE WHEN lag(state) OVER w IS NULL
        |                   OR lag(state) OVER w <> state
        |                 THEN 1 ELSE 0 END AS chg
        |  FROM base
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY d, o_orderkey)),
        |runs0 AS (
        |  SELECT *, SUM(chg) OVER (PARTITION BY o_custkey
        |    ORDER BY d, o_orderkey
        |    ROWS UNBOUNDED PRECEDING) AS ver
        |  FROM marked),
        |runs AS (
        |  SELECT o_custkey, ver, MIN(state) AS state,
        |         MIN(d) AS valid_from
        |  FROM runs0 GROUP BY 1, 2)
        |SELECT o_custkey, CAST(ver AS INT) AS version, state, valid_from,
        |  lead(valid_from) OVER wv AS valid_to,
        |  (lead(valid_from) OVER wv IS NULL) AS is_current
        |FROM runs
        |WINDOW wv AS (PARTITION BY o_custkey ORDER BY ver)
        |ORDER BY o_custkey, version""".stripMargin,
    "t6_quality_filter" ->
      """SELECT doc_id, (reasons = '') AS keep, reasons FROM (
        |  SELECT doc_id, concat_ws(',',
        |    CASE WHEN length(text) < 50 THEN 'too_short' END,
        |    CASE WHEN length(text) > 20000 THEN 'too_long' END,
        |    CASE WHEN CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |           / greatest(length(lower(text)), 1) >= 0.2 THEN 'high_punct' END,
        |    CASE WHEN CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |             x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','from'], x))) AS DOUBLE)
        |           / greatest(len(string_split_regex(trim(text), '\s+')), 1)
        |           < 0.01 THEN 'low_stopword' END,
        |    CASE WHEN (list_sort([
        |        {'score': len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> list_contains(['der','die','das','und','ist','nicht','mit','ein'], x))), 'lang': 'de'},
        |        {'score': len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> list_contains(['the','and','of','to','is','that','with','for'], x))), 'lang': 'en'},
        |        {'score': len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> list_contains(['el','la','los','las','y','de','que','en','es'], x))), 'lang': 'es'},
        |        {'score': len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> list_contains(['le','la','les','et','est','que','dans','une'], x))), 'lang': 'fr'},
        |        {'score': len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> list_contains(['的','是','了','在','我','有','和','不'], x))), 'lang': 'zh'}])[5]).score
        |      = 0 THEN 'lang_und' END) AS reasons
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q55_recursive_cte" ->
      """WITH RECURSIVE months(m) AS (
        |  SELECT DATE '1995-01-01'
        |  UNION ALL
        |  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
        |  WHERE m < DATE '1996-12-01'
        |),
        |oc AS (
        |  SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
        |           AS m,
        |         COUNT(*) AS n
        |  FROM orders GROUP BY 1)
        |SELECT months.m AS month, COALESCE(oc.n, 0) AS n_orders
        |FROM months LEFT JOIN oc ON oc.m = months.m
        |ORDER BY month""".stripMargin,
    "q56_variant" ->
      """SELECT CAST(json_extract(props, '$.k') AS INT) % 7 AS k_mod,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT)
        |    AS sum_k,
        |  COUNT(CAST(json_extract(props, '$.missing') AS INT)) AS n_missing
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q57_topk_per_group" ->
      """WITH ranked AS (
        |  SELECT o_orderpriority,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk,
        |    o_orderkey, o_totalprice
        |  FROM orders)
        |SELECT o_orderpriority, rk, o_orderkey, o_totalprice
        |FROM ranked WHERE rk <= 3
        |ORDER BY o_orderpriority, rk""".stripMargin,
    "q59_not_in_null" ->
      """WITH sub AS (
        |  SELECT CASE WHEN o_orderkey % 1000 = 0 THEN NULL
        |              ELSE o_custkey END AS k
        |  FROM orders WHERE o_totalprice > 150000)
        |SELECT
        |  (SELECT COUNT(*) FROM customer
        |   WHERE c_custkey NOT IN (SELECT k FROM sub)) AS n_not_in,
        |  (SELECT COUNT(*) FROM customer c
        |   WHERE NOT EXISTS (SELECT 1 FROM sub WHERE sub.k = c.c_custkey))
        |    AS n_not_exists""".stripMargin,
    "q58_salted_join" ->
      """SELECT CASE l_returnflag WHEN 'A' THEN 'returned'
        |       WHEN 'N' THEN 'active' ELSE 'refunded' END AS flag_name,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "p10_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'pre_schema'
        |            ELSE o_orderstatus END AS status,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "p11_partition_backfill" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "t8_pii_scrub" ->
      """SELECT event_id,
        |  CAST(len(regexp_extract_all(props, '[0-9]+')) AS INT)
        |    AS n_redacted,
        |  md5(regexp_replace(props, '[0-9]+', '#', 'g')) AS scrubbed_md5
        |FROM events ORDER BY event_id""".stripMargin,
    "m2_frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, CAST(length(text) // 20 AS INT) + 1, 2)) AS frame
        |  FROM documents)
        |SELECT doc_id, CAST(frame AS INT) AS frame,
        |  CAST(ord(substr(text, CAST(frame * 20 + 1 AS INT), 1)) AS INT)
        |    AS frame_byte
        |FROM f WHERE frame * 20 < length(text)
        |ORDER BY doc_id, frame""".stripMargin)
}
