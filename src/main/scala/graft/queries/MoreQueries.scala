package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.operators.{AsOf, Quality, Transform}
import graft.plan.TransformStep
import DecimalSums.{dec, dsum}

/** Second SQL-surface batch: grouping sets, correlated subqueries, range
  * (band) joins, ranking windows, as-of join, union-distinct, HAVING,
  * math/array function coverage, OFFSET pagination — plus the pipeline
  * operators themselves (§2A) surfaced as oracle-checkable queries
  * (CSV sink/source round-trip, multi-step SQL fold, expression column,
  * DQ metrics). */
object MoreQueries extends QueryModule {

  // ── q16: GROUPING SETS + grouping() flags (SQL entry) ───────────────────
  def q16_grouping_sets(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(
      """SELECT CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |       CAST(grouping(o_orderpriority) AS INT) AS g_prio,
        |       o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST,
        |         o_orderpriority NULLS FIRST""".stripMargin)
  }

  // ── q17: correlated scalar subquery (Catalyst decorrelates to a join) ───
  def q17_correlated(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "part").createOrReplaceTempView("part")
    Tables.load(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    s.sql(
      """SELECT p_partkey, p_name, p_retailprice FROM part p
        |WHERE (SELECT COALESCE(AVG(l.l_quantity), 0) FROM lineitem l
        |       WHERE l.l_partkey = p.p_partkey) > 28
        |ORDER BY p_partkey""".stripMargin)
  }

  // ── q18: range join against static bands — compiled to a CASE instead
  //        of an inequality join (no BNLJ; the scale-safe banding form) ───
  def q18_price_bands(s: SparkSession, dir: String): DataFrame = {
    val price = col("l_extendedprice")
    val band = when(price < 20000.0, "low")
      .when(price < 60000.0, "mid").otherwise("high")
    Tables.load(s, dir, "lineitem")
      .groupBy(band.as("band"))
      .agg(count(lit(1)).as("n"), dsum(price).as("total"))
      .orderBy(col("band"))
  }

  // ── q19: ranking windows — ntile / percent_rank / rank / first_value ────
  def q19_window_rank(s: SparkSession, dir: String): DataFrame = {
    // global (unpartitioned) window is the query's semantics — corpus-wide
    // quartiles need a total order. Deliberately scoped to the supplier dim
    // (the smallest table); a fact-table global rank would not scale.
    val w = Window.orderBy(col("s_acctbal").desc, col("s_suppkey"))
    Tables.load(s, dir, "supplier").select(
      col("s_suppkey"), col("s_name"),
      ntile(4).over(w).cast(LongType).as("quartile"),
      percent_rank().over(w).cast(DoubleType).as("pr"),
      rank().over(w).cast(LongType).as("rnk"),
      dense_rank().over(w).cast(LongType).as("drnk"),
      first_value(col("s_name")).over(w).as("top_name"))
      .orderBy(col("s_suppkey"))
  }

  // ── q20: as-of join (purchases ↔ latest prior click per user) ──────────
  def q20_asof_join(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(s, dir, "events")
    val e = raw.withColumn("ts_us", graft.Tables.tsMicros(raw))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"))
    AsOf.joinLastBefore(purchases, clicks, "user_id", "ts_us", "ts_us",
        rightVals = Seq("ts_us"))
      .select(col("event_id"), col("user_id"),
        col("ts_us").as("purchase_ts"), col("asof_ts_us").as("last_click_ts"))
      .orderBy(col("event_id"))
  }

  // ── q21: UNION with set (distinct) semantics ────────────────────────────
  def q21_union_distinct(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .union(Tables.load(s, dir, "supplier").select(col("s_nationkey")))
      .distinct()
      .orderBy(col("nationkey"))

  // ── q22: HAVING over grouped counts ─────────────────────────────────────
  def q22_having(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
      .filter(col("n") > 40)
      .orderBy(col("l_partkey"))

  // ── q23: math function surface ──────────────────────────────────────────
  def q23_math(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "part").select(
      col("p_partkey"),
      round(sqrt(col("p_retailprice")), 6).as("sqrt_p"),
      round(log(col("p_retailprice")), 6).as("ln_p"),
      round(exp(col("p_size") / lit(10.0)), 6).as("exp_s"),
      round(pow(col("p_size"), 2), 6).as("pow_s"),
      abs(col("p_size") - 25).as("abs_d"),
      floor(col("p_retailprice")).as("flr"),
      ceil(col("p_retailprice")).as("cl"),
      (col("p_size") % 7).as("md"))
      .orderBy(col("p_partkey"))

  // ── q24: array function surface over the embedding column ───────────────
  def q24_array_funcs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings").select(
      col("vec_id"),
      size(col("embedding")).as("dim"),
      round(element_at(col("embedding"), 1).cast(DoubleType), 6).as("first_val"),
      round(array_max(col("embedding")).cast(DoubleType), 6).as("max_val"),
      round(array_min(col("embedding")).cast(DoubleType), 6).as("min_val"))
      .orderBy(col("vec_id"))

  // ── q25: ORDER BY + LIMIT/OFFSET pagination ─────────────────────────────
  def q25_offset(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
      .offset(10).limit(20)

  // ── q26: date/time function surface ─────────────────────────────────────
  def q26_date_funcs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders").select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("yr"),
      quarter(col("o_orderdate")).as("qtr"),
      month(col("o_orderdate")).as("mth"),
      dayofmonth(col("o_orderdate")).as("dom"),
      weekday(col("o_orderdate")).as("wd"), // 0 = Monday
      weekofyear(col("o_orderdate")).as("wk"),
      date_add(col("o_orderdate").cast(DateType), 30).as("plus30"),
      datediff(col("o_orderdate").cast(DateType),
        lit("1995-01-01").cast(DateType)).as("days_since"),
      last_day(col("o_orderdate").cast(DateType)).as("month_end"),
      date_trunc("quarter", col("o_orderdate")).cast(DateType).as("qstart"))
      .orderBy(col("o_orderkey"))

  // ── q27: pivot (wide conditional aggregation) ───────────────────────────
  def q27_pivot(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy(col("o_orderpriority"))

  // ── q28: exact percentiles + dispersion statistics ──────────────────────
  def q28_stats(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("median_price"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
        round(stddev_samp(col("l_extendedprice")), 2).as("sd"),
        round(var_samp(col("l_discount")), 6).as("var_disc"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6)
          .as("qty_price_corr"))
      .orderBy(col("l_returnflag"))

  // ── q29: regex function surface ─────────────────────────────────────────
  def q29_regex(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "part").select(
      col("p_partkey"),
      regexp_extract(col("p_name"), "([a-z]+)$", 1).as("last_word"),
      col("p_name").rlike("^[a-z]+ [a-z]+").as("two_words"),
      regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"))
      .orderBy(col("p_partkey"))

  // ── q30: multiset set operations (INTERSECT ALL / EXCEPT ALL) ──────────
  def q30_setops_all(s: SparkSession, dir: String): DataFrame = {
    val cn = Tables.load(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
    val sn = Tables.load(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
    cn.intersectAll(sn).withColumn("tag", lit("inter_all"))
      .unionByName(cn.exceptAll(sn).withColumn("tag", lit("except_all")))
      .select(col("tag"), col("nationkey"))
      .orderBy(col("tag"), col("nationkey"))
  }

  // ── q31: ordered string aggregation ─────────────────────────────────────
  def q31_list_agg(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "supplier")
      .groupBy(col("s_nationkey"))
      .agg(array_join(sort_array(collect_list(col("s_name"))), ",")
        .as("names"), count(lit(1)).as("n"))
      .orderBy(col("s_nationkey"))

  // ── q32: aggregate semantics over empty input (NULL sums, 0 count) ─────
  def q32_empty_aggs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .filter(col("l_quantity") < 0)
      .agg(
        count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("s"),
        max(col("l_shipdate")).cast(DateType).as("mx"))

  // ── q33: 6-table star join (TPC-H Q5 shape) — Catalyst join reorder +
  //        broadcast chain on the bounded dims ──────────────────────────
  def q33_star_join(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
    val o = Tables.load(s, dir, "orders").filter(
      col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
      col("o_orderdate") < lit("1998-01-01").cast(TimestampType))
    val l = Tables.load(s, dir, "lineitem")
    val sup = Tables.load(s, dir, "supplier")
    val n = broadcast(Tables.load(s, dir, "nation"))
    val r = broadcast(Tables.load(s, dir, "region").filter(col("r_name") === "ASIA"))
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, l("l_orderkey") === o("o_orderkey"))
      .join(sup, l("l_suppkey") === sup("s_suppkey") &&
        c("c_nationkey") === sup("s_nationkey"))
      .join(n, sup("s_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(n("n_name"))
      .agg(dsum(l("l_extendedprice") * (lit(1.0) - l("l_discount")), 6)
        .as("revenue"))
      .orderBy(col("n_name"))
  }

  // ── q34: greatest-n-per-group (latest order per customer) ───────────────
  def q34_latest_per_group(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    Tables.load(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast(DateType).as("d"),
        row_number().over(w).as("rn"))
      .filter(col("rn") === 1).drop("rn")
      .orderBy(col("o_custkey"))
  }

  // ── q35: RANGE-frame rolling window (7-day revenue per priority) ───────
  def q35_rolling_window(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(s, dir, "orders")
      .groupBy(
        datediff(col("o_orderdate").cast(DateType),
          lit("1995-01-01").cast(DateType)).as("day_no"),
        col("o_orderpriority"))
      .agg(dsum(col("o_totalprice")).as("day_total"))
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("day_no")).rangeBetween(-6, Window.currentRow)
    daily.select(col("day_no"), col("o_orderpriority"),
        sum(dec(col("day_total"))).over(w).cast(DoubleType).as("rolling_7d"))
      .orderBy(col("o_orderpriority"), col("day_no"))
  }

  // ── q36: true interval range join via bucketized equi-join ─────────────
  //         (RangeJoin turns point-in-[start,end) into a shuffle join on
  //         7-day buckets instead of a nested loop; see SCALE.md) ─────────
  def q36_range_join(s: SparkSession, dir: String): DataFrame = {
    val intervals = Tables.load(s, dir, "orders")
      .filter(col("o_orderkey") % 1000 === 0)
      .select(col("o_orderkey"), col("o_orderdate").as("w_start"),
        (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("w_end"))
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_shipdate"), col("l_quantity"))
    graft.operators.RangeJoin.pointInInterval(
        li, intervals, "l_shipdate", "w_start", "w_end",
        bucketWidthSec = 7L * 86400L)
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_ship"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("o_orderkey"))
  }

  // ── q37: UNPIVOT (wide→long reshape, the inverse of q27's pivot) ───────
  def q37_unpivot(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "part")
      .select(col("p_partkey"),
        col("p_retailprice").cast(DoubleType).as("p_retailprice"),
        col("p_size").cast(DoubleType).as("p_size"))
      .unpivot(Array(col("p_partkey")),
        Array(col("p_retailprice"), col("p_size")), "metric", "val")
      .orderBy(col("p_partkey"), col("metric"))

  // ── q38: ranking/distribution window zoo (ntile, percent_rank,
  //         cume_dist, first/last/nth_value) under a total order ─────────
  def q38_window_funcs(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(
      """SELECT o_orderkey,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  ROUND(percent_rank() OVER w, 6) AS pr,
        |  ROUND(cume_dist() OVER w, 6) AS cd,
        |  first_value(o_totalprice) OVER wf AS first_price,
        |  last_value(o_totalprice) OVER wf AS last_price,
        |  nth_value(o_totalprice, 2) OVER wf AS second_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_orderdate, o_orderkey),
        |       wf AS (PARTITION BY o_orderpriority
        |              ORDER BY o_orderdate, o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin)
  }

  // ── q39: TRY_CAST null-on-failure semantics (string→int/date) ──────────
  def q39_try_cast(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "part").createOrReplaceTempView("part")
    s.sql(
      """SELECT p_partkey,
        |  TRY_CAST(p_name AS INT) AS bad_int,
        |  TRY_CAST(substr(p_name, 1, 3) AS DATE) AS bad_date,
        |  TRY_CAST(CAST(p_partkey AS STRING) AS INT) AS good_int
        |FROM part ORDER BY p_partkey""".stripMargin)
  }

  // ── q40: correlated LATERAL subquery in FROM (decorrelated by
  //         Catalyst into a join, not a per-row loop) ────────────────────
  def q40_lateral(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "customer").createOrReplaceTempView("customer")
    Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(
      """SELECT c.c_custkey, t.n,
        |  CAST(t.total AS DOUBLE) AS total
        |FROM customer c, LATERAL (
        |  SELECT COUNT(*) AS n,
        |    COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 0) AS total
        |  FROM orders o WHERE o.o_custkey = c.c_custkey) t
        |WHERE c.c_custkey % 100 = 0
        |ORDER BY c.c_custkey""".stripMargin)
  }

  // ── q41: deterministic hash sampling — the reproducible subsample a
  //         training pipeline needs (TABLESAMPLE is engine/seed-bound;
  //         an md5-prefix predicate picks the same ~10% in any engine) ───
  def q41_hash_sample(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .filter(substring(md5(concat_ws("-",
        col("l_orderkey").cast("string"),
        col("l_linenumber").cast("string"))), 1, 2) < "1a")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag"))

  // ── p1: CSV sink + source round-trip (§2A #1/#9): write a slice through
  //        the single-file sink, read it back with the pandas-compat
  //        reader, aggregate — oracle aggregates the parquet directly, so
  //        a hash match proves value-preserving CSV round-trip ───────────
  def p1_csv_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val sample = Tables.load(s, dir, "lineitem")
      .filter(col("l_orderkey") % 100 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))
    val out = graft.Scratch.dir("p1_slice.csv")
    graft.sinks.CsvSink.writeSingleFile(sample, out)
    graft.sources.Sources.loadCsv(s, out, maxBytes = Long.MaxValue)
      .agg(
        count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"))
  }

  // ── p5: ORC sink/source round-trip — value-preserving format surface
  //        beyond parquet/CSV (oracle aggregates the parquet directly) ────
  def p5_orc_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val slice = Tables.load(s, dir, "orders")
      .filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val out = graft.Scratch.dir("p5_orc")
    slice.write.mode("overwrite").orc(out)
    s.read.orc(out).agg(
      count(lit(1)).as("n"),
      dsum(col("o_totalprice")).as("sum_price"))
  }

  // ── p6: JSON-lines sink/source round-trip (schema re-inferred on read) ─
  def p6_json_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val slice = Tables.load(s, dir, "orders")
      .filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val out = graft.Scratch.dir("p6_json")
    slice.write.mode("overwrite").json(out)
    s.read.json(out).agg(
      count(lit(1)).as("n"),
      dsum(col("o_totalprice")).as("sum_price"))
  }

  // ── q42: GROUP BY ALL (identical dialect text in both engines) ─────────
  def q42_group_by_all(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders GROUP BY ALL
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)
  }

  // ── q43: gap-filled time series — a generated date spine left-joined to
  //         daily aggregates, missing days coalesced to 0 ────────────────
  def q43_gap_fill(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(
      """WITH spine AS (
        |  SELECT explode(sequence(DATE '1995-01-01', DATE '1995-03-31',
        |                          INTERVAL 1 DAY)) AS d),
        |daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |    COUNT(*) AS n
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1995-04-01'
        |  GROUP BY 1)
        |SELECT spine.d, COALESCE(daily.n, 0) AS n,
        |  COALESCE(daily.total, CAST(0 AS DOUBLE)) AS total
        |FROM spine LEFT JOIN daily ON spine.d = daily.d
        |ORDER BY spine.d""".stripMargin)
  }

  // ── q44: aggregate FILTER clause (per-aggregate predicates) ────────────
  def q44_filter_clause(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  COUNT(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |    FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE)
        |    AS urgent_total
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)
  }

  // ── q45: max_by/arg_max with a deterministic (value, key) tiebreak ─────
  def q45_argmax(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        // price extremes are unique per group in this data (verified at
        // all SFs), so the scalar ordering key is tie-free
        max_by(col("o_orderkey"), col("o_totalprice")).as("top_order"),
        min_by(col("o_orderkey"), col("o_totalprice")).as("bottom_order"),
        max(col("o_totalprice")).as("top_price"))
      .orderBy(col("o_orderstatus"))

  // ── q46: JSON path extraction (e3's regex twin done properly) ──────────
  def q46_json_funcs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("k"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), sum(col("k")).cast(LongType).as("sum_k"))
      .orderBy(col("k_mod"))

  // ── q47: string-function surface (levenshtein/translate/pads/parts) ────
  def q47_string_funcs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "part").select(
      col("p_partkey"),
      levenshtein(col("p_name"), reverse(col("p_name"))).cast(IntegerType)
        .as("lev_palin"),
      translate(col("p_name"), "aeiou", "AEIOU").as("vowelcaps"),
      lpad(col("p_partkey").cast(StringType), 8, "0").as("key_padded"),
      expr("split_part(p_name, ' ', 1)").as("first_word"),
      expr("repeat('*', CAST(p_size % 5 AS INT))").as("stars"))
      .orderBy(col("p_partkey"))

  // ── q48: CUBE — completes the grouping-analytics triple alongside
  //         q16 (GROUPING SETS) and q7 (ROLLUP) ───────────────────────────
  def q48_cube(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(
      """SELECT CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |       CAST(grouping(o_orderpriority) AS INT) AS g_prio,
        |       o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST,
        |         o_orderpriority NULLS FIRST""".stripMargin)
  }

  // ── p2: multi-step SQL transform fold (§2A #6) ─────────────────────────
  def p2_multi_step(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    Transform.runSteps(s, Seq(
      TransformStep("high_value",
        "SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > 200000"),
      TransformStep("by_cust",
        """SELECT o_custkey, COUNT(*) AS n,
          | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
          |FROM high_value GROUP BY o_custkey""".stripMargin),
      TransformStep("final",
        """SELECT b.o_custkey, c.c_name, b.n, b.total
          |FROM by_cust b JOIN customer c ON b.o_custkey = c.c_custkey
          |ORDER BY b.o_custkey""".stripMargin)))
  }

  // ── p3: expression-column operator (§2A #8, python_udf → expr) ─────────
  def p3_expr_column(s: SparkSession, dir: String): DataFrame =
    Transform.withExprColumn(
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"), col("l_discount")),
      "l_extendedprice * (1 - l_discount)", "net")
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  // ── p4: DQ metrics as data (§2A #11) ───────────────────────────────────
  def p4_dq_metrics(s: SparkSession, dir: String): DataFrame =
    Quality.dqMetricsDf(Tables.load(s, dir, "orders"),
      nonnullCols = Seq("o_custkey", "o_totalprice"),
      timestampCol = Some("o_orderdate"))

  // ── t4: token counting — whitespace + BPE-ish subword estimate ─────────
  def t4_token_count(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").select(
      col("doc_id"),
      graft.functions.Text.tokenCount(col("text")).cast(IntegerType)
        .as("n_tokens"),
      expr("""CAST(aggregate(transform(split(trim(text), '\\s+'),
             |  w -> CAST(ceil(length(w)/4.0) AS BIGINT)), 0L, (a, x) -> a + x)
             |AS BIGINT)""".stripMargin).as("est_tokens"))
      .orderBy(col("doc_id"))

  // ── a1: approximate aggregates, held to a *semantic* oracle. Raw sketch
  //        values are engine-specific, so the checked output is the exact
  //        anchors plus boundedness flags the oracle can predict: the HLL
  //        estimate must sit within 3×rsd (rsd = 0.05 default) of the
  //        exact distinct count, and the approx median (accuracy 10000 ⇒
  //        rank error ≤ n/10000) must land between the exact 45th and 55th
  //        percentiles. If a sketch ever drifts out of its published
  //        bound, the flag flips to false and the hash check fails. ──────
  def a1_approx(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem").agg(
      count_distinct(col("l_partkey")).as("exact_parts"),
      count_distinct(col("l_orderkey")).as("exact_orders"),
      approx_count_distinct(col("l_partkey")).as("ap"),
      approx_count_distinct(col("l_orderkey")).as("ao"),
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
        .as("am"),
      expr("percentile(l_extendedprice, 0.45)").as("p45"),
      expr("percentile(l_extendedprice, 0.55)").as("p55"))
    .select(col("exact_parts"), col("exact_orders"),
      (abs(col("ap") - col("exact_parts")) <=
        col("exact_parts") * lit(0.15)).as("parts_ok"),
      (abs(col("ao") - col("exact_orders")) <=
        col("exact_orders") * lit(0.15)).as("orders_ok"),
      (col("am") >= col("p45") && col("am") <= col("p55")).as("median_ok"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q16_grouping_sets" -> (q16_grouping_sets _),
    "q17_correlated"    -> (q17_correlated _),
    "q18_price_bands"   -> (q18_price_bands _),
    "q19_window_rank"   -> (q19_window_rank _),
    "q20_asof_join"     -> (q20_asof_join _),
    "q21_union_distinct" -> (q21_union_distinct _),
    "q22_having"        -> (q22_having _),
    "q23_math"          -> (q23_math _),
    "q24_array_funcs"   -> (q24_array_funcs _),
    "q25_offset"        -> (q25_offset _),
    "q26_date_funcs"    -> (q26_date_funcs _),
    "q27_pivot"         -> (q27_pivot _),
    "q28_stats"         -> (q28_stats _),
    "q29_regex"         -> (q29_regex _),
    "q30_setops_all"    -> (q30_setops_all _),
    "q31_list_agg"      -> (q31_list_agg _),
    "q32_empty_aggs"    -> (q32_empty_aggs _),
    "q33_star_join"     -> (q33_star_join _),
    "q34_latest_per_group" -> (q34_latest_per_group _),
    "q35_rolling_window"   -> (q35_rolling_window _),
    "q36_range_join"       -> (q36_range_join _),
    "q37_unpivot"          -> (q37_unpivot _),
    "q38_window_funcs"     -> (q38_window_funcs _),
    "q39_try_cast"         -> (q39_try_cast _),
    "q40_lateral"          -> (q40_lateral _),
    "q41_hash_sample"      -> (q41_hash_sample _),
    "q42_group_by_all"     -> (q42_group_by_all _),
    "q43_gap_fill"         -> (q43_gap_fill _),
    "q44_filter_clause"    -> (q44_filter_clause _),
    "q45_argmax"           -> (q45_argmax _),
    "q46_json_funcs"       -> (q46_json_funcs _),
    "q48_cube"             -> (q48_cube _),
    "q47_string_funcs"     -> (q47_string_funcs _),
    "p5_orc_roundtrip"     -> (p5_orc_roundtrip _),
    "p6_json_roundtrip"    -> (p6_json_roundtrip _),
    "p1_csv_roundtrip"  -> (p1_csv_roundtrip _),
    "p2_multi_step"     -> (p2_multi_step _),
    "p3_expr_column"    -> (p3_expr_column _),
    "p4_dq_metrics"     -> (p4_dq_metrics _),
    "t4_token_count"    -> (t4_token_count _),
    "a1_approx"         -> (a1_approx _))

  val oracles: Map[String, String] = Map(
    // a1's contract: the exact anchors must match and every boundedness
    // flag must be true — the oracle asserts the flags as literals, so a
    // sketch drifting outside its published error bound hash-mismatches.
    "a1_approx" ->
      """SELECT COUNT(DISTINCT l_partkey) AS exact_parts,
        |  COUNT(DISTINCT l_orderkey) AS exact_orders,
        |  TRUE AS parts_ok, TRUE AS orders_ok, TRUE AS median_ok
        |FROM lineitem""".stripMargin,
    "q16_grouping_sets" ->
      """SELECT CAST(grouping(o_orderstatus) AS INT) AS g_status,
        | CAST(grouping(o_orderpriority) AS INT) AS g_prio,
        | o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST,
        |         o_orderpriority NULLS FIRST""".stripMargin,
    "q17_correlated" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part p
        |WHERE (SELECT COALESCE(AVG(l.l_quantity), 0) FROM lineitem l
        |       WHERE l.l_partkey = p.p_partkey) > 28
        |ORDER BY p_partkey""".stripMargin,
    "q18_price_bands" ->
      """WITH bands(band, lo, hi) AS (VALUES
        |  ('low', 0.0, 20000.0), ('mid', 20000.0, 60000.0),
        |  ('high', 60000.0, 1e18))
        |SELECT b.band, COUNT(*) AS n,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM lineitem l JOIN bands b
        |  ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q19_window_rank" ->
      """SELECT s_suppkey, s_name,
        | NTILE(4) OVER w AS quartile,
        | CAST(PERCENT_RANK() OVER w AS DOUBLE) AS pr,
        | CAST(RANK() OVER w AS BIGINT) AS rnk,
        | CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
        | FIRST_VALUE(s_name) OVER w AS top_name
        |FROM supplier
        |WINDOW w AS (ORDER BY s_acctbal DESC, s_suppkey)
        |ORDER BY s_suppkey""".stripMargin,
    "q20_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'purchase'),
        |     c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
        |       c.ts AS last_click_ts
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin,
    "q21_union_distinct" ->
      """SELECT nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION SELECT s_nationkey FROM supplier)
        |ORDER BY nationkey""".stripMargin,
    "q22_having" ->
      """SELECT l_partkey, COUNT(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY l_partkey HAVING COUNT(*) > 40
        |ORDER BY l_partkey""".stripMargin,
    "q23_math" ->
      """SELECT p_partkey,
        | ROUND(sqrt(p_retailprice), 6) AS sqrt_p,
        | ROUND(ln(p_retailprice), 6) AS ln_p,
        | ROUND(exp(p_size / 10.0), 6) AS exp_s,
        | ROUND(power(p_size, 2), 6) AS pow_s,
        | abs(p_size - 25) AS abs_d,
        | CAST(floor(p_retailprice) AS BIGINT) AS flr,
        | CAST(ceil(p_retailprice) AS BIGINT) AS cl,
        | CAST(p_size % 7 AS INT) AS md
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q24_array_funcs" ->
      """SELECT vec_id,
        | CAST(len(embedding) AS INT) AS dim,
        | ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
        | ROUND(CAST(list_max(embedding) AS DOUBLE), 6) AS max_val,
        | ROUND(CAST(list_min(embedding) AS DOUBLE), 6) AS min_val
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q25_offset" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderkey LIMIT 20 OFFSET 10""".stripMargin,
    "q26_date_funcs" ->
      """SELECT o_orderkey,
        | CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
        | CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS qtr,
        | CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mth,
        | CAST(EXTRACT(day FROM o_orderdate) AS INT) AS dom,
        | CAST(isodow(o_orderdate) - 1 AS INT) AS wd,
        | CAST(week(o_orderdate) AS INT) AS wk,
        | CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS plus30,
        | CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since,
        | last_day(CAST(o_orderdate AS DATE)) AS month_end,
        | CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qstart
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q27_pivot" ->
      """SELECT o_orderpriority,
        | CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        | CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        | CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q28_stats" ->
      """SELECT l_returnflag,
        | ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
        | ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
        | ROUND(stddev_samp(l_extendedprice), 2) AS sd,
        | ROUND(var_samp(l_discount), 6) AS var_disc,
        | ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q29_regex" ->
      """SELECT p_partkey,
        | regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
        | regexp_matches(p_name, '^[a-z]+ [a-z]+') AS two_words,
        | regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q30_setops_all" ->
      """SELECT 'inter_all' AS tag, nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  INTERSECT ALL SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'except_all', nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  EXCEPT ALL SELECT s_nationkey FROM supplier)
        |ORDER BY tag, nationkey""".stripMargin,
    "q31_list_agg" ->
      """SELECT s_nationkey,
        | string_agg(s_name, ',' ORDER BY s_name) AS names,
        | COUNT(*) AS n
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    "q32_empty_aggs" ->
      """SELECT COUNT(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS s,
        | CAST(MAX(l_shipdate) AS DATE) AS mx
        |FROM lineitem WHERE l_quantity < 0""".stripMargin,
    "q33_star_join" ->
      """SELECT n.n_name,
        | CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA' AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q34_latest_per_group" ->
      """WITH ranked AS (
        |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, d FROM ranked WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,
    "q35_rolling_window" ->
      """WITH daily AS (
        |  SELECT CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS day_no,
        |    o_orderpriority,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS day_total
        |  FROM orders GROUP BY 1, 2)
        |SELECT day_no, o_orderpriority,
        |  CAST(SUM(CAST(day_total AS DECIMAL(18,4))) OVER (PARTITION BY o_orderpriority ORDER BY day_no
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_7d
        |FROM daily ORDER BY o_orderpriority, day_no""".stripMargin,
    "q36_range_join" ->
      """WITH iv AS (
        |  SELECT o_orderkey, o_orderdate AS w_start,
        |         o_orderdate + INTERVAL 7 DAY AS w_end
        |  FROM orders WHERE o_orderkey % 1000 = 0)
        |SELECT iv.o_orderkey, COUNT(*) AS n_ship,
        | CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM iv JOIN lineitem l
        |  ON l.l_shipdate >= iv.w_start AND l.l_shipdate < iv.w_end
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q37_unpivot" ->
      """SELECT p_partkey, 'p_retailprice' AS metric,
        |       CAST(p_retailprice AS DOUBLE) AS val FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
        |ORDER BY p_partkey, metric""".stripMargin,
    "q38_window_funcs" ->
      """SELECT o_orderkey,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  ROUND(percent_rank() OVER w, 6) AS pr,
        |  ROUND(cume_dist() OVER w, 6) AS cd,
        |  first_value(o_totalprice) OVER wf AS first_price,
        |  last_value(o_totalprice) OVER wf AS last_price,
        |  nth_value(o_totalprice, 2) OVER wf AS second_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_orderdate, o_orderkey),
        |       wf AS (PARTITION BY o_orderpriority
        |              ORDER BY o_orderdate, o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
    "q39_try_cast" ->
      """SELECT p_partkey,
        |  TRY_CAST(p_name AS INT) AS bad_int,
        |  TRY_CAST(substr(p_name, 1, 3) AS DATE) AS bad_date,
        |  TRY_CAST(CAST(p_partkey AS VARCHAR) AS INT) AS good_int
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q40_lateral" ->
      """SELECT c.c_custkey, t.n,
        |  CAST(t.total AS DOUBLE) AS total
        |FROM customer c, LATERAL (
        |  SELECT COUNT(*) AS n,
        |    COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 0) AS total
        |  FROM orders o WHERE o.o_custkey = c.c_custkey) t
        |WHERE c.c_custkey % 100 = 0
        |ORDER BY c.c_custkey""".stripMargin,
    "q41_hash_sample" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
        |   CAST(l_linenumber AS VARCHAR)), 1, 2) < '1a'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q42_group_by_all" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders GROUP BY ALL
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "q43_gap_fill" ->
      """WITH spine AS (
        |  SELECT unnest(generate_series(DATE '1995-01-01', DATE '1995-03-31',
        |                                INTERVAL 1 DAY))::DATE AS d),
        |daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |    COUNT(*) AS n
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1995-04-01'
        |  GROUP BY 1)
        |SELECT spine.d, COALESCE(daily.n, 0) AS n,
        |  COALESCE(daily.total, CAST(0 AS DOUBLE)) AS total
        |FROM spine LEFT JOIN daily ON spine.d = daily.d
        |ORDER BY spine.d""".stripMargin,
    "q44_filter_clause" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  COUNT(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |    FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE)
        |    AS urgent_total
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "q45_argmax" ->
      """SELECT o_orderstatus,
        |  arg_max(o_orderkey, o_totalprice) AS top_order,
        |  arg_min(o_orderkey, o_totalprice) AS bottom_order,
        |  MAX(o_totalprice) AS top_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q48_cube" ->
      """SELECT CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |       CAST(grouping(o_orderpriority) AS INT) AS g_prio,
        |       o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST,
        |         o_orderpriority NULLS FIRST""".stripMargin,
    "q46_json_funcs" ->
      """WITH k AS (
        |  SELECT event_id,
        |    CAST(json_extract_string(props, '$.k') AS INT) AS k
        |  FROM events)
        |SELECT k % 10 AS k_mod, COUNT(*) AS n,
        |  CAST(SUM(k) AS BIGINT) AS sum_k
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    "q47_string_funcs" ->
      """SELECT p_partkey,
        |  CAST(levenshtein(p_name, reverse(p_name)) AS INT) AS lev_palin,
        |  translate(p_name, 'aeiou', 'AEIOU') AS vowelcaps,
        |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_padded,
        |  split_part(p_name, ' ', 1) AS first_word,
        |  repeat('*', CAST(p_size % 5 AS INT)) AS stars
        |FROM part ORDER BY p_partkey""".stripMargin,
    "p5_orc_roundtrip" ->
      """SELECT COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 97 = 0""".stripMargin,
    "p6_json_roundtrip" ->
      """SELECT COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 97 = 0""".stripMargin,
    "p1_csv_roundtrip" ->
      """SELECT COUNT(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_orderkey % 100 = 0""".stripMargin,
    "p2_multi_step" ->
      """WITH high_value AS (
        |  SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > 200000),
        |by_cust AS (
        |  SELECT o_custkey, COUNT(*) AS n,
        |   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |  FROM high_value GROUP BY o_custkey)
        |SELECT b.o_custkey, c.c_name, b.n, b.total
        |FROM by_cust b JOIN customer c ON b.o_custkey = c.c_custkey
        |ORDER BY b.o_custkey""".stripMargin,
    "p3_expr_column" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount,
        | l_extendedprice * (1 - l_discount) AS net
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "p4_dq_metrics" ->
      """SELECT COUNT(*) AS n_rows,
        | CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_o_custkey,
        | CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_o_totalprice,
        | CAST(MAX(o_orderdate) AS TIMESTAMP) AS max_ts
        |FROM orders""".stripMargin,
    "t4_token_count" ->
      """SELECT doc_id,
        | CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens,
        | CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
        |   w -> CAST(ceil(length(w)/4.0) AS BIGINT))) AS BIGINT) AS est_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)
}
