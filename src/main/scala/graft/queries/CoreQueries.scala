package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.Dialect

/** The SQL-dialect capability inventory (SURVEY.md §2B) expressed as
  * idiomatic DataFrame pipelines, each with a DuckDB oracle.
  *
  * Determinism conventions (the driver hash-compares against DuckDB):
  *  - every query ends in an ORDER BY over a unique key prefix;
  *  - floating-point aggregates go through exact DECIMAL(18,s) sums and are
  *    cast back to DOUBLE, so the value is independent of accumulation order
  *    (a distributed sum of doubles is not);
  *  - aggregate/computed columns are aliased identically on both sides;
  *  - BIGINT-vs-INT type mismatches (DuckDB `length`, `EXTRACT`, `SUM(INT)`)
  *    are normalized by explicit casts in the oracle SQL.
  */
object CoreQueries extends QueryModule {

  private def dec(c: Column, scale: Int = 4): Column = c.cast(DecimalType(18, scale))
  /** Order-independent double sum: exact DECIMAL accumulation, rounded
    * to 2dp BEFORE the double cast. The round matters at scale: the r12
    * sf1 run caught q1's 17-significant-digit DECIMAL(18,6) sum
    * converting to double one ulp apart in Spark vs DuckDB
    * (…817.5429 vs …817.54289); at 2dp the value is far inside the
    * double's exact range for any harness scale factor, so both
    * engines produce the identical bits. */
  private def dsum(c: Column, scale: Int = 4): Column =
    round(sum(dec(c, scale)), 2).cast(DoubleType)
  /** Order-independent double mean built from exact sum / count. */
  private def davg(c: Column, scale: Int = 4): Column =
    (round(sum(dec(c, scale)), 2).cast(DoubleType) /
      count(c)).cast(DoubleType)

  // ── q1: scan → hash aggregate (partial+final), conditional-free ──────────
  def q1_agg(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  // ── q2: filter + projection; predicates and pruning push to parquet ──────
  def q2_filter(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .filter(
        col("l_shipdate") >= lit("1998-01-01").cast(TimestampType) &&
        col("l_shipdate") <  lit("1999-01-01").cast(TimestampType) &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("l_discount"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  // ── q3: 3-way join + group agg (TPC-H Q3 shape); dims broadcast ─────────
  def q3_join_agg(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.load(s, dir, "orders")
    val l = Tables.load(s, dir, "lineitem")
    // no broadcast hint on customer: it is only conditionally small (the
    // segment filter), so let AQE pick from runtime stats; nation/region
    // style bounded dims (q7) do get explicit hints.
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(o("o_orderkey"), o("o_orderdate").cast(DateType).as("o_orderdate"), o("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
      .orderBy(col("o_orderkey"))
  }

  // ── q4: LEFT JOIN + COALESCE + CASE WHEN + date_trunc week (flagship
  //        shape: reference prompt.txt:16-78) ─────────────────────────────
  def q4_weekly(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val l = Tables.load(s, dir, "lineitem")
    o.join(l, o("o_orderkey") === l("l_orderkey"), "left")
      .groupBy(
        date_trunc("week", o("o_orderdate")).cast(DateType).as("week"),
        o("o_orderpriority").as("priority"))
      .agg(
        dsum(coalesce(l("l_extendedprice"), lit(0.0)) * (lit(1.0) - coalesce(l("l_discount"), lit(0.0))), 6)
          .as("revenue"),
        dsum(when(l("l_returnflag") === "R", l("l_quantity")).otherwise(lit(0.0))).as("returned_qty"),
        count(l("l_orderkey")).as("n_items"))
      .orderBy(col("week"), col("priority"))
  }

  // ── q5: window functions — row_number + exact running sum ───────────────
  def q5_window(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data at
    // larger scale factors — extend the order to a total order so rank
    // assignment is engine-independent
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_partkey"))
    Tables.load(s, dir, "lineitem")
      .select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        row_number().over(w).cast(LongType).as("rn"), // DuckDB ROW_NUMBER is BIGINT
        sum(dec(col("l_quantity"))).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast(DoubleType).as("running_qty"),
        lag(col("l_quantity"), 1).over(w).as("prev_qty"))
      .orderBy(col("l_suppkey"), col("rn"))
  }

  // ── q6: CTE + multi-format date parse with null-on-failure fallback
  //        (reference prompt.txt:24-30 try_strptime chain) ────────────────
  def q6_dateparse(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val ds = when(col("o_orderkey") % 2 === 0, date_format(col("o_orderdate"), "yyyy-MM-dd"))
      .otherwise(date_format(col("o_orderdate"), "MM/dd/yyyy"))
    o.select(col("o_orderkey"), ds.as("ds"))
      .select(
        col("o_orderkey"), col("ds"),
        coalesce(
          Dialect.tryStrptime(col("ds"), "%m/%d/%Y"),
          Dialect.tryStrptime(col("ds"), "%Y-%m-%d")).cast(DateType).as("parsed"))
      .orderBy(col("o_orderkey"))
  }

  // ── q7: ROLLUP over region→nation with exact double agg ─────────────────
  def q7_rollup(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
    val n = Tables.load(s, dir, "nation")
    val r = Tables.load(s, dir, "region")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("total_bal"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  // ── q8: set operations — INTERSECT / EXCEPT with tags ───────────────────
  def q8_setops(s: SparkSession, dir: String): DataFrame = {
    val cn = Tables.load(s, dir, "customer")
      .select(col("c_nationkey").as("nationkey")).distinct()
    val sn = Tables.load(s, dir, "supplier")
      .select(col("s_nationkey").as("nationkey")).distinct()
    val both = cn.intersect(sn).withColumn("tag", lit("both"))
    val cOnly = cn.except(sn).withColumn("tag", lit("cust_only"))
    val sOnly = sn.except(cn).withColumn("tag", lit("supp_only"))
    both.unionByName(cOnly).unionByName(sOnly)
      .select(col("tag"), col("nationkey"))
      .orderBy(col("tag"), col("nationkey"))
  }

  // ── q9: semi / anti joins (EXISTS / NOT EXISTS) ─────────────────────────
  def q9_semi_anti(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
    val o = Tables.load(s, dir, "orders")
    val has = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(lit("has_order").as("tag"), col("c_custkey"))
    val not = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(lit("no_order").as("tag"), col("c_custkey"))
    has.unionByName(not).orderBy(col("tag"), col("c_custkey"))
  }

  // ── q10: top-k — ORDER BY ... LIMIT plans as TakeOrderedAndProject ──────
  def q10_topk(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)

  // ── q11: exact distinct aggregates ──────────────────────────────────────
  def q11_distinct(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .agg(
        countDistinct(col("l_partkey")).as("distinct_parts"),
        countDistinct(col("l_suppkey")).as("distinct_supps"),
        countDistinct(col("l_orderkey")).as("distinct_orders"),
        count(lit(1)).as("n_rows"))

  // ── q12: scalar CASE WHEN buckets + grouped agg ─────────────────────────
  def q12_case(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy(
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high")
          .otherwise("low").as("prio"),
        col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(col("prio"), col("o_orderstatus"))

  // ── q13: date_trunc month + EXTRACT year ────────────────────────────────
  def q13_month(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy(
        date_trunc("month", col("o_orderdate")).cast(DateType).as("month"),
        year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
      .orderBy(col("month"))

  // ── q14: string functions — upper/substring/length/concat/LIKE ──────────
  def q14_strings(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "part")
      .filter(col("p_name").contains("a"))
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        substring(col("p_name"), 1, 10).as("name10"),
        length(col("p_name")).as("name_len"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"))
      .orderBy(col("p_partkey"))

  // ── q15: scalar subquery (above-average filter), exact threshold ────────
  def q15_subquery(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(s, dir, "part")
    val thr = p.agg(
      (round(sum(dec(col("p_retailprice"))), 2)
        .cast(DoubleType) / count(lit(1))).as("thr"))
    p.crossJoin(broadcast(thr))
      .filter(col("p_retailprice") > col("thr"))
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
      .orderBy(col("p_partkey"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg"       -> (q1_agg _),
    "q2_filter"    -> (q2_filter _),
    "q3_join_agg"  -> (q3_join_agg _),
    "q4_weekly"    -> (q4_weekly _),
    "q5_window"    -> (q5_window _),
    "q6_dateparse" -> (q6_dateparse _),
    "q7_rollup"    -> (q7_rollup _),
    "q8_setops"    -> (q8_setops _),
    "q9_semi_anti" -> (q9_semi_anti _),
    "q10_topk"     -> (q10_topk _),
    "q11_distinct" -> (q11_distinct _),
    "q12_case"     -> (q12_case _),
    "q13_month"    -> (q13_month _),
    "q14_strings"  -> (q14_strings _),
    "q15_subquery" -> (q15_subquery _))

  val oracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
        | CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
        | CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price,
        | CAST(CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) / COUNT(l_quantity) AS DOUBLE) AS avg_qty,
        | COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_filter" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q3_join_agg" ->
      """SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS o_orderdate, o.o_orderpriority,
        | CAST(ROUND(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
        |ORDER BY o.o_orderkey""".stripMargin,
    "q4_weekly" ->
      """SELECT CAST(date_trunc('week', o.o_orderdate) AS DATE) AS week,
        | o.o_orderpriority AS priority,
        | CAST(ROUND(SUM(CAST(COALESCE(l.l_extendedprice, 0.0) * (1.0 - COALESCE(l.l_discount, 0.0)) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
        | CAST(ROUND(SUM(CAST(CASE WHEN l.l_returnflag = 'R' THEN l.l_quantity ELSE 0.0 END AS DECIMAL(18,4))), 2) AS DOUBLE) AS returned_qty,
        | COUNT(l.l_orderkey) AS n_items
        |FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q5_window" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        | ROW_NUMBER() OVER w AS rn,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) OVER (w ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_qty,
        | LAG(l_quantity, 1) OVER w AS prev_qty
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_partkey)
        |ORDER BY l_suppkey, rn""".stripMargin,
    "q6_dateparse" ->
      """WITH s AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 2 = 0 THEN strftime(o_orderdate, '%Y-%m-%d')
        |         ELSE strftime(o_orderdate, '%m/%d/%Y') END AS ds
        |  FROM orders)
        |SELECT o_orderkey, ds,
        |  CAST(COALESCE(try_strptime(ds, '%m/%d/%Y'), try_strptime(ds, '%Y-%m-%d')) AS DATE) AS parsed
        |FROM s ORDER BY o_orderkey""".stripMargin,
    "q7_rollup" ->
      """SELECT r_name, n_name, COUNT(*) AS n_customers,
        | CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "q8_setops" ->
      """SELECT 'both' AS tag, nationkey FROM
        | (SELECT DISTINCT c_nationkey AS nationkey FROM customer
        |  INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'cust_only', nationkey FROM
        | (SELECT DISTINCT c_nationkey AS nationkey FROM customer
        |  EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'supp_only', nationkey FROM
        | (SELECT DISTINCT s_nationkey AS nationkey FROM supplier
        |  EXCEPT SELECT DISTINCT c_nationkey FROM customer)
        |ORDER BY tag, nationkey""".stripMargin,
    "q9_semi_anti" ->
      """SELECT 'has_order' AS tag, c_custkey FROM customer c
        | WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |UNION ALL
        |SELECT 'no_order', c_custkey FROM customer c
        | WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY tag, c_custkey""".stripMargin,
    "q10_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q11_distinct" ->
      """SELECT COUNT(DISTINCT l_partkey) AS distinct_parts,
        | COUNT(DISTINCT l_suppkey) AS distinct_supps,
        | COUNT(DISTINCT l_orderkey) AS distinct_orders,
        | COUNT(*) AS n_rows
        |FROM lineitem""".stripMargin,
    "q12_case" ->
      """SELECT CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'high' ELSE 'low' END AS prio,
        | o_orderstatus, COUNT(*) AS n,
        | CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q13_month" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        | CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
        | COUNT(*) AS n_orders,
        | CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_price
        |FROM orders GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q14_strings" ->
      """SELECT p_partkey, upper(p_brand) AS brand_u, substr(p_name, 1, 10) AS name10,
        | CAST(length(p_name) AS INT) AS name_len,
        | p_brand || '#' || p_type AS brand_type
        |FROM part WHERE p_name LIKE '%a%'
        |ORDER BY p_partkey""".stripMargin,
    "q15_subquery" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |WHERE p_retailprice > (
        |  SELECT CAST(ROUND(SUM(CAST(p_retailprice AS DECIMAL(18,4))), 2) AS DOUBLE) / COUNT(*) FROM part)
        |ORDER BY p_partkey""".stripMargin)
}
