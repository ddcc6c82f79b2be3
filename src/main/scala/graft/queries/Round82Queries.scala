package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables

/** Eighty-second batch — OHLC candles, a portable table checksum, and
  * ordered string aggregation:
  *
  *  - q121: daily OHLC candles over event values — open/close by
  *    first/last_value windows ordered (ts, event_id) (a total order, so
  *    both engines pick the same row even under timestamp ties),
  *    high/low/volume as plain aggregates, everything in exact cents.
  *    The time-series presentation shape OLAP stores ship natively.
  *  - p42: ORDER-INDEPENDENT table checksum — per-row md5 over the
  *    '|'-joined canonical column encoding, the 32 hex digits folded
  *    into a BIGINT through a position-weighted sum (pure built-in
  *    `aggregate`/`transform` — no UDF), summed across rows. Because
  *    the combine is +, the checksum is partition-order-free and
  *    mergeable — the reconciliation primitive for "did the copy land
  *    byte-identical" across clusters; here proven by re-writing the
  *    slice to parquet and re-checksumming the copy.
  *  - q122: LISTAGG / string_agg with deterministic ORDER BY — the
  *    dialect construct (Spark: sorted collect_list + array_join;
  *    DuckDB: string_agg ORDER BY), per-region nation rosters.
  *
  * Reference scope: beyond-reference analytics surface (the reference's
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round82Queries extends QueryModule {

  // ── q121: daily OHLC candles ──────────────────────────────────────────

  def q121_ohlc(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val e = ev.select(
      Tables.tsMicros(ev).cast("date").cast("string").as("day"),
      unix_micros(Tables.tsMicros(ev)).as("ts_us"), col("event_id"),
      round(col("value") * 100).cast(LongType).as("cents"))
    val asc = Window.partitionBy(col("day"))
      .orderBy(col("ts_us"), col("event_id"))
    val desc = Window.partitionBy(col("day"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    e.withColumn("open_c", first_value(col("cents")).over(asc))
      .withColumn("close_c", first_value(col("cents")).over(desc))
      .groupBy(col("day"))
      .agg(min(col("open_c")).as("open"), max(col("cents")).as("high"),
        min(col("cents")).as("low"), min(col("close_c")).as("close"),
        count(lit(1)).as("volume"))
      .orderBy(col("day"))
  }

  // ── p42: mergeable content checksum + copy reconciliation ─────────────

  /** Position-weighted BIGINT fold of an md5 hex string named `h` —
    * IDENTICAL SQL on both engines modulo the hex-digit lookup
    * function name (instr vs strpos). */
  private def hexFold(instrFn: String, castW: String => String): String = {
    val weights = Seq("268435456", "16777216", "1048576", "65536",
      "4096", "256", "16", "1").map(castW).mkString(",")
    s"""aggregate(sequence(0, 3), CAST(0 AS BIGINT), (acc, s) -> acc +
       | (s + 1) * aggregate(sequence(1, 8), CAST(0 AS BIGINT),
       |   (a, j) -> a + element_at(array($weights), j) *
       |     ($instrFn('0123456789abcdef', substring(h, s * 8 + j, 1)) - 1)))"""
      .stripMargin
  }

  private val canonCols =
    "concat_ws('|', CAST(o_orderkey AS STRING), CAST(o_custkey AS STRING)," +
      " o_orderstatus, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING)," +
      " CAST(o_orderdate AS STRING))"

  def p42_table_checksum(s: SparkSession, dir: String): DataFrame = {
    val copyDir = graft.Scratch.dir("p42_copy", dir)
    val orders = Tables.load(s, dir, "orders").select(col("o_orderkey"),
      col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
      col("o_orderdate"))
    def checksum(df: DataFrame): DataFrame = df
      .select(expr(s"md5($canonCols)").as("h"))
      .select(expr(hexFold("instr", w => w + "L")).as("rh"))
      .agg(count(lit(1)).as("n_rows"), sum(col("rh")).as("checksum"))
    orders.write.mode("overwrite").parquet(copyDir)
    val base = checksum(orders)
    val copy = checksum(s.read.parquet(copyDir))
      .select(col("n_rows").as("n2"), col("checksum").as("c2"))
    base.crossJoin(copy)
      .select(col("n_rows"), col("checksum"),
        (col("n_rows") === col("n2") && col("checksum") === col("c2"))
          .as("copy_matches"))
  }

  // ── q122: ordered LISTAGG ─────────────────────────────────────────────

  def q122_listagg(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "nation")
      .join(broadcast(Tables.load(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"))
      .agg(array_join(array_sort(collect_list(col("n_name"))), ",")
        .as("nations"),
        count(lit(1)).as("n_nations"))
      .orderBy(col("region"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q121_ohlc"          -> (q121_ohlc _),
    "p42_table_checksum" -> (p42_table_checksum _),
    "q122_listagg"       -> (q122_listagg _))

  val oracles: Map[String, String] = Map(
    "q121_ohlc" ->
      """WITH e AS (
        |  SELECT CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS VARCHAR)
        |    AS day,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id,
        |    CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |wv AS (
        |  SELECT day, cents,
        |    FIRST_VALUE(cents) OVER (PARTITION BY day
        |      ORDER BY ts_us, event_id) AS open_c,
        |    FIRST_VALUE(cents) OVER (PARTITION BY day
        |      ORDER BY ts_us DESC, event_id DESC) AS close_c
        |  FROM e)
        |SELECT day, CAST(MIN(open_c) AS BIGINT) AS open,
        |  CAST(MAX(cents) AS BIGINT) AS high,
        |  CAST(MIN(cents) AS BIGINT) AS low,
        |  CAST(MIN(close_c) AS BIGINT) AS close,
        |  CAST(COUNT(*) AS BIGINT) AS volume
        |FROM wv GROUP BY day ORDER BY day""".stripMargin,
    "p42_table_checksum" -> {
      val fold = {
        val weights = Seq("268435456", "16777216", "1048576", "65536",
          "4096", "256", "16", "1")
          .map(w => s"CAST($w AS BIGINT)").mkString(",")
        s"""list_sum(list_transform(range(0, 4), s ->
           | (s + 1) * list_sum(list_transform(range(1, 9),
           |   j -> ${"list_extract"}([${weights}], CAST(j AS INT)) *
           |     (strpos('0123456789abcdef',
           |        substr(h, CAST(s * 8 + j AS INT), 1)) - 1)))))"""
          .stripMargin
      }
      s"""WITH rh AS (
        |  SELECT md5(concat_ws('|', CAST(o_orderkey AS VARCHAR),
        |    CAST(o_custkey AS VARCHAR), o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
        |    CAST(o_orderdate AS VARCHAR))) AS h
        |  FROM orders)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM($fold) AS BIGINT) AS checksum,
        |  TRUE AS copy_matches
        |FROM rh""".stripMargin
    },
    "q122_listagg" ->
      """SELECT r.r_name AS region,
        |  string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
        |  CAST(COUNT(*) AS BIGINT) AS n_nations
        |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)
}
