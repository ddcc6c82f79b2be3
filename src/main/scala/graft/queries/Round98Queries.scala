package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.Drain.drain

/** Ninety-eighth batch — FIFO queue semantics in set algebra, alpha
  * compositing, and a streaming skyline twin:
  *
  *  - q141: FIFO cost allocation — receipts (even-supplier lineitems)
  *    matched to issues (odd-supplier lineitems) per part in ship-date
  *    order. The sequential queue semantics become set-based through
  *    the cumulative-interval trick: each flow's rows own disjoint
  *    [cum_start, cum_end) quantity ranges, and FIFO matching is
  *    exactly the pairwise overlap of those ranges — one range
  *    equi-join per part, no iteration. Matched quantity provably
  *    equals min(supply, demand) per part. Sort keys include quantity
  *    and price so any residual ties are full duplicates (allocation-
  *    invariant).
  *  - m33: Porter–Duff "over" compositing — the document raster
  *    blended onto its rotated twin with per-document alpha,
  *    out = (α·src + (255−α)·dst) div 255, all integer; per-document
  *    masses and extrema gated.
  *  - e33: q139's skyline with the per-customer aggregates maintained
  *    as a complete-mode streaming aggregation; the frontier window
  *    runs on drained state and the oracle is q139's verbatim —
  *    streaming lands the exact batch frontier.
  *
  * Scale: q141 shuffles each flow once on the part key (the window and
  * the range join share that partitioning); m33 is per-row integer
  * array arithmetic; e33's streaming state is one row per customer.
  *
  * Reference scope: beyond-reference LLM-pipeline surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round98Queries extends QueryModule {

  // ── q141: FIFO allocation via cumulative-interval overlap ─────────────

  def q141_fifo_allocation(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    def flow(pred: String): DataFrame = {
      val f = li.filter(expr(pred)).select(col("l_partkey").as("pk"),
        col("l_quantity").cast("long").as("qty"),
        expr("CAST(ROUND(l_extendedprice * 100 / l_quantity) AS BIGINT)")
          .as("unit_cents"),
        unix_micros(Tables.tsMicros(li.filter(expr(pred)), "l_shipdate"))
          .as("sd"),
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
      val w = Window.partitionBy(col("pk"))
        .orderBy(col("sd"), col("ok"), col("ln"), col("qty"),
          col("unit_cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      f.withColumn("cum_end", sum(col("qty")).over(w))
        .withColumn("cum_start", col("cum_end") - col("qty"))
    }
    val rec = flow("l_suppkey % 2 = 0").localCheckpoint(true)
    val iss = flow("l_suppkey % 2 = 1").localCheckpoint(true)
    val alloc = rec.as("r").join(iss.as("i"),
        col("r.pk") === col("i.pk") &&
          col("r.cum_start") < col("i.cum_end") &&
          col("i.cum_start") < col("r.cum_end"))
      .select(col("r.pk").as("pk"),
        (least(col("r.cum_end"), col("i.cum_end")) -
          greatest(col("r.cum_start"), col("i.cum_start")))
          .as("matched_qty"),
        col("r.unit_cents").as("unit_cents"))
      .groupBy(col("pk"))
      .agg(sum(col("matched_qty")).as("matched"),
        sum(col("matched_qty") * col("unit_cents")).as("cogs_cents"))
    val sup = rec.groupBy(col("pk")).agg(sum(col("qty")).as("supply"))
    val dem = iss.groupBy(col("pk")).agg(sum(col("qty")).as("demand"))
    alloc.join(sup, "pk").join(dem, "pk")
      .select(col("pk"), col("matched"), col("cogs_cents"),
        greatest(col("demand") - col("supply"), lit(0L)).as("unfilled"),
        greatest(col("supply") - col("demand"), lit(0L)).as("leftover"))
      .orderBy(col("pk"))
  }

  // ── m33: Porter–Duff over-compositing in exact integers ───────────────

  def m33_alpha_composite(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ImageExprs
    Tables.load(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 256).as("alpha"),
        ImageExprs.decodePixels(ImageExprs.encodeImageFromText(
          col("text"), "pgm", 8, 8)).as("src"),
        ImageExprs.decodePixels(ImageExprs.encodeImageFromText(
          expr("concat(substring(text, 2), substring(text, 1, 1))"),
          "pgm", 8, 8)).as("dst"))
      .selectExpr("doc_id", "alpha",
        """aggregate(zip_with(src, dst, (a, b) ->
          |  (alpha * CAST(a AS BIGINT)
          |   + (255 - alpha) * CAST(b AS BIGINT)) div 255),
          |  0L, (acc, x) -> acc + x) AS out_sum""".stripMargin,
        """array_min(zip_with(src, dst, (a, b) ->
          |  (alpha * CAST(a AS BIGINT)
          |   + (255 - alpha) * CAST(b AS BIGINT)) div 255)) AS out_min"""
          .stripMargin,
        """array_max(zip_with(src, dst, (a, b) ->
          |  (alpha * CAST(a AS BIGINT)
          |   + (255 - alpha) * CAST(b AS BIGINT)) div 255)) AS out_max"""
          .stripMargin)
      .orderBy(col("doc_id"))
  }

  // ── e33: streaming twin of the windowed skyline ───────────────────────

  def e33_stream_skyline(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
    val stream = Tables.stream(s, dir, "orders", orders.schema)
    val agg = stream.groupBy(col("o_custkey").as("c"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
          .as("spend_cents"))
    drain(agg, "complete")
      .select(col("c"), col("n_orders"),
        expr("spend_cents div n_orders").as("avg_cents"))
      .withColumn("best_above",
        max(col("n_orders")).over(Window
          .orderBy(col("avg_cents").desc, col("c"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("best_above").isNull ||
        col("n_orders") > col("best_above"))
      .select(col("c"), col("n_orders"), col("avg_cents"))
      .orderBy(col("c"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q141_fifo_allocation" -> (q141_fifo_allocation _),
    "m33_alpha_composite"  -> (m33_alpha_composite _),
    "e33_stream_skyline"   -> (e33_stream_skyline _))

  val oracles: Map[String, String] = Map(
    "q141_fifo_allocation" ->
      """WITH rec AS (
        |  SELECT l_partkey AS pk, CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(ROUND(l_extendedprice * 100 / l_quantity) AS BIGINT)
        |      AS unit_cents,
        |    SUM(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_partkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity,
        |        CAST(ROUND(l_extendedprice * 100 / l_quantity) AS BIGINT)
        |      ROWS UNBOUNDED PRECEDING) AS cum_end
        |  FROM lineitem WHERE l_suppkey % 2 = 0),
        |rec2 AS (SELECT pk, qty, unit_cents, cum_end - qty AS cum_start,
        |  cum_end FROM rec),
        |iss AS (
        |  SELECT l_partkey AS pk, CAST(l_quantity AS BIGINT) AS qty,
        |    SUM(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_partkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity,
        |        CAST(ROUND(l_extendedprice * 100 / l_quantity) AS BIGINT)
        |      ROWS UNBOUNDED PRECEDING) AS cum_end
        |  FROM lineitem WHERE l_suppkey % 2 = 1),
        |iss2 AS (SELECT pk, qty, cum_end - qty AS cum_start, cum_end
        |  FROM iss),
        |alloc AS (
        |  SELECT r.pk, CAST(SUM(
        |      LEAST(r.cum_end, i.cum_end)
        |      - GREATEST(r.cum_start, i.cum_start)) AS BIGINT) AS matched,
        |    CAST(SUM((LEAST(r.cum_end, i.cum_end)
        |      - GREATEST(r.cum_start, i.cum_start)) * r.unit_cents)
        |      AS BIGINT) AS cogs_cents
        |  FROM rec2 r JOIN iss2 i
        |    ON r.pk = i.pk AND r.cum_start < i.cum_end
        |    AND i.cum_start < r.cum_end
        |  GROUP BY r.pk),
        |sup AS (SELECT pk, CAST(SUM(qty) AS BIGINT) AS supply FROM rec2
        |  GROUP BY pk),
        |dem AS (SELECT pk, CAST(SUM(qty) AS BIGINT) AS demand FROM iss2
        |  GROUP BY pk)
        |SELECT a.pk, a.matched, a.cogs_cents,
        |  GREATEST(d.demand - s.supply, 0) AS unfilled,
        |  GREATEST(s.supply - d.demand, 0) AS leftover
        |FROM alloc a JOIN sup s ON a.pk = s.pk JOIN dem d ON a.pk = d.pk
        |ORDER BY a.pk""".stripMargin,
    "m33_alpha_composite" -> {
      def v(shift: Int, idx: String): String =
        s"ord(substr(text, CAST(((($idx) + $shift) % length(text)) + 1 AS INT), 1)) % 256"
      s"""SELECT doc_id, CAST(doc_id % 256 AS BIGINT) AS alpha,
        |  CAST(list_sum(list_transform(range(0, 64), i ->
        |    ((doc_id % 256) * (${v(0, "i")})
        |     + (255 - doc_id % 256) * (${v(1, "i")})) // 255))
        |    AS BIGINT) AS out_sum,
        |  CAST(list_min(list_transform(range(0, 64), i ->
        |    ((doc_id % 256) * (${v(0, "i")})
        |     + (255 - doc_id % 256) * (${v(1, "i")})) // 255))
        |    AS BIGINT) AS out_min,
        |  CAST(list_max(list_transform(range(0, 64), i ->
        |    ((doc_id % 256) * (${v(0, "i")})
        |     + (255 - doc_id % 256) * (${v(1, "i")})) // 255))
        |    AS BIGINT) AS out_max
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    "e33_stream_skyline" -> Round97Queries.oracles("q139_skyline"))
}
