package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import DecimalSums.dec

/** Forty-first batch — table-format lifecycle, corpus growth law, and a
  * dialect staple:
  *
  *  - p33: snapshot EXPIRATION on the p19 Iceberg-lite manifest — the
  *    retention step every versioned table needs: compact, then expire
  *    old versions and physically delete the files no surviving version
  *    references. Reads of the live version survive; reads of the
  *    expired version fail loudly (and the query proves both).
  *  - t28: Heaps'-law fit — vocabulary growth V ≈ K·Nᵝ over the corpus
  *    in ingest order, the companion scaling law to t13's Zipf fit
  *    (β ≈ 0.4–0.6 for natural text; saturating vocabulary = duplicated
  *    or templated corpus).
  *  - q94: ordered string aggregation (listagg/string_agg) — the
  *    report-layer dialect staple, deterministic via sorted DISTINCT.
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round41Queries extends QueryModule {

  // ── p33: v1 = pre-1997 orders (2 files), v2 = v1 + the 1997+ delta
  //        (2 more files), v3 = COMPACTION of v2's content into 2 fresh
  //        files. Retention keeps only v3: expired files = (v1 ∪ v2
  //        files) \ v3 files, physically deleted. Output: the surviving
  //        version's aggregate (must equal the full table — compaction
  //        and expiration are storage moves, not data changes), the
  //        file bookkeeping, and proof the expired version now throws. ──
  def p33_snapshot_expire(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val base = graft.Scratch.dir("p33_v1", dir)
    val delta = graft.Scratch.dir("p33_delta", dir)
    val compacted = graft.Scratch.dir("p33_v3", dir)
    val ord = Tables.load(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderdate"), col("o_totalprice"))
    ord.filter(col("o_orderdate") < "1997-01-01")
      .repartition(2).write.mode("overwrite").parquet(base)
    ord.filter(col("o_orderdate") >= "1997-01-01")
      .repartition(2).write.mode("overwrite").parquet(delta)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      s.sparkContext.hadoopConfiguration)
    def files(d: String): Seq[String] =
      fs.listStatus(new Path(d)).map(_.getPath.toString)
        .filter(_.contains("part-")).toSeq.sorted
    val v1 = files(base)
    val v2 = v1 ++ files(delta)
    s.read.parquet(v2: _*).repartition(2)
      .write.mode("overwrite").parquet(compacted)
    val v3 = files(compacted)
    // retention = keep the latest version only; delete unreferenced files
    val doomed = (v1 ++ files(delta)).toSet -- v3.toSet
    doomed.foreach(f => fs.delete(new Path(f), false))
    val expiredUnreadable =
      try { s.read.parquet(v1: _*).count(); false }
      catch { case _: Throwable => true }
    s.read.parquet(v3: _*)
      .agg(count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"), 2)).cast(DoubleType).as("total"))
      .withColumn("n_files_before", lit(v2.size.toLong))
      .withColumn("n_files_deleted", lit(doomed.size.toLong))
      .withColumn("n_files_live", lit(v3.size.toLong))
      .withColumn("expired_unreadable", lit(expiredUnreadable))
  }

  // ── t28: per-doc token counts and first-sighting type counts (the
  //        min-doc_id trick t27 uses), cumulated in doc_id order — the
  //        windows run over the 500-row DOC aggregate, not the corpus —
  //        then t13's rounded-DECIMAL least squares on the log-log
  //        points. ──────────────────────────────────────────────────────
  def t28_heaps_law(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.Text.tokens(col("text"))).as("w"))
    val perDoc = tok.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"))
    val newTypes = tok.groupBy(col("w"))
      .agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_new"))
    // cumulative corpus position via Rank.prefixSum (the distributed
    // parallel-scan shape), not an unpartitioned running-sum window: the
    // frame is one row per document — corpus-proportional
    val base = perDoc.join(newTypes, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    val pts = graft.operators.Rank.prefixSum(
        graft.operators.Rank.prefixSum(base,
          "cum_tok", col("n_tok"), col("doc_id")),
        "cum_typ", col("n_new"), col("doc_id"))
      .select(log(col("cum_tok").cast(DoubleType)).as("x"),
        log(col("cum_typ").cast(DoubleType)).as("y"))
    val sums = pts.agg(
      count(lit(1)).cast(DoubleType).as("n"),
      sum(round(col("x"), 12).cast(DecimalType(28, 12)))
        .cast(DoubleType).as("sx"),
      sum(round(col("y"), 12).cast(DecimalType(28, 12)))
        .cast(DoubleType).as("sy"),
      sum(round(col("x") * col("y"), 12).cast(DecimalType(28, 12)))
        .cast(DoubleType).as("sxy"),
      sum(round(col("x") * col("x"), 12).cast(DecimalType(28, 12)))
        .cast(DoubleType).as("sxx"))
    sums.select(col("n").cast(LongType).as("n_docs"),
      round((col("sxy") - col("sx") * col("sy") / col("n")) /
        (col("sxx") - col("sx") * col("sx") / col("n")), 6).as("beta"),
      round((col("sy") - (col("sxy") - col("sx") * col("sy") / col("n")) /
        (col("sxx") - col("sx") * col("sx") / col("n")) * col("sx")) /
        col("n"), 6).as("intercept"))
  }

  // ── q94: sorted-distinct CSV of part names per brand. ────────────────
  def q94_string_agg(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "part")
      .groupBy(col("p_brand"))
      .agg(countDistinct(col("p_name")).as("n_names"),
        concat_ws(",", sort_array(collect_set(col("p_name"))))
          .as("names_csv"))
      .orderBy(col("p_brand"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p33_snapshot_expire" -> (p33_snapshot_expire _),
    "t28_heaps_law"       -> (t28_heaps_law _),
    "q94_string_agg"      -> (q94_string_agg _))

  val oracles: Map[String, String] = Map(
    "p33_snapshot_expire" ->
      """SELECT COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total,
        |  CAST(4 AS BIGINT) AS n_files_before,
        |  CAST(4 AS BIGINT) AS n_files_deleted,
        |  CAST(2 AS BIGINT) AS n_files_live,
        |  TRUE AS expired_unreadable
        |FROM orders""".stripMargin,
    "t28_heaps_law" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents),
        |per_doc AS (SELECT doc_id, COUNT(*) AS n_tok FROM tok GROUP BY 1),
        |fs AS (SELECT w, MIN(doc_id) AS doc_id FROM tok GROUP BY 1),
        |nn AS (SELECT doc_id, COUNT(*) AS n_new FROM fs GROUP BY 1),
        |pts AS (
        |  SELECT ln(CAST(SUM(p.n_tok) OVER (ORDER BY p.doc_id
        |      ROWS UNBOUNDED PRECEDING) AS DOUBLE)) AS x,
        |    ln(CAST(SUM(COALESCE(nn.n_new, 0)) OVER (ORDER BY p.doc_id
        |      ROWS UNBOUNDED PRECEDING) AS DOUBLE)) AS y
        |  FROM per_doc p LEFT JOIN nn ON nn.doc_id = p.doc_id),
        |sums AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(ROUND(x, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(ROUND(y, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(ROUND(x*y, 12) AS DECIMAL(28,12))) AS DOUBLE)
        |      AS sxy,
        |    CAST(SUM(CAST(ROUND(x*x, 12) AS DECIMAL(28,12))) AS DOUBLE)
        |      AS sxx
        |  FROM pts)
        |SELECT CAST(n AS BIGINT) AS n_docs,
        |  ROUND((sxy - sx*sy/n) / (sxx - sx*sx/n), 6) AS beta,
        |  ROUND((sy - (sxy - sx*sy/n) / (sxx - sx*sx/n) * sx) / n, 6)
        |    AS intercept
        |FROM sums""".stripMargin,
    "q94_string_agg" ->
      """SELECT p_brand,
        |  CAST(COUNT(DISTINCT p_name) AS BIGINT) AS n_names,
        |  string_agg(DISTINCT p_name, ',' ORDER BY p_name) AS names_csv
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin)
}
