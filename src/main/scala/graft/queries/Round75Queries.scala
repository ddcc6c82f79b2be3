package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.Tables

/** Seventy-fifth batch — table-maintenance GC, the PIVOT construct, and
  * Good-Turing frequency re-estimation:
  *
  *  - p40: orphan-file audit + GC, the lakehouse janitor job. A table
  *    directory holds 2 manifest-committed parquet files plus two
  *    orphans a crashed writer would leave (an uncommitted `part-…`
  *    copy and a `_temporary/` task attempt). The audit lists the
  *    directory, anti-joins against the manifest, physically deletes
  *    the unreferenced files, and proves (a) the committed data
  *    survived byte-for-byte (aggregate unchanged) and (b) the listing
  *    now matches the manifest exactly. Metadata-plane work: the data
  *    files are only ever READ through the manifest, never the orphan
  *    copies — which is the invariant that makes the deletion safe.
  *  - q115: PIVOT — the day × event_type count matrix via
  *    `groupBy().pivot(values).count()` with the value list pinned
  *    (deterministic schema; Spark would otherwise launch a distinct
  *    scan and column order would float). Oracle: conditional
  *    aggregation, the relational spelling of the same rotation.
  *  - t43: Good-Turing count-of-counts smoothing (the classic LM mass
  *    re-estimator): over word-trigram frequencies r, N_r = |{g : c(g)=r}|,
  *    and the adjusted count r* = (r+1)·N_{r+1}/N_r, emitted ppm via
  *    integer division for r = 1..10. The whole query runs on the
  *    count-of-counts table (≤ max-frequency rows) after one vocab
  *    aggregate.
  *
  * Reference scope: beyond-reference LLM-pipeline + analytics surface
  * (the reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round75Queries extends QueryModule {

  // ── p40: orphan-file audit + physical GC ──────────────────────────────

  def p40_orphan_files(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val table = graft.Scratch.dir("p40_table", dir)
    val ord = Tables.load(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderdate"), col("o_totalprice"))
    ord.repartition(2).write.mode("overwrite").parquet(table)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      s.sparkContext.hadoopConfiguration)
    def dataFiles(): Seq[String] =
      fs.listStatus(new Path(table)).map(_.getPath.toString)
        .filter(_.contains("part-")).toSeq.sorted
    val manifest = dataFiles() // the 2 committed files
    // a crashed writer's droppings: an uncommitted part copy + a task
    // attempt under _temporary (both would double-count if ever scanned)
    val orphanPart = new Path(table, "part-09999-orphan-copy.parquet")
    fs.delete(orphanPart, false)
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(manifest.head), fs,
      orphanPart, false, s.sparkContext.hadoopConfiguration)
    val tmpDir = new Path(table, "_temporary/0/task_0001")
    fs.mkdirs(tmpDir)
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(manifest.head), fs,
      new Path(tmpDir, "part-00000.parquet"), false,
      s.sparkContext.hadoopConfiguration)
    // the audit: everything under the table root that is not in the
    // manifest is an orphan — delete it
    def listAll(p: Path): Seq[Path] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) listAll(st.getPath) else Seq(st.getPath)
      }
    val listed = listAll(new Path(table))
      .filterNot(_.getName.startsWith("_SUCCESS"))
    val orphans = listed.filterNot(p => manifest.contains(p.toString))
    orphans.foreach(p => fs.delete(p, false))
    fs.delete(new Path(table, "_temporary"), true)
    val after = dataFiles()
    s.read.parquet(manifest: _*)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("total"))
      .withColumn("n_manifest", lit(manifest.size.toLong))
      .withColumn("n_orphans_deleted", lit(orphans.size.toLong))
      .withColumn("clean_after", lit(after == manifest))
  }

  // ── q115: PIVOT (month × event_type counts) ───────────────────────────

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  def q115_pivot(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    ev.select(date_format(Tables.tsMicros(ev), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .groupBy(col("day"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .na.fill(0L, EventTypes)
      .orderBy(col("day"))
  }

  // ── t43: Good-Turing count-of-counts ──────────────────────────────────

  def t43_good_turing(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    // word TRIGRAMS, not unigrams: the synthetic vocabulary is 31 words
    // each occurring hundreds of times (no N_1 mass at all), while the
    // trigram counts show the classic Zipf tail GT exists to smooth
    val freq = Tables.load(s, dir, "documents")
      .select(explode(Text.shingles(col("text"), 3)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("r"))
    val coc = freq.groupBy(col("r")).agg(count(lit(1)).as("n_r"))
    val next = coc.select((col("r") - 1).as("r"), col("n_r").as("n_r1"))
    coc.join(next, Seq("r"), "left")
      .filter(col("r") <= 10)
      .select(col("r"), col("n_r"),
        coalesce(col("n_r1"), lit(0L)).as("n_r1"),
        expr("((r + 1) * coalesce(n_r1, 0) * 1000000) div n_r")
          .as("r_star_ppm"))
      .orderBy(col("r"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p40_orphan_files" -> (p40_orphan_files _),
    "q115_pivot"       -> (q115_pivot _),
    "t43_good_turing"  -> (t43_good_turing _))

  val oracles: Map[String, String] = Map(
    "p40_orphan_files" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CAST(2 AS BIGINT) AS n_manifest,
        |  CAST(2 AS BIGINT) AS n_orphans_deleted,
        |  TRUE AS clean_after
        |FROM orders""".stripMargin,
    "q115_pivot" ->
      """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "t43_good_turing" ->
      raw"""WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w,
        |    generate_subscripts(string_split_regex(trim(text), '\s+'), 1)
        |      AS pos
        |  FROM documents),
        |tri AS (
        |  SELECT w || ' ' || w2 || ' ' || w3 AS g FROM (
        |    SELECT doc_id, w,
        |      lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
        |      lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
        |    FROM tok) WHERE w2 IS NOT NULL AND w3 IS NOT NULL),
        |freq AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS r FROM tri GROUP BY 1),
        |coc AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM freq GROUP BY 1)
        |SELECT c.r, c.n_r, CAST(COALESCE(n1.n_r, 0) AS BIGINT) AS n_r1,
        |  ((c.r + 1) * COALESCE(n1.n_r, 0) * 1000000) // c.n_r AS r_star_ppm
        |FROM coc c LEFT JOIN coc n1 ON n1.r = c.r + 1
        |WHERE c.r <= 10 ORDER BY c.r""".stripMargin)
}
