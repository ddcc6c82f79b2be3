package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Sixty-first batch — grouped quantile serving, ASR chunking,
  * survivorship:
  *
  *  - a17: per-group histogram quantiles — the per-segment p50/p90/p99
  *    every latency/price dashboard serves: ONE grouped (flag, bin)
  *    aggregate collapses the table, then rank extraction windows over
  *    the sketch PARTITIONED BY GROUP (each group's cumulative scan is
  *    its own ≤bins-row partition — the grouped generalization of a9's
  *    global histogram, no single-partition bottleneck).
  *  - m17: overlapping audio windows — the ASR ingestion chunking
  *    (Whisper-style fixed windows with overlap) over REAL decoded PCM:
  *    the WAV payload round-trips through the header parse
  *    (decode_audio_samples, the audio mirror of m16's decode_pixels), and
  *    each 16-sample window on a 12-sample hop reduces to its exact
  *    Σs² energy. Expression-only per row, t34's audio twin; the oracle
  *    replays the PCM closed form (sample i = (cp·257 mod 2¹⁶) − 2¹⁵).
  *  - d32: survivorship (golden records) — the step after d24's entity
  *    resolution that MDM pipelines actually ship: each matched entity
  *    collapses to one canonical record by deterministic rules (min-id
  *    survivor, its name via min_by, max balance across duplicates),
  *    and unmatched records pass through as their own golden rows.
  *    Components + two bounded joins; the oracle replays the same rules
  *    over the recursive-closure labels.
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round61Queries extends QueryModule {

  private val BinW = 100000L // $1000 bins over price cents
  private val Qs = Seq(50, 90, 99)

  def a17_grouped_quantiles(s: SparkSession, dir: String): DataFrame = {
    val cents = Tables.load(s, dir, "lineitem").select(
      col("l_returnflag").as("g"),
      expr("cast(round(l_extendedprice * 100) as bigint)").as("v"))
    val hist = cents
      .groupBy(col("g"), expr(s"v div $BinW").as("bin"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("g")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(w))
    val tot = hist.groupBy(col("g")).agg(sum(col("cnt")).as("n"))
    val probes = tot.crossJoin(
        s.createDataFrame(Qs.map(Tuple1(_))).toDF("q")
          .select(col("q").cast("long").as("q")))
      .withColumn("rank", expr("(q * n + 99) div 100"))
    probes.join(cum, Seq("g"))
      .filter(col("cum") >= col("rank"))
      .groupBy(col("g"), col("q"), col("rank"), col("n"))
      .agg(min(col("bin")).as("bin"))
      .select(col("g"), col("q"), col("rank"), col("n"),
        (col("bin") * BinW).as("est_lo"),
        ((col("bin") + 1) * BinW - 1).as("est_hi"))
      .orderBy(col("g"), col("q"))
  }

  private val WinLen = 16
  private val Hop = 12
  private val NSamples = 64

  def m17_audio_windows(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.AudioExprs
    val pcm = Tables.load(s, dir, "documents").select(col("doc_id"),
      AudioExprs.decodeSamples(
        AudioExprs.encodeWavFromText(col("text"), sampleRate = 16000,
          n = NSamples)).as("pcm"))
    pcm.select(col("doc_id"), col("pcm"),
        posexplode(sequence(lit(0), lit(NSamples - 1), lit(Hop)))
          .as(Seq("win_id", "start")))
      .select(col("doc_id"), col("win_id").cast("long"),
        col("start").cast("long"),
        expr(s"cast(least($WinLen, $NSamples - start) as bigint)")
          .as("n_samp"),
        expr(s"""aggregate(slice(pcm, start + 1, $WinLen),
                | cast(0 as bigint),
                | (a, x) -> a + cast(x as bigint) * x)""".stripMargin)
          .as("energy"))
      .orderBy(col("doc_id"), col("win_id"))
  }

  def d32_survivorship(s: SparkSession, dir: String): DataFrame = {
    val rec = Round31Queries.d24Records(s, dir).localCheckpoint(true)
    val comp = graft.operators.Graph.connectedComponents(
      Round31Queries.d24Edges(s, dir), "ia", "ib")
    val matched = rec.join(comp, rec("id") === comp("n"))
      .groupBy(col("l").as("entity"))
      .agg(count(lit(1)).as("n_members"),
        min(col("id")).as("survivor_id"),
        min_by(col("name"), col("id")).as("survivor_name"),
        max(col("balc")).as("max_balc"))
    val singletons = rec.join(comp.select(col("n")),
        rec("id") === col("n"), "left_anti")
      .select(col("id").as("entity"), lit(1L).as("n_members"),
        col("id").as("survivor_id"), col("name").as("survivor_name"),
        col("balc").as("max_balc"))
    matched.unionByName(singletons).orderBy(col("entity"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a17_grouped_quantiles" -> (a17_grouped_quantiles _),
    "m17_audio_windows"     -> (m17_audio_windows _),
    "d32_survivorship"      -> (d32_survivorship _))

  /** Closed-form PCM sample `i` of the WAV round-trip (the m10 oracle
    * convention): ((codepoint(text[i mod len])·257) mod 2¹⁶) − 2¹⁵. */
  private def pcmSql(i: String): String =
    s"((ord(substr(text, CAST((($i) % len) + 1 AS INT), 1)) * 257) % 65536" +
      " - 32768)"

  val oracles: Map[String, String] = Map(
    "a17_grouped_quantiles" ->
      s"""WITH cents AS (
        |  SELECT l_returnflag AS g,
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v
        |  FROM lineitem),
        |hist AS (
        |  SELECT g, v // $BinW AS bin, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM cents GROUP BY 1, 2),
        |cum AS (
        |  SELECT g, bin, cnt,
        |    CAST(SUM(cnt) OVER (PARTITION BY g ORDER BY bin) AS BIGINT)
        |      AS cum
        |  FROM hist),
        |tot AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS n FROM hist GROUP BY 1),
        |probes AS (
        |  SELECT tot.g, q.q, tot.n, (q.q * tot.n + 99) // 100 AS rank
        |  FROM tot CROSS JOIN (VALUES (${Qs.mkString("), (")})) q(q)),
        |hit AS (
        |  SELECT p.g, p.q, p.rank, p.n, MIN(c.bin) AS bin
        |  FROM probes p JOIN cum c ON c.g = p.g AND c.cum >= p.rank
        |  GROUP BY 1, 2, 3, 4)
        |SELECT g, CAST(q AS BIGINT) AS q, rank, n,
        |  bin * $BinW AS est_lo, (bin + 1) * $BinW - 1 AS est_hi
        |FROM hit ORDER BY g, q""".stripMargin,
    "m17_audio_windows" -> {
      val terms = (0 until WinLen).map { j =>
        s"CASE WHEN start + $j < $NSamples THEN " +
          s"CAST(${pcmSql(s"start + $j")} AS BIGINT) * ${pcmSql(s"start + $j")}" +
          " ELSE 0 END"
      }.mkString("\n    + ")
      s"""WITH g AS (
        |  SELECT doc_id, text, length(text) AS len FROM documents),
        |st AS (
        |  SELECT doc_id, text, len, unnest(range(0, $NSamples, $Hop)) AS start
        |  FROM g)
        |SELECT doc_id, start // $Hop AS win_id, start,
        |  least($WinLen, $NSamples - start) AS n_samp,
        |  $terms AS energy
        |FROM st ORDER BY doc_id, win_id""".stripMargin
    },
    "d32_survivorship" ->
      s"""WITH RECURSIVE ${Round31Queries.d24CtesSql},
        |matched AS (
        |  SELECT lab.l AS entity, CAST(COUNT(*) AS BIGINT) AS n_members,
        |    MIN(rec.id) AS survivor_id,
        |    arg_min(rec.name, rec.id) AS survivor_name,
        |    MAX(rec.balc) AS max_balc
        |  FROM lab JOIN rec ON rec.id = lab.n
        |  GROUP BY lab.l),
        |singles AS (
        |  SELECT rec.id AS entity, CAST(1 AS BIGINT) AS n_members,
        |    rec.id AS survivor_id, rec.name AS survivor_name,
        |    rec.balc AS max_balc
        |  FROM rec WHERE rec.id NOT IN (SELECT n FROM lab))
        |SELECT * FROM matched
        |UNION ALL SELECT * FROM singles
        |ORDER BY entity""".stripMargin)
}
