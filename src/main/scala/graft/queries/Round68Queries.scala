package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Sixty-eighth batch — survival curves and classifier evaluation:
  *
  *  - q112: Kaplan-Meier user-survival curve (Kaplan & Meier 1958,
  *    public) — the retention statistic that handles CENSORING
  *    correctly: users whose last event falls on the observation
  *    boundary (Jan 30) are censored, not churned, so they leave the
  *    risk set without counting as deaths. Per-day births/deaths come
  *    from one per-user aggregate + two 30-cell prefix sums; the
  *    product-limit fold S_t = S_{t-1}·(n_t − d_t) div n_t runs on the
  *    integer lattice (micro-units, truncating division both engines
  *    share) over the 30-row day aggregate — driver-side like s8's
  *    centroid step and t17's argmax, state is the curve itself. The
  *    oracle replays the recurrence in a recursive CTE.
  *  - t40: language-ID confusion matrix — the evaluation face of t2:
  *    predicted vs declared language as a census, each cell carrying
  *    its share of the declared class in basis points (diagonal =
  *    per-class recall). Two group-bys; the matrix is |langs|²-bounded.
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round68Queries extends QueryModule {

  private val NDays = 30

  def q112_survival(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(s, dir, "events")
    val life = raw
      .select(col("user_id"),
        expr("datediff(to_date(ts), DATE '2024-01-01') + 1").as("day"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("b"), max(col("day")).as("d"))
      .withColumn("censored", col("d") >= NDays)
    val perDay = life
      .groupBy(col("b").as("day"))
      .agg(count(lit(1)).as("n_born"))
      .join(life.filter(!col("censored"))
        .groupBy(col("d").as("day")).agg(count(lit(1)).as("n_deaths")),
        Seq("day"), "full")
      .join(life.groupBy(col("d").as("day"))
        .agg(count(lit(1)).as("n_gone")), Seq("day"), "full")
      .select(col("day"), coalesce(col("n_born"), lit(0L)).as("n_born"),
        coalesce(col("n_deaths"), lit(0L)).as("n_deaths"),
        coalesce(col("n_gone"), lit(0L)).as("n_gone"))
      .collect().map(r => r.getAs[Long]("day") ->
        (r.getAs[Long]("n_born"), r.getAs[Long]("n_deaths"),
          r.getAs[Long]("n_gone"))).toMap
    // the curve itself is the state: 30 cells, folded sequentially (the
    // same driver-round-trip class as s8's centroids / t17's argmax)
    var bornCum = 0L; var goneCum = 0L; var sMicro = 1000000L
    val rows = (1 to NDays).map { day =>
      val (nb, nd, ng) = perDay.getOrElse(day.toLong, (0L, 0L, 0L))
      val nRisk = bornCum + nb - goneCum // at risk at start of day
      if (nRisk > 0) sMicro = sMicro * (nRisk - nd) / nRisk
      bornCum += nb; goneCum += ng
      (day.toLong, nb, nRisk, nd, sMicro)
    }
    val spark = s
    import spark.implicits._
    rows.toDF("day_idx", "n_born", "n_risk", "n_deaths", "survival_micro")
      .orderBy(col("day_idx"))
  }

  def t40_langid_confusion(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val preds = Tables.load(s, dir, "documents").select(
      Text.langId(col("text")).as("lang_pred"),
      col("lang").as("lang_declared"))
    val cells = preds.groupBy(col("lang_declared"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
    val totals = cells.groupBy(col("lang_declared"))
      .agg(sum(col("n_docs")).as("declared_total"))
    cells.join(totals, "lang_declared")
      .select(col("lang_declared"), col("lang_pred"), col("n_docs"),
        col("declared_total"),
        expr("n_docs * 10000 div declared_total").as("cell_bp"),
        (col("lang_declared") === col("lang_pred")).as("is_diagonal"))
      .orderBy(col("lang_declared"), col("lang_pred"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q112_survival"        -> (q112_survival _),
    "t40_langid_confusion" -> (t40_langid_confusion _))

  val oracles: Map[String, String] = Map(
    "q112_survival" ->
      s"""WITH RECURSIVE life AS (
        |  SELECT user_id,
        |    MIN(date_diff('day', DATE '2024-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) + 1) AS b,
        |    MAX(date_diff('day', DATE '2024-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) + 1) AS d
        |  FROM events GROUP BY user_id),
        |lf AS (SELECT user_id, b, d, d >= $NDays AS censored FROM life),
        |days AS (SELECT CAST(r.range + 1 AS BIGINT) AS day
        |         FROM range(0, $NDays) r),
        |perday AS (
        |  SELECT days.day,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lf WHERE lf.b = days.day)
        |      AS n_born,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lf
        |     WHERE lf.d = days.day AND NOT lf.censored) AS n_deaths,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lf WHERE lf.d = days.day)
        |      AS n_gone
        |  FROM days),
        |walk(day, n_born, n_risk, n_deaths, s_micro, born_cum, gone_cum) AS (
        |  SELECT p.day, p.n_born, p.n_born, p.n_deaths,
        |    CASE WHEN p.n_born > 0
        |         THEN 1000000 * (p.n_born - p.n_deaths) // p.n_born
        |         ELSE 1000000 END,
        |    p.n_born, p.n_gone
        |  FROM perday p WHERE p.day = 1
        |  UNION ALL
        |  SELECT p.day, p.n_born,
        |    w.born_cum + p.n_born - w.gone_cum,
        |    p.n_deaths,
        |    CASE WHEN w.born_cum + p.n_born - w.gone_cum > 0
        |         THEN w.s_micro *
        |           (w.born_cum + p.n_born - w.gone_cum - p.n_deaths)
        |           // (w.born_cum + p.n_born - w.gone_cum)
        |         ELSE w.s_micro END,
        |    w.born_cum + p.n_born, w.gone_cum + p.n_gone
        |  FROM walk w JOIN perday p ON p.day = w.day + 1)
        |SELECT day AS day_idx, n_born, n_risk, n_deaths,
        |  s_micro AS survival_micro
        |FROM walk ORDER BY day_idx""".stripMargin,
    "t40_langid_confusion" ->
      // the oracle recomputes t2's marker-lexicon decision rule inline
      // (identical lexicons and tie rule as the t2 oracle: structs sort
      // by (score, lang), the last element wins, score 0 → 'und')
      s"""WITH d AS (
        |  SELECT lang,
        |    string_split_regex(trim(lower(text)), '\\s+') AS toks
        |  FROM documents),
        |sc AS (SELECT lang, list_sort([
        |  {'score': len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','mit','ein'], x))), 'lang': 'de'},
        |  {'score': len(list_filter(toks, x -> list_contains(['the','and','of','to','is','that','with','for'], x))), 'lang': 'en'},
        |  {'score': len(list_filter(toks, x -> list_contains(['el','la','los','las','y','de','que','en','es'], x))), 'lang': 'es'},
        |  {'score': len(list_filter(toks, x -> list_contains(['le','la','les','et','est','que','dans','une'], x))), 'lang': 'fr'},
        |  {'score': len(list_filter(toks, x -> list_contains(['的','是','了','在','我','有','和','不'], x))), 'lang': 'zh'}]) AS ss
        |  FROM d),
        |preds AS (
        |  SELECT CASE WHEN ss[5].score > 0 THEN ss[5].lang ELSE 'und' END
        |    AS lang_pred, lang AS lang_declared
        |  FROM sc),
        |cells AS (
        |  SELECT lang_declared, lang_pred, CAST(COUNT(*) AS BIGINT)
        |    AS n_docs
        |  FROM preds GROUP BY 1, 2),
        |totals AS (
        |  SELECT lang_declared, CAST(SUM(n_docs) AS BIGINT)
        |    AS declared_total
        |  FROM cells GROUP BY 1)
        |SELECT c.lang_declared, c.lang_pred, c.n_docs, t.declared_total,
        |  c.n_docs * 10000 // t.declared_total AS cell_bp,
        |  c.lang_declared = c.lang_pred AS is_diagonal
        |FROM cells c JOIN totals t USING (lang_declared)
        |ORDER BY c.lang_declared, c.lang_pred""".stripMargin)
}
