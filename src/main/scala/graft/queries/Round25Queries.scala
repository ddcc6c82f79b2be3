package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables

/** Twenty-fifth batch — a trained linear classifier in the engine's
  * exact-arithmetic vocabulary:
  *
  *  - t24: distributed batch perceptron for English-vs-rest language ID.
  *    Features are integer token counts over a fixed 8-word template
  *    (plus bias); each epoch's update is ONE map-side-combined
  *    aggregate Σ y·x over the currently-misclassified training rows —
  *    an order-independent integer sum, so the trained weights are
  *    bit-identical on any partitioning and the DuckDB oracle replays
  *    all three unrolled epochs plus the holdout evaluation. The
  *    per-epoch driver round-trip moves exactly 9 longs (the weight
  *    vector — same justified pattern as s8's k×dim centroids).
  *
  * Reference scope: extension beyond the reference surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round25Queries extends QueryModule {

  private val Words = Seq("the", "scan", "join", "row", "data", "fast",
    "key", "order")
  private val Dim = Words.size + 1 // + bias
  private val Epochs = 3

  def t24_perceptron_langid(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val featCols = lit(1L).as("x0") +: Words.zipWithIndex.map {
      case (w, i) =>
        size(filter(Text.tokens(col("text")), t => t === lit(w)))
          .cast(LongType).as(s"x${i + 1}")
    }
    val feats = Tables.load(s, dir, "documents")
      .select(col("doc_id") +:
        when(col("lang") === "en", 1L).otherwise(-1L).as("y") +:
        featCols: _*)
      .localCheckpoint()
    val train = feats.filter(col("doc_id") % 2 === 0)

    def score(w: Array[Long]): Column =
      (0 until Dim).map(i => col(s"x$i") * lit(w(i)))
        .reduce(_ + _)

    var w = Array.fill(Dim)(0L)
    for (_ <- 1 to Epochs) {
      val sums = (0 until Dim).map(i =>
        sum(col("y") * col(s"x$i")).as(s"d$i"))
      val upd = train.filter(col("y") * score(w) <= 0)
        .agg(sums.head, sums.tail: _*)
        .collect()(0)
      w = Array.tabulate(Dim)(i =>
        w(i) + (if (upd.isNullAt(i)) 0L else upd.getLong(i)))
    }
    feats.filter(col("doc_id") % 2 === 1)
      .agg(
        count(when(col("y") * score(w) > 0, 1)).as("n_correct"),
        count(lit(1)).as("n_eval"))
      .select(col("n_correct") +: col("n_eval") +:
        (0 until Dim).map(i => lit(w(i)).as(s"w$i")): _*)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t24_perceptron_langid" -> (t24_perceptron_langid _))

  // SQL generation for the unrolled epochs ────────────────────────────────

  private def dotSql(wCte: String): String =
    (0 until Dim).map(i => s"$wCte.w$i * x$i").mkString(" + ")

  /** One epoch: weights `prev` → weights CTE body over the train set. */
  private def epochSql(prev: String): String = {
    val cols = (0 until Dim).map(i =>
      s"$prev.w$i + CAST(COALESCE(SUM(CASE WHEN y * (${dotSql(prev)}) <= 0" +
        s" THEN y * x$i END), 0) AS BIGINT) AS w$i").mkString(",\n    ")
    val grp = (0 until Dim).map(i => s"$prev.w$i").mkString(", ")
    s"SELECT $cols\n  FROM tr CROSS JOIN $prev GROUP BY $grp"
  }

  private val featSql: String = {
    val cols = Words.zipWithIndex.map { case (w, i) =>
      s"CAST(len(list_filter(string_split_regex(trim(text), '\\s+')," +
        s" t -> t = '$w')) AS BIGINT) AS x${i + 1}"
    }.mkString(",\n    ")
    s"""SELECT doc_id,
    CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y,
    CAST(1 AS BIGINT) AS x0,
    $cols
  FROM documents"""
  }

  val oracles: Map[String, String] = Map(
    "t24_perceptron_langid" -> {
      val zeros = (0 until Dim).map(i => s"CAST(0 AS BIGINT) AS w$i")
        .mkString(", ")
      val wSel = (0 until Dim).map(i => s"w3.w$i").mkString(", ")
      s"""WITH f AS (
        |  $featSql),
        |tr AS (SELECT * FROM f WHERE doc_id % 2 = 0),
        |w0 AS (SELECT $zeros),
        |w1 AS (
        |  ${epochSql("w0")}),
        |w2 AS (
        |  ${epochSql("w1")}),
        |w3 AS (
        |  ${epochSql("w2")}),
        |ev AS (
        |  SELECT
        |    CAST(COUNT(CASE WHEN y * (${dotSql("w3")}) > 0 THEN 1 END)
        |      AS BIGINT) AS n_correct,
        |    CAST(COUNT(*) AS BIGINT) AS n_eval
        |  FROM f CROSS JOIN w3 WHERE doc_id % 2 = 1)
        |SELECT ev.n_correct, ev.n_eval, $wSel
        |FROM ev CROSS JOIN w3""".stripMargin
    })
}
