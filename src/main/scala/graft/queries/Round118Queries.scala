package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.Tables
import graft.streaming.Drain.drain

/** Hundred-eighteenth batch — embedding-space monitoring and frozen-vocab
  * coverage:
  *
  *  - s26: embedding centroid drift between two corpus halves — the
  *    monitor that catches a silently-changed encoder or a shifted
  *    upstream distribution before a retrain. Embeddings quantize to the
  *    s15 integer lattice (round(x·10³), the proven cross-engine float
  *    step); each half's per-dimension SUM vector is exact BIGINT, and
  *    cosine(mean_a, mean_b) = cosine(sum_a, sum_b) because cosine is
  *    scale-invariant — so the only floats are one dot/norm division
  *    under the round(·,6) contract. Per-dimension shift ranks by the
  *    cross-multiplied |sa·nb − sb·na| (exact integers, no division),
  *    top 5 via TakeOrdered.
  *  - t68: out-of-vocabulary rate of a held-out source against the vocab
  *    of every OTHER source — the leakage-free way to measure whether a
  *    new feed speaks the corpus's language (a vocab built from the feed
  *    itself would hide exactly the novelty being measured). One
  *    distinct-token vocab aggregate, one left join, per-document exact
  *    bp.
  *  - e37: t68 ON THE STREAM — newly-ingested src0 documents join the
  *    frozen vocab (a static DataFrame — the stream-static join shape;
  *    in production the vocab is the persisted artifact) and per-doc OOV
  *    counters aggregate in complete mode. Shares t68's oracle row for
  *    row: the gate proves ingest-time scoring equals the batch rescan.
  *
  * Scale: s26 reduces the corpus to 2×64 sums before any float; t68's
  * join carries distinct vocab postings (broadcast-sized here, the d9
  * posting-join class at corpus scale); e37's stream state is one
  * counter row per evaluated document.
  *
  * Reference scope: beyond-reference LLM-pipeline surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round118Queries extends QueryModule {

  // ── s26: centroid drift on the quantized lattice ──────────────────────

  def s26_centroid_drift(s: SparkSession, dir: String): DataFrame = {
    val q = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), expr(
        "transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint))")
        .as("qv"))
      .withColumn("grp", col("vec_id") % 2)
    val sums = q
      .select(col("grp"), posexplode(col("qv")).as(Seq("i", "v")))
      .groupBy(col("grp"), col("i"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
    driftFromSums(sums)
  }

  /** The post-reduction drift algebra over a (grp, i, sv, n) table —
    * shared by the batch path and e38's streaming twin (the table is
    * 2×dims rows either way). */
  private[queries] def driftFromSums(sums: DataFrame): DataFrame = {
    val dims = sums.filter(col("grp") === 0)
      .select(col("i"), col("sv").as("sa"), col("n").as("na"))
      .join(sums.filter(col("grp") === 1)
        .select(col("i"), col("sv").as("sb"), col("n").as("nb")), Seq("i"))
      .localCheckpoint(true)
    val cos = dims.agg(
        sum(col("sa") * col("sb")).as("dot"),
        sum(col("sa") * col("sa")).as("na2"),
        sum(col("sb") * col("sb")).as("nb2"))
      .select(round(col("dot").cast(DoubleType) /
        (sqrt(col("na2").cast(DoubleType)) * sqrt(col("nb2").cast(DoubleType))),
        6).as("centroid_cos"))
    dims
      .select(col("i").cast(LongType).as("dim"), col("sa"), col("sb"),
        col("na"), col("nb"),
        abs(col("sa") * col("nb") - col("sb") * col("na")).as("shift_x"))
      .orderBy(col("shift_x").desc, col("dim"))
      .limit(5)
      .crossJoin(broadcast(cos))
      .orderBy(col("shift_x").desc, col("dim"))
  }

  // ── t68: held-out-source OOV rate against the frozen corpus vocab ─────

  def t68_oov_rate(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val docs = Tables.load(s, dir, "documents")
    val vocab = docs.filter(col("source") =!= "src0")
      .select(explode(Text.tokens(col("text"))).as("w"))
      .distinct()
      .withColumn("in_vocab", lit(1L))
    docs.filter(col("source") === "src0")
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
      .join(vocab, Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tok"), col("n_oov"),
        expr("n_oov * 10000 div n_tok").as("oov_bp"))
      .orderBy(col("doc_id"))
  }

  // ── e37: the same OOV scoring at ingest (stream-static join) ──────────

  def e37_stream_oov_monitor(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val docs = Tables.load(s, dir, "documents")
    val vocab = docs.filter(col("source") =!= "src0")
      .select(explode(Text.tokens(col("text"))).as("w"))
      .distinct()
      .withColumn("in_vocab", lit(1L))
      .localCheckpoint(true) // the frozen artifact the stream probes
    val raw = Tables.stream(s, dir, "documents", docs.schema)
    val agg = raw.filter(col("source") === "src0")
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
      .join(vocab, Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
    drain(agg, "complete")
      .select(col("doc_id"), col("n_tok"), col("n_oov"),
        expr("n_oov * 10000 div n_tok").as("oov_bp"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s26_centroid_drift"     -> (s26_centroid_drift _),
    "t68_oov_rate"           -> (t68_oov_rate _),
    "e37_stream_oov_monitor" -> (e37_stream_oov_monitor _))

  private val oovSql =
    raw"""WITH vocab AS (
      |  SELECT DISTINCT unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents WHERE source <> 'src0'),
      |ev AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents WHERE source = 'src0')
      |SELECT ev.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
      |  CAST(SUM(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_oov,
      |  CAST(SUM(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    * 10000 // CAST(COUNT(*) AS BIGINT) AS oov_bp
      |FROM ev LEFT JOIN vocab ON vocab.w = ev.w
      |GROUP BY ev.doc_id ORDER BY ev.doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "s26_centroid_drift" ->
      """WITH q AS (
        |  SELECT vec_id % 2 AS grp,
        |    generate_subscripts(embedding, 1) - 1 AS i,
        |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT)
        |      AS v
        |  FROM embeddings),
        |sums AS (
        |  SELECT grp, i, CAST(SUM(v) AS BIGINT) AS sv,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM q GROUP BY 1, 2),
        |dims AS (
        |  SELECT a.i, a.sv AS sa, a.n AS na, b.sv AS sb, b.n AS nb
        |  FROM sums a JOIN sums b ON a.i = b.i AND a.grp = 0 AND b.grp = 1),
        |cos AS (
        |  SELECT ROUND(CAST(SUM(sa * sb) AS DOUBLE) /
        |    (sqrt(CAST(SUM(sa * sa) AS DOUBLE)) *
        |     sqrt(CAST(SUM(sb * sb) AS DOUBLE))), 6) AS centroid_cos
        |  FROM dims)
        |SELECT CAST(d.i AS BIGINT) AS dim, d.sa, d.sb, d.na, d.nb,
        |  abs(d.sa * d.nb - d.sb * d.na) AS shift_x, cos.centroid_cos
        |FROM dims d CROSS JOIN cos
        |ORDER BY shift_x DESC, dim LIMIT 5""".stripMargin,
    "t68_oov_rate" -> oovSql,
    "e37_stream_oov_monitor" -> oovSql)
}
