package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.streaming.Drain.drain

/** Thirty-second batch — pipeline-maintenance and evaluation shapes:
  *
  *  - p29: incremental JOIN-view maintenance — the classic delta algebra
  *    V ⊕ Δ(A⋈B) = V ⊕ (ΔA⋈B₀) ⊕ (A₀⋈ΔB) ⊕ (ΔA⋈ΔB), applied to a
  *    persisted daily-revenue view. The base view is served from its
  *    parquet artifact; only delta-sized inputs join at refresh time.
  *  - s13: ANN recall@k evaluation — the harness that grades an ANN
  *    configuration against brute-force ground truth; here a single-table
  *    4-plane LSH (deliberately under-provisioned — no multi-probe, no
  *    extra tables) scored per query in integer basis points.
  *  - e24: streaming twin of q87's decayed trending scoreboard — the same
  *    exact-integer decay law maintained by one stateful aggregation.
  *  - t25: CCNet-style perplexity bucketing (Wenzek et al. 2020) — per
  *    language, rank documents by the t9 trigram-LM fluency score and
  *    split into head/middle/tail terciles; keep = head+middle. The
  *    standard corpus-quality mixture gate.
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round32Queries extends QueryModule {

  // ── p29: join-view delta maintenance. View = per-day (n_items,
  //        revenue cents) of orders⋈lineitem. Base/delta splits are
  //        orthogonal (orders on o_orderkey%7, lineitem on l_suppkey%5)
  //        so all four quadrants are non-empty. V₀ is persisted and read
  //        back (the artifact is what production serves); the refresh
  //        computes three joins whose SMALLER side is always a delta —
  //        at 100 TB the ΔA⋈B₀ join broadcasts ΔA (and p15's
  //        bloom-filter join pruning is the lever that keeps B₀'s scan
  //        from re-reading the full fact history) — then one additive
  //        merge, sketch-sized (days). The oracle
  //        recomputes the view from scratch: the hash gate IS the delta
  //        algebra's correctness proof. ───────────────────────────────────
  def p29_join_view_delta(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("ok"), col("o_orderdate").as("d"))
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_suppkey"),
        round(col("l_extendedprice") * 100).cast(LongType).as("cents"))
    val (ord0, dOrd) = (ord.filter(col("ok") % 7 =!= 0),
      ord.filter(col("ok") % 7 === 0))
    val (li0, dLi) = (li.filter(col("l_suppkey") % 5 =!= 0),
      li.filter(col("l_suppkey") % 5 === 0))
    def view(o: DataFrame, l: DataFrame): DataFrame =
      o.join(l, "ok").groupBy(col("d"))
        .agg(count(lit(1)).as("n_items"), sum(col("cents")).as("revenue_c"))
    val artDir = graft.Scratch.dir("p29_view", dir)
    graft.sinks.ParquetSink.write(view(ord0, li0), artDir)
    val v0 = s.read.parquet(artDir)
    val delta = view(dOrd, li0)
      .unionByName(view(ord0, dLi))
      .unionByName(view(dOrd, dLi))
    v0.unionByName(delta)
      .groupBy(col("d"))
      .agg(sum(col("n_items")).cast(LongType).as("n_items"),
        sum(col("revenue_c")).cast(LongType).as("revenue_c"))
      .orderBy(col("d"))
  }

  // ── s13: recall@10 of an under-provisioned LSH ANN vs exact ground
  //        truth, per query in integer basis points. Ground truth is the
  //        s1 brute-force ranking; the ANN candidate set is "same
  //        4-plane bucket" (16 buckets, one table — real recall loss by
  //        construction). Ranking ties break by cand_id in BOTH paths,
  //        so hit sets are deterministic; the oracle replays the bucket
  //        arithmetic from the mod-power tables (the d5 contract) and
  //        recomputes both rankings. At scale the eval joins are
  //        bucket-local + a broadcast query set — the same shape as the
  //        ANN itself. ────────────────────────────────────────────────────
  def s13_ann_recall(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, Similarity}
    val emb = Tables.load(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
    val k = 10
    val gt = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
        k = k)
      .select(col("query_id"), col("cand_id"))
    val bucketed = emb.select(col("vec_id"),
      Dedup.lshBucket(col("embedding"), dim = 64, nPlanes = 4).as("bucket"))
    val qb = broadcast(queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        Dedup.lshBucket(col("embedding"), dim = 64, nPlanes = 4)
          .as("bucket")))
    val cand = bucketed.join(qb, "bucket")
      .filter(col("vec_id") =!= col("query_id"))
      .join(emb.select(col("vec_id"), col("embedding").as("cv")), "vec_id")
      .select(col("query_id"), col("vec_id").as("cand_id"),
        graft.operators.Vectors.cosine(col("qv"), col("cv")).as("cosv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosv").desc, col("cand_id"))
    val ann = cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("cand_id"))
    val nCand = cand.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_cand"))
    val hits = gt.join(ann, Seq("query_id", "cand_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    // spine = the query set, so an empty-bucket query still reports 0
    queries.select(col("vec_id").as("query_id"))
      .join(nCand, Seq("query_id"), "left")
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        // recall@k in basis points: n_hits·(10000/k), integer arithmetic
        (coalesce(col("n_hits"), lit(0L)) * lit(10000L / k)).as("recall_bp"))
      .orderBy(col("query_id"))
  }

  // ── e24: q87's trending scoreboard maintained by Structured Streaming —
  //        ONE stateful (event_type, k) aggregation in complete mode
  //        (state = the ~500-item scoreboard, not the events); the top-20
  //        rank runs batch-side on the scoreboard table. Proves the decay
  //        law is mergeable: weights are additive per event, so the
  //        incremental state equals the batch aggregate cell for cell —
  //        same oracle as q87. ──────────────────────────────────────────
  def e24_stream_decayed_trend(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.stream(s, dir, "events")
    val agg = raw
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("k"),
        datediff(lit(java.sql.Date.valueOf("2024-01-31")),
          to_date(Tables.tsMicros(raw))).as("age"))
      .withColumn("w", expr("shiftleft(CAST(1 AS BIGINT), 30 - age)"))
      .groupBy(col("event_type"), col("k"))
      .agg(count(lit(1)).as("n"), sum(col("w")).as("score"))
    drain(agg, "complete")
      .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("event_type"), col("k")))
        .cast(LongType))
      .filter(col("rank") <= 20)
      .select(col("rank"), col("event_type"), col("k"), col("n"),
        col("score"))
      .orderBy(col("rank"))
  }

  // ── t25: CCNet perplexity terciles. Fluency score = t9's trigram-LM
  //        average log-probability (already oracle-pinned to 6 decimals);
  //        per-language NTILE(3) ordered (score DESC, doc_id) buckets the
  //        corpus into head/middle/tail; the mixture decision keeps
  //        head+middle. Windows partition by language — parallel across
  //        the mixture's languages at any scale; the census output is
  //        |langs|×3 rows. ─────────────────────────────────────────────
  def t25_ccnet_buckets(s: SparkSession, dir: String): DataFrame = {
    val scores = Round4Queries.t9_trigram_lm(s, dir)
      .select(col("doc_id"), col("lm_score"))
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("lang"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("lm_score").desc, col("doc_id"))
    scores.join(docs, "doc_id")
      .withColumn("bucket", ntile(3).over(w).cast(LongType))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        round(min(col("lm_score")), 6).as("min_score"),
        round(max(col("lm_score")), 6).as("max_score"))
      .withColumn("kept", col("bucket") <= 2)
      .orderBy(col("lang"), col("bucket"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p29_join_view_delta"     -> (p29_join_view_delta _),
    "s13_ann_recall"          -> (s13_ann_recall _),
    "e24_stream_decayed_trend" -> (e24_stream_decayed_trend _),
    "t25_ccnet_buckets"       -> (t25_ccnet_buckets _))

  val oracles: Map[String, String] = Map(
    // the delta-maintained view must equal the from-scratch join view
    "p29_join_view_delta" ->
      """WITH j AS (
        |  SELECT o.o_orderdate AS d,
        |    CAST(ROUND(l.l_extendedprice*100) AS BIGINT) AS cents
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey)
        |SELECT d, COUNT(*) AS n_items,
        |  CAST(SUM(cents) AS BIGINT) AS revenue_c
        |FROM j GROUP BY d ORDER BY d""".stripMargin,
    // same decay law as q87 — the streaming state must equal the batch
    "e24_stream_decayed_trend" -> Round31Queries.oracles("q87_decayed_trend"),
    "s13_ann_recall" ->
      s"""WITH pj(j, pj) AS (VALUES ${ExtensionQueries.lshPlanePowers}),
        |pi(i, pi) AS (VALUES ${ExtensionQueries.lshDimPowers}),
        |raw AS (
        |  SELECT vec_id, unnest(embedding) AS x,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
        |    AS qx, i - 1 AS i
        |  FROM raw),
        |planes AS (
        |  SELECT pj.j, pi.i,
        |    CAST(((CAST(pj.pj AS HUGEINT) * CAST(pi.pi AS HUGEINT))
        |      % 2305843009213693951) % 2001 - 1000 AS BIGINT) AS c
        |  FROM pj CROSS JOIN pi),
        |bits AS (
        |  SELECT q.vec_id, p.j,
        |    CASE WHEN SUM(q.qx * p.c) >= 0
        |         THEN CAST(POWER(2, p.j) AS BIGINT) ELSE 0 END AS b
        |  FROM q JOIN planes p ON p.i = q.i
        |  GROUP BY q.vec_id, p.j),
        |bkt AS (SELECT vec_id, SUM(b) AS bucket FROM bits GROUP BY 1),
        |e AS (
        |  SELECT vec_id, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |norms AS (
        |  SELECT vec_id, sqrt(SUM(CAST(v AS DOUBLE)*CAST(v AS DOUBLE)))
        |    AS nrm
        |  FROM e GROUP BY 1),
        |dots AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
        |    SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 20
        |  GROUP BY 1, 2),
        |cosv AS (
        |  SELECT query_id, cand_id,
        |    dot/(na.nrm*nb.nrm) AS cosv
        |  FROM dots JOIN norms na ON na.vec_id = query_id
        |  JOIN norms nb ON nb.vec_id = cand_id),
        |gt AS (
        |  SELECT query_id, cand_id FROM (
        |    SELECT query_id, cand_id, ROW_NUMBER() OVER (
        |      PARTITION BY query_id ORDER BY cosv DESC, cand_id) AS rk
        |    FROM cosv) WHERE rk <= 10),
        |cand AS (
        |  SELECT c.query_id, c.cand_id, c.cosv
        |  FROM cosv c
        |  JOIN bkt bq ON bq.vec_id = c.query_id
        |  JOIN bkt bc ON bc.vec_id = c.cand_id AND bc.bucket = bq.bucket),
        |ann AS (
        |  SELECT query_id, cand_id FROM (
        |    SELECT query_id, cand_id, ROW_NUMBER() OVER (
        |      PARTITION BY query_id ORDER BY cosv DESC, cand_id) AS rk
        |    FROM cand) WHERE rk <= 10),
        |qs AS (SELECT DISTINCT vec_id AS query_id FROM embeddings
        |       WHERE vec_id < 20),
        |nc AS (SELECT query_id, COUNT(*) AS n_cand FROM cand GROUP BY 1),
        |hits AS (
        |  SELECT gt.query_id, COUNT(ann.cand_id) AS n_hits
        |  FROM gt LEFT JOIN ann ON ann.query_id = gt.query_id
        |    AND ann.cand_id = gt.cand_id
        |  GROUP BY 1)
        |SELECT qs.query_id,
        |  CAST(COALESCE(nc.n_cand, 0) AS BIGINT) AS n_cand,
        |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  CAST(COALESCE(h.n_hits, 0) * 1000 AS BIGINT) AS recall_bp
        |FROM qs LEFT JOIN nc ON nc.query_id = qs.query_id
        |LEFT JOIN hits h ON h.query_id = qs.query_id
        |ORDER BY qs.query_id""".stripMargin,
    "t25_ccnet_buckets" ->
      s"""WITH sc AS (SELECT * FROM (
        |${Round4Queries.oracles("t9_trigram_lm")}
        |)),
        |b AS (
        |  SELECT d.lang, sc.lm_score,
        |    CAST(NTILE(3) OVER (PARTITION BY d.lang
        |      ORDER BY sc.lm_score DESC, sc.doc_id) AS BIGINT) AS bucket
        |  FROM sc JOIN documents d USING (doc_id))
        |SELECT lang, bucket, COUNT(*) AS n_docs,
        |  ROUND(MIN(lm_score), 6) AS min_score,
        |  ROUND(MAX(lm_score), 6) AS max_score,
        |  bucket <= 2 AS kept
        |FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin)
}
