package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.streaming.Drain.drain

/** Tenth batch — the tokenizer/decontamination tail of a training-data
  * pipeline:
  *
  *  - d17: benchmark decontamination — n-gram collisions against an eval
  *    split with interval-union span coverage ([[graft.operators
  *    .Decontaminate]]);
  *  - t17: BPE merge training over the word-type table ([[graft
  *    .operators.Bpe]]);
  *  - t18: leave-one-out trigram perplexity — t9 scores each doc under a
  *    LM that *includes the doc itself*, which systematically flatters
  *    boilerplate (a doc's own mass inflates its trigram probabilities);
  *    the held-out form subtracts the doc's own counts before scoring,
  *    the statistically honest quality filter.
  *
  * Reference scope: extensions beyond the reference surface (same
  * contract as the other d/t families — the reference's transform
  * dialect is open, /root/reference/tools.py:58-65).
  */
object Round10Queries extends QueryModule {

  // ── d17: decontamination report — eval split = doc_id % 10 == 0, 4-gram
  //        collisions (the published recipes use 13-grams; the synthetic
  //        corpus draws from a ~40-word vocabulary, so 4 is the width
  //        that makes collisions non-vacuous at sf0.01). Eval n-grams
  //        broadcast; coverage via doc-partitioned islands — see the
  //        operator scaladoc for the 100 TB shape. ──────────────────────
  def d17_decontaminate(s: SparkSession, dir: String): DataFrame =
    graft.operators.Decontaminate.report(
      Tables.load(s, dir, "documents"), col("doc_id") % 10 === 0, n = 4)

  // ── t17: BPE merge training — 3 rounds over the word-type table; each
  //        round one pair-count aggregate + a 1-row argmax. The output is
  //        the learned merge table itself (round, pair, merged symbol,
  //        weighted count), i.e. the artifact a tokenizer build would
  //        persist. ───────────────────────────────────────────────────────
  def t17_bpe_train(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val words = Tables.load(s, dir, "documents")
      .select(explode(Text.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    graft.operators.Bpe.trainMerges(s, words, rounds = 3)
  }

  // ── e15: decontamination at STREAM-INGEST time — the incoming corpus
  //        arrives through readStream and probes its positional n-grams
  //        against the (static, broadcast) eval n-gram set: a stateless
  //        stream-static join, so the gate runs with zero streaming state
  //        at any corpus rate. The streaming aggregation only dedups hit
  //        rows; the tiny drained hit set finishes through the same
  //        interval-union coverage as d17 — and hash-matching d17's
  //        oracle proves ingest-time decontamination computes exactly
  //        the batch answer. ───────────────────────────────────────────
  def e15_stream_decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val evalSet =
      graft.operators.Decontaminate.evalGrams(docs, col("doc_id") % 10 === 0, 4)
    val stream = Tables.stream(s, dir, "documents", docs.schema)
      .filter(col("doc_id") % 10 =!= 0)
      // per-batch repartition before the heavy per-row gram expansion
      // (round 14 — see e36's note)
      .repartition(s.sparkContext.defaultParallelism)
    val hits = graft.operators.Decontaminate.hitsAgainst(stream, evalSet, 4)
      .groupBy(col("doc_id"), col("n_tok"), col("pos"))
      .agg(max(col("e")).as("e"))
    graft.operators.Decontaminate.coverage(drain(hits, "complete"))
  }

  // ── t19: BPE apply — tokenize the whole corpus with t17's learned
  //        merges and report per-doc compression. The corpus never loops:
  //        each word type carries its post-merge symbol count
  //        ([[graft.operators.Bpe.segmented]]) and documents join their
  //        exploded tokens against that vocabulary-sized dictionary —
  //        the same n-gram-keyed join shape as t9/TF-IDF. ───────────────
  def t19_bpe_apply(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
    val words = toks.groupBy(col("w")).agg(count(lit(1)).as("freq"))
    val seg = graft.operators.Bpe.segmented(s, words, rounds = 3)
    toks.join(seg.select(col("w"), col("n_sym")), "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).cast(LongType).as("n_chars"),
        sum(col("n_sym")).cast(LongType).as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_chars"),
        col("n_bpe_tokens"),
        round(col("n_bpe_tokens").cast(DoubleType) /
          col("n_chars").cast(DoubleType), 6).as("compression"))
      .orderBy(col("doc_id"))
  }

  // ── t18: leave-one-out trigram LM score — per-doc average
  //        log P(w3 | w1 w2) where the doc's own occurrences are removed
  //        from both counts and add-one smoothing over the global type
  //        vocabulary keeps held-out probabilities finite:
  //          P = (C3 - c3_doc + 1) / (C2 - c2_doc + |V|).
  //        Same dictionary-join shape as t9 (shuffle keyed by n-gram,
  //        never pairwise); |V| is a 1-row broadcast. ────────────────────
  def t18_loo_lm(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val withSh = Tables.load(s, dir, "documents").select(
      col("doc_id"),
      Text.shingles(col("text"), 3).as("t3"),
      Text.shingles(col("text"), 2).as("t2"))
    val pairs = withSh
      .select(col("doc_id"), col("t3"),
        slice(col("t2"), lit(1), size(col("t3"))).as("pfx"))
      .select(col("doc_id"), explode(arrays_zip(col("t3"), col("pfx"))).as("p"))
      .select(col("doc_id"), col("p.t3").as("tri"), col("p.pfx").as("bi"))
    val bis = withSh.select(col("doc_id"), explode(col("t2")).as("bi"))
    val d3 = pairs.groupBy(col("doc_id"), col("tri"), col("bi"))
      .agg(count(lit(1)).as("c3d"))
    val g3 = pairs.groupBy(col("tri")).agg(count(lit(1)).as("c3g"))
    val d2 = bis.groupBy(col("doc_id"), col("bi")).agg(count(lit(1)).as("c2d"))
    val g2 = bis.groupBy(col("bi")).agg(count(lit(1)).as("c2g"))
    val vocab = Tables.load(s, dir, "documents")
      .select(explode(Text.tokens(col("text"))).as("w"))
      .agg(countDistinct(col("w")).as("vsz"))
    d3.join(g3, "tri")
      .join(d2, Seq("doc_id", "bi")).join(g2, "bi")
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(sum(col("c3d")).cast(LongType).as("n_tri"),
        round(
          sum(col("c3d") *
            log((col("c3g") - col("c3d") + 1).cast(DoubleType) /
              (col("c2g") - col("c2d") + col("vsz")).cast(DoubleType))) /
            sum(col("c3d")), 6).as("loo_score"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d17_decontaminate" -> (d17_decontaminate _),
    "t17_bpe_train"     -> (t17_bpe_train _),
    "t18_loo_lm"        -> (t18_loo_lm _),
    "t19_bpe_apply"     -> (t19_bpe_apply _),
    "e15_stream_decontaminate" -> (e15_stream_decontaminate _))

  val oracles: Map[String, String] = moreOracles ++ Map(
    // the streaming ingest gate must compute exactly the batch answer
    "e15_stream_decontaminate" -> moreOracles("d17_decontaminate"))

  private lazy val moreOracles: Map[String, String] = Map(
    "d17_decontaminate" ->
      """WITH base AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS L
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, CAST(len(L) AS BIGINT) AS n_tok, L,
        |         unnest(range(1, len(L) - 2)) AS i
        |  FROM base WHERE len(L) >= 4),
        |sh AS (
        |  SELECT doc_id, n_tok, i - 1 AS pos, array_to_string(L[i:i+3], ' ') AS ng
        |  FROM idx),
        |ev AS (SELECT DISTINCT ng FROM sh WHERE doc_id % 10 = 0),
        |hits AS (
        |  SELECT s.doc_id, s.n_tok, s.pos, s.pos + 3 AS e
        |  FROM sh s JOIN ev USING (ng) WHERE s.doc_id % 10 <> 0),
        |m AS (
        |  SELECT *, MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mep
        |  FROM hits),
        |isl AS (
        |  SELECT *, SUM(CASE WHEN mep IS NULL OR pos > mep THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
        |  FROM m),
        |per AS (
        |  SELECT doc_id, n_tok, g, MIN(pos) AS s0, MAX(e) AS e0,
        |         COUNT(*) AS nh
        |  FROM isl GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(SUM(nh) AS BIGINT) AS n_matched,
        |  CAST(SUM(e0 - s0 + 1) AS BIGINT) AS covered_tokens, n_tok,
        |  ROUND(CAST(SUM(e0 - s0 + 1) AS DOUBLE) / n_tok, 6)
        |    AS contamination_frac
        |FROM per GROUP BY doc_id, n_tok ORDER BY doc_id""".stripMargin,
    "t17_bpe_train" ->
      """WITH words AS (
        |  SELECT w, COUNT(*) AS freq FROM (
        |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        |    FROM documents)
        |  GROUP BY w),
        |s0 AS (
        |  SELECT freq,
        |    chr(31) || regexp_replace(w, '(.)', '\1' || chr(31), 'g') AS seq
        |  FROM words),
        |l1 AS (SELECT freq, list_filter(string_split(seq, chr(31)),
        |         x -> x <> '') AS L FROM s0),
        |i1 AS (SELECT freq, L, unnest(range(1, len(L))) AS i FROM l1
        |       WHERE len(L) >= 2),
        |c1 AS (SELECT L[i] AS lft, L[i+1] AS rgt,
        |         CAST(SUM(freq) AS BIGINT) AS cnt FROM i1 GROUP BY 1, 2),
        |m1 AS (SELECT lft, rgt, cnt FROM c1 ORDER BY cnt DESC, lft, rgt
        |       LIMIT 1),
        |s1 AS (SELECT freq, replace(seq,
        |         chr(31) || (SELECT lft FROM m1) || chr(31) ||
        |           (SELECT rgt FROM m1) || chr(31),
        |         chr(31) || (SELECT lft FROM m1) ||
        |           (SELECT rgt FROM m1) || chr(31)) AS seq FROM s0),
        |l2 AS (SELECT freq, list_filter(string_split(seq, chr(31)),
        |         x -> x <> '') AS L FROM s1),
        |i2 AS (SELECT freq, L, unnest(range(1, len(L))) AS i FROM l2
        |       WHERE len(L) >= 2),
        |c2 AS (SELECT L[i] AS lft, L[i+1] AS rgt,
        |         CAST(SUM(freq) AS BIGINT) AS cnt FROM i2 GROUP BY 1, 2),
        |m2 AS (SELECT lft, rgt, cnt FROM c2 ORDER BY cnt DESC, lft, rgt
        |       LIMIT 1),
        |s2 AS (SELECT freq, replace(seq,
        |         chr(31) || (SELECT lft FROM m2) || chr(31) ||
        |           (SELECT rgt FROM m2) || chr(31),
        |         chr(31) || (SELECT lft FROM m2) ||
        |           (SELECT rgt FROM m2) || chr(31)) AS seq FROM s1),
        |l3 AS (SELECT freq, list_filter(string_split(seq, chr(31)),
        |         x -> x <> '') AS L FROM s2),
        |i3 AS (SELECT freq, L, unnest(range(1, len(L))) AS i FROM l3
        |       WHERE len(L) >= 2),
        |c3 AS (SELECT L[i] AS lft, L[i+1] AS rgt,
        |         CAST(SUM(freq) AS BIGINT) AS cnt FROM i3 GROUP BY 1, 2),
        |m3 AS (SELECT lft, rgt, cnt FROM c3 ORDER BY cnt DESC, lft, rgt
        |       LIMIT 1)
        |SELECT 1 AS round, lft, rgt, lft || rgt AS merged, cnt FROM m1
        |UNION ALL SELECT 2, lft, rgt, lft || rgt, cnt FROM m2
        |UNION ALL SELECT 3, lft, rgt, lft || rgt, cnt FROM m3
        |ORDER BY round""".stripMargin,
    "t19_bpe_apply" ->
      """WITH words AS (
        |  SELECT w, COUNT(*) AS freq FROM (
        |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        |    FROM documents)
        |  GROUP BY w),
        |s0 AS (
        |  SELECT w, freq,
        |    chr(31) || regexp_replace(w, '(.)', '\1' || chr(31), 'g') AS seq
        |  FROM words),
        |l1 AS (SELECT freq, list_filter(string_split(seq, chr(31)),
        |         x -> x <> '') AS L FROM s0),
        |i1 AS (SELECT freq, L, unnest(range(1, len(L))) AS i FROM l1
        |       WHERE len(L) >= 2),
        |c1 AS (SELECT L[i] AS lft, L[i+1] AS rgt,
        |         CAST(SUM(freq) AS BIGINT) AS cnt FROM i1 GROUP BY 1, 2),
        |m1 AS (SELECT lft, rgt, cnt FROM c1 ORDER BY cnt DESC, lft, rgt
        |       LIMIT 1),
        |s1 AS (SELECT w, freq, replace(seq,
        |         chr(31) || (SELECT lft FROM m1) || chr(31) ||
        |           (SELECT rgt FROM m1) || chr(31),
        |         chr(31) || (SELECT lft FROM m1) ||
        |           (SELECT rgt FROM m1) || chr(31)) AS seq FROM s0),
        |l2 AS (SELECT freq, list_filter(string_split(seq, chr(31)),
        |         x -> x <> '') AS L FROM s1),
        |i2 AS (SELECT freq, L, unnest(range(1, len(L))) AS i FROM l2
        |       WHERE len(L) >= 2),
        |c2 AS (SELECT L[i] AS lft, L[i+1] AS rgt,
        |         CAST(SUM(freq) AS BIGINT) AS cnt FROM i2 GROUP BY 1, 2),
        |m2 AS (SELECT lft, rgt, cnt FROM c2 ORDER BY cnt DESC, lft, rgt
        |       LIMIT 1),
        |s2 AS (SELECT w, freq, replace(seq,
        |         chr(31) || (SELECT lft FROM m2) || chr(31) ||
        |           (SELECT rgt FROM m2) || chr(31),
        |         chr(31) || (SELECT lft FROM m2) ||
        |           (SELECT rgt FROM m2) || chr(31)) AS seq FROM s1),
        |l3 AS (SELECT freq, list_filter(string_split(seq, chr(31)),
        |         x -> x <> '') AS L FROM s2),
        |i3 AS (SELECT freq, L, unnest(range(1, len(L))) AS i FROM l3
        |       WHERE len(L) >= 2),
        |c3 AS (SELECT L[i] AS lft, L[i+1] AS rgt,
        |         CAST(SUM(freq) AS BIGINT) AS cnt FROM i3 GROUP BY 1, 2),
        |m3 AS (SELECT lft, rgt, cnt FROM c3 ORDER BY cnt DESC, lft, rgt
        |       LIMIT 1),
        |s3 AS (SELECT w, freq, replace(seq,
        |         chr(31) || (SELECT lft FROM m3) || chr(31) ||
        |           (SELECT rgt FROM m3) || chr(31),
        |         chr(31) || (SELECT lft FROM m3) ||
        |           (SELECT rgt FROM m3) || chr(31)) AS seq FROM s2),
        |segd AS (
        |  SELECT w, CAST(len(list_filter(string_split(seq, chr(31)),
        |    x -> x <> '')) AS BIGINT) AS n_sym
        |  FROM s3),
        |tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents)
        |SELECT doc_id, COUNT(*) AS n_words,
        |  CAST(SUM(length(w)) AS BIGINT) AS n_chars,
        |  CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens,
        |  ROUND(CAST(SUM(n_sym) AS DOUBLE) / SUM(length(w)), 6)
        |    AS compression
        |FROM tok JOIN segd USING (w)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t18_loo_lm" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w,
        |         generate_subscripts(string_split_regex(trim(text), '\s+'), 1)
        |           AS pos
        |  FROM documents),
        |seq AS (
        |  SELECT doc_id, pos, w,
        |    lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
        |    lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
        |  FROM tok),
        |tri AS (
        |  SELECT doc_id, w || ' ' || w2 || ' ' || w3 AS tri,
        |         w || ' ' || w2 AS bi
        |  FROM seq WHERE w3 IS NOT NULL),
        |big AS (SELECT doc_id, w || ' ' || w2 AS bi FROM seq
        |        WHERE w2 IS NOT NULL),
        |d3 AS (SELECT doc_id, tri, bi, COUNT(*) AS c3d FROM tri
        |       GROUP BY 1, 2, 3),
        |g3 AS (SELECT tri, COUNT(*) AS c3g FROM tri GROUP BY 1),
        |d2 AS (SELECT doc_id, bi, COUNT(*) AS c2d FROM big GROUP BY 1, 2),
        |g2 AS (SELECT bi, COUNT(*) AS c2g FROM big GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT w) AS vsz FROM tok)
        |SELECT d3.doc_id, CAST(SUM(c3d) AS BIGINT) AS n_tri,
        |  ROUND(SUM(c3d * ln((c3g - c3d + 1)
        |                     / CAST(c2g - c2d + vsz AS DOUBLE)))
        |        / SUM(c3d), 6) AS loo_score
        |FROM d3 JOIN g3 USING (tri)
        |  JOIN d2 ON d3.doc_id = d2.doc_id AND d3.bi = d2.bi
        |  JOIN g2 ON d3.bi = g2.bi
        |  CROSS JOIN v
        |GROUP BY d3.doc_id ORDER BY d3.doc_id""".stripMargin)
}
