package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.{RollingMinHash, Text}
import graft.operators.{Dedup, Multimodal, PixelMediaCodec, Similarity}
import graft.streaming.Drain.drain

/** Training-data-pipeline operators (the build brief's first-class
  * extensions): dedup, similarity search, text analysis, multimodal
  * plumbing, plus event sessionization/windowing.
  *
  * SQL-expressible operators carry DuckDB oracles; operators whose hash
  * families are engine-specific (MinHash/SimHash/LSH/rolling-hash) are
  * rows-only here and are verified semantically in ScalaTest
  * (DedupSimilaritySpec) against exact ground truth.
  */
object ExtensionQueries extends QueryModule {

  /** events.ts normalized to µs TimestampType across both testdata
    * generations (int64-nanos and timestamp[us]) via [[Tables.tsMicros]]. */
  private def eventsWithTs(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    ev.withColumn("ts_us", Tables.tsMicros(ev))
  }

  /** Streaming twin of [[eventsWithTs]]: the events parquet as a file
    * stream with `ts_us` normalized via [[Tables.tsMicros]] (the schema is
    * known before the stream starts, so the same generation dispatch
    * applies). A fresh stream per call — callers that reference it twice
    * (union, self-join) get independent sources, as the file source
    * requires. */
  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.stream(s, dir, "events")
    raw.withColumn("ts_us", Tables.tsMicros(raw))
  }

  // ── dedup ───────────────────────────────────────────────────────────────

  def d1_dedup_exact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.load(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  def d2_ngram_jaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(Tables.load(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))

  def d3_minhash_lsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(Tables.load(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 32, bands = 8, threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))

  def d4_simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.load(s, dir, "documents"), "doc_id", "text", maxDist = 3)
      .orderBy(col("id_a"), col("id_b"))

  def d5_embed_cosine_pairs(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosinePairs(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, threshold = 0.3, nPlanes = 4)
      .orderBy(col("id_a"), col("id_b"))

  /** Exact twin of d5 (same threshold, no LSH): the oracle-checked
    * baseline that also bounds d5's recall from above. */
  def d6_embed_cosine_exact(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosineExact(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.3)
      .orderBy(col("id_a"), col("id_b"))

  /** Near-dup *clusters*: similarity pairs closed under connectivity
    * (min-label propagation), labeling every clustered document with its
    * component's minimum doc_id — the drop-list step of corpus dedup.
    * Pairs come from the LSH candidate path (exact-verified, equal to the
    * exhaustive d2 answer on this corpus — both share the same oracle),
    * so the pipeline is the one a 100 TB corpus runs: LSH candidates →
    * exact Jaccard → components. Oracle: a DuckDB recursive CTE over the
    * exact pairs. */
  def d7_dup_clusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashLsh(Tables.load(s, dir, "documents"), "doc_id", "text",
      shingleN = 3, numHashes = 32, bands = 8, threshold = 0.5)
    graft.operators.Graph.connectedComponents(pairs, "id_a", "id_b")
      .select(col("n").as("doc_id"), col("l").as("cluster"))
      .orderBy(col("doc_id"))
  }

  /** Drop-list accounting per dup cluster: how many docs and bytes the
    * dedup decision removes, keeping each cluster's min-id representative.
    * The reporting step a corpus-dedup run ends with (what did dedup
    * save?), built on the same LSH→verify→components pipeline as d7. */
  def d8_dup_drop_stats(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashLsh(Tables.load(s, dir, "documents"), "doc_id", "text",
      shingleN = 3, numHashes = 32, bands = 8, threshold = 0.5)
    val labels = graft.operators.Graph.connectedComponents(pairs, "id_a", "id_b")
    val lens = Tables.load(s, dir, "documents")
      .select(col("doc_id"), length(col("text")).as("len"))
    labels.join(lens, labels("n") === lens("doc_id"))
      .groupBy(col("l").as("cluster"))
      .agg(
        count(lit(1)).cast(IntegerType).as("n_docs"),
        sum(col("len")).cast(LongType).as("bytes_total"),
        sum(when(col("n") =!= col("l"), col("len")).otherwise(0))
          .cast(LongType).as("bytes_dropped"))
      .orderBy(col("cluster"))
  }

  // ── text analysis ───────────────────────────────────────────────────────

  def t1_text_stats(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").select(
      col("doc_id"),
      Text.tokenCount(col("text")).cast(IntegerType).as("n_tokens"),
      length(col("text")).as("len_chars"),
      round(Text.meanTokenLen(col("text")), 6).as("mean_token_len"),
      round(Text.punctRatio(col("text")), 6).as("punct_ratio"),
      round(Text.stopwordRatio(col("text"), Text.defaultStopwords), 6)
        .as("stopword_ratio"),
      Text.md5Fingerprint(col("text")).as("fingerprint"))
      .orderBy(col("doc_id"))

  def t2_langid(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").select(
      col("doc_id"),
      Text.langId(col("text")).as("lang_pred"),
      col("lang").as("lang_declared"),
      round(Text.qualityScore(col("text")), 6).as("quality"))
      .orderBy(col("doc_id"))

  def t3_fingerprint_rolling(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").select(
      col("doc_id"),
      RollingMinHash.rollingMinHash(col("text"), k = 8).as("rhash"))
      .orderBy(col("doc_id"))

  /** Character-3-gram profile: distinct char-shingle count plus the
    * lexicographic min/max gram (a cheap per-doc signature the char-level
    * dedup path builds on). One native expression per row — the prior
    * composable form (array_distinct(transform(...)) consumed by three
    * aggregates) re-ran the normalize pipeline inside the per-gram
    * lambda ×3 consumers: O(len²) interpreted, ~500 s at sf1
    * (round-12 sf1 finding; CharGramStats in NativeExprs.scala). */
  def t5_char_ngrams(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").select(
      col("doc_id"),
      Text.charGramStats(col("text"), 3).as("g"))
      .select(col("doc_id"),
        col("g.n_grams").as("n_grams"),
        col("g.min_gram").as("min_gram"),
        col("g.max_gram").as("max_gram"))
      .orderBy(col("doc_id"))
  }

  // ── similarity search ───────────────────────────────────────────────────

  def s1_cosine_topk(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5)
      .orderBy(col("query_id"), col("rk"))
  }

  /** Recall-amplified parameters (4-bit buckets × 16 tables + 1-bit
    * multi-probe): on this corpus the true top-k all surface as candidates,
    * so the ANN result coincides with the exact s1 answer and shares its
    * oracle. Fewer tables trade recall for candidate volume — the knob a
    * 100 TB deployment tunes per corpus. */
  def s2_ann_lsh_topk(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", dim = 64, k = 5, nPlanes = 4, nTables = 16)
      .orderBy(col("query_id"), col("rk"))
  }

  /** IVF ANN twin of s2 (inverted-file cells from spherical k-means,
    * probe the `nprobe` nearest). This corpus is isotropic — neighbors at
    * cosine ≈ 0.3 sit in arbitrary cells, so only full probing is exact
    * and s3 runs with nprobe = nCells to share s1's oracle. On clustered
    * data the knob prunes hard: IvfSpec shows full recall probing 1 of 4
    * cells when structure exists. */
  def s3_ann_ivf_topk(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    graft.operators.Ivf.topK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, nCells = 16, iters = 3, nprobe = 16)
      .orderBy(col("query_id"), col("rk"))
  }

  // ── events: windowing, sessionization, JSON props ───────────────────────

  def e1_events_hourly(s: SparkSession, dir: String): DataFrame =
    eventsWithTs(s, dir)
      .groupBy(
        date_trunc("hour", col("ts_us")).as("hour"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType)
          .as("total_value"))
      .orderBy(col("hour"), col("event_type"))

  def e2_sessionize(s: SparkSession, dir: String): DataFrame = {
    val e = eventsWithTs(s, dir)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val gapUs = unix_micros(col("ts_us")) - unix_micros(lag(col("ts_us"), 1).over(w))
    val newSess = when(gapUs.isNull || gapUs > 1800L * 1000000L, 1L).otherwise(0L)
    e.withColumn("new_sess", newSess)
      .withColumn("sess_no",
        sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_no"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("sess_start"),
        max(col("ts_us")).as("sess_end"))
      .orderBy(col("user_id"), col("sess_no"))
  }

  def e3_json_props(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(regexp_extract(col("props"), "\"k\": ([0-9]+)", 1)
          .cast(IntegerType)).as("sum_k"))
      .orderBy(col("event_type"))

  /** e1's hourly aggregation executed through Structured Streaming
    * (`readStream` over the same parquet, AvailableNow-style drain into a
    * memory sink) — hash-matching e1's oracle proves batch/stream parity
    * of the windowed aggregation. */
  def e4_stream_hourly(s: SparkSession, dir: String): DataFrame = {
    val stream = eventsStream(s, dir)
    val agg = stream
      .groupBy(window(col("ts_us"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType)
          .as("total_value"))
    drain(agg, "complete")
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("total_value"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** e2's sessionization executed through `flatMapGroupsWithState`
    * (event-time timeout) over a parquet stream. Append mode emits only
    * *closed* sessions: every non-final session closes when its
    * successor's first event arrives, and a final session closes when the
    * terminal watermark (max event time − 30 min gap) passes its
    * `end + gap` timeout. The oracle derives exactly that subset from the
    * batch session computation — stateful batch/stream parity is proven
    * through the hash gate, not asserted. */
  def e5_stream_sessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stream = eventsStream(s, dir)
      .select(col("event_id"), col("ts_us").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[graft.streaming.Event]
    drain(graft.streaming.EventStreams.sessionize(stream, gapMinutes = 30),
        "append")
      .select(col("user_id"), col("n_events"), col("sess_start"),
        col("sess_end"))
      .orderBy(col("user_id"), col("sess_start"))
  }

  /** Stream-static enrichment join: the events stream joins the static
    * customer dimension (per-batch broadcast lookup — no stream state) and
    * aggregates revenue by nation. The oracle is the plain batch
    * join+aggregate, proving the join semantics carry to streams. */
  def e6_stream_static_join(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val stream = Tables.stream(s, dir, "events")
      .join(cust, col("user_id") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType)
          .as("total_value"))
    drain(stream, "complete").orderBy(col("c_nationkey"))
  }

  /** Streaming exact dedup under a watermark: the stream is the events
    * file unioned with itself (every row duplicated); `dropDuplicates
    * WithinWatermark` collapses the copies, so the post-dedup aggregate
    * must equal the batch aggregate over the *original* table — the
    * dedup-on-ingest contract, proven through the oracle. */
  def e7_stream_dedup(s: SparkSession, dir: String): DataFrame = {
    def src = eventsStream(s, dir)
    val deduped = graft.streaming.EventStreams.dedupWithinWatermark(
      src.union(src), idCol = "event_id", tsCol = "ts_us")
    drain(deduped, "append")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType)
          .as("total_value"))
      .orderBy(col("event_type"))
  }

  /** Complete-output-mode streaming aggregate — the third output mode
    * (e1-e8 cover append; dedup/sessions carry update-shaped state): the
    * sink holds the full current aggregate after every micro-batch, the
    * mode a live dashboard consumes. Unwindowed, so state is one row per
    * key — bounded by key cardinality, not stream length. */
  def e10_stream_complete_agg(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.stream(s, dir, "events")
    val agged = src.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType)
          .as("total_value"))
    drain(agged, "complete").orderBy(col("event_type"))
  }

  /** Stream-stream time-interval join: purchase events join click events
    * of the same user from the preceding 30 minutes, both sides
    * watermarked so join state expires instead of growing with the
    * streams. Inner matches emit as rows arrive; the oracle is the batch
    * interval join over the same table. */
  def e8_stream_interval_join(s: SparkSession, dir: String): DataFrame = {
    def src = eventsStream(s, dir)
      .select(col("event_id"), col("ts_us"),
        col("user_id"), col("event_type"))
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts_us").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts_us").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val joined = purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
        col("c_ts") <= col("p_ts"))
    drain(joined, "append")
      .groupBy(col("p_id"))
      .agg(count(lit(1)).as("n_clicks"), max(col("c_ts")).as("last_click"))
      .orderBy(col("p_id"))
  }

  /** Cross-corpus incremental dedup: treat odd doc_ids as the incoming
    * batch and even doc_ids as the existing corpus; a batch doc is dropped
    * when it is ≥0.5 Jaccard-similar to any corpus doc (dup_of = the
    * minimum such corpus id). The "don't re-ingest what you already have"
    * operator of a continuously-crawling pipeline. */
  def d9_cross_corpus_dedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val best = Dedup.crossNgramJaccard(batch, corpus, "doc_id", "text",
        n = 3, threshold = 0.5)
      .groupBy(col("id_a").as("doc_id"))
      .agg(min(col("id_b")).as("dup_of"))
    batch.select(col("doc_id")).join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"), col("dup_of").isNull.as("kept"))
      .orderBy(col("doc_id"))
  }

  /** Stream-stream LEFT OUTER interval join: matched purchases emit as
    * clicks arrive (like e8); *unmatched* purchases emit a null-padded row
    * only once the watermark passes their timestamp and the join state
    * evicts them — the outer-specific semantics e8's inner join never
    * exercises. Purchases younger than the final watermark (max event time
    * floored to ms, minus the 1 h delay) are still in state when the
    * finite stream drains, so they never emit; the oracle reproduces
    * exactly that eviction rule. */
  def e9_stream_outer_interval_join(s: SparkSession, dir: String): DataFrame = {
    def src = eventsStream(s, dir)
      .select(col("event_id"), col("ts_us"),
        col("user_id"), col("event_type"))
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts_us").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts_us").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val joined = purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
        col("c_ts") <= col("p_ts"),
      "leftOuter")
    drain(joined, "append")
      .groupBy(col("p_id"))
      // count the *click* column: null-padded outer rows count as zero
      .agg(count(col("c_user")).as("n_clicks"),
        max(col("c_ts")).as("last_click"))
      .orderBy(col("p_id"))
  }

  // ── multimodal pipeline (REAL decode since round 8 — PixelMediaCodec) ───

  /** Real image decode through the codec-generic `mapPartitions` plumbing:
    * each document becomes an actual 8×8 P6 PPM payload (header + raster
    * bytes), [[graft.operators.PixelMediaCodec]] parses the format and
    * folds the DECODED pixels into 8 feature sums. The oracle replays the
    * raster's closed form (`pixel i = ord(text[i mod len]) % 256`) — a
    * decoder that mis-skips the header or mis-sizes the raster shifts
    * every feature and fails the hash. `total_bytes` is the true encoded
    * payload size (11-byte header + 192 raster bytes = 203/doc). */
  def m1_multimodal_features(s: SparkSession, dir: String): DataFrame = {
    val withPayload = Multimodal.attachImagePayload(
      Tables.load(s, dir, "documents").select(col("doc_id"), col("text"), col("source")),
      "text", width = 8, height = 8, format = "ppm")
    val decoded =
      Multimodal.decodeFeatures(withPayload, featureDim = 8, PixelMediaCodec)
    decoded
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("media.n_bytes")).as("total_bytes"),
        round(avg(element_at(col("features"), 1)), 6).as("mean_f0"))
      .orderBy(col("source"))
  }

  /** Batched model scoring over REAL image payloads (the mapInPandas-shaped
    * stage): per-doc scores are a mod-997 fold of the decoded 8×8 PPM
    * pixels, aggregated per source. Scores are row-wise deterministic, so
    * batch boundaries (a pure efficiency knob) cannot leak into results —
    * which is exactly what lets the oracle check it. */
  def m3_batched_scores(s: SparkSession, dir: String): DataFrame = {
    val withPayload = Multimodal.attachImagePayload(
      Tables.load(s, dir, "documents").select(col("doc_id"), col("text"), col("source")),
      "text", width = 8, height = 8, format = "ppm")
    Multimodal.scoreBatched(withPayload, batchSize = 32, PixelMediaCodec)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("score")), 6).as("mean_score"))
      .orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d1_dedup_exact"       -> (d1_dedup_exact _),
    "d2_ngram_jaccard"     -> (d2_ngram_jaccard _),
    "d3_minhash_lsh"       -> (d3_minhash_lsh _),
    "d4_simhash"           -> (d4_simhash _),
    "d5_embed_cosine_pairs" -> (d5_embed_cosine_pairs _),
    "d6_embed_cosine_exact" -> (d6_embed_cosine_exact _),
    "d7_dup_clusters"      -> (d7_dup_clusters _),
    "d8_dup_drop_stats"    -> (d8_dup_drop_stats _),
    "d9_cross_corpus_dedup" -> (d9_cross_corpus_dedup _),
    "t1_text_stats"        -> (t1_text_stats _),
    "t2_langid"            -> (t2_langid _),
    "t3_fingerprint_rolling" -> (t3_fingerprint_rolling _),
    "t5_char_ngrams"       -> (t5_char_ngrams _),
    "s1_cosine_topk"       -> (s1_cosine_topk _),
    "s2_ann_lsh_topk"      -> (s2_ann_lsh_topk _),
    "s3_ann_ivf_topk"      -> (s3_ann_ivf_topk _),
    "e1_events_hourly"     -> (e1_events_hourly _),
    "e2_sessionize"        -> (e2_sessionize _),
    "e3_json_props"        -> (e3_json_props _),
    "e4_stream_hourly"     -> (e4_stream_hourly _),
    "e5_stream_sessionize" -> (e5_stream_sessionize _),
    "e6_stream_static_join" -> (e6_stream_static_join _),
    "e7_stream_dedup"      -> (e7_stream_dedup _),
    "e8_stream_interval_join" -> (e8_stream_interval_join _),
    "e9_stream_outer_interval_join" -> (e9_stream_outer_interval_join _),
    "e10_stream_complete_agg" -> (e10_stream_complete_agg _),
    "m1_multimodal_features" -> (m1_multimodal_features _),
    "m3_batched_scores"    -> (m3_batched_scores _))

  /** Exact 3-gram Jaccard pairs at threshold 0.5 — the answer both
    * d2 (exact algorithm) and d3 (MinHash-LSH candidates + exact
    * verification) must produce: on this corpus LSH recall is total, so
    * the approximate path is held to the exact answer.
    *
    * Round-14 re-spell (r13 ask #3): the old shared-shingle self-join
    * generated Σ df² candidate rows, and the sf1 replays of d35/d36
    * (which inline this CTE) blew 100 GB RAM + 75 GB spill in DuckDB.
    * The oracle now prunes exactly like the engine: the Bayardo prefix
    * filter — J ≥ 0.5 forces overlap ≥ ceil(0.5·n) per side, so the two
    * docs' (n − ceil(0.5·n) + 1) = (n//2 + 1) globally-rarest shingles
    * must share the pair's FIRST common shingle under the (df, shingle)
    * order (prefix⋈prefix, Σ df_prefix² rows) — tightened by the length
    * filter (J ≥ 0.5 ⟹ sizes within 2×) and the PPJoin positional
    * filter (overlap ≤ 1 + min of both suffix lengths at the first
    * common shingle, and J ≥ 0.5 needs overlap ≥ ceil((na+nb)/3)) —
    * then exact verification by list_intersect over compact per-doc
    * shingle arrays. All three prunes are lossless (the first common
    * shingle of a qualifying pair always passes them): values and order
    * are identical to the unpruned join (the sf0.01/sf0.1/sf1 hash
    * gates pin it). */
  private[queries] val exactJaccardSql =
    """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w,
        |         generate_subscripts(string_split_regex(trim(text), '\s+'), 1) AS pos
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, w || ' ' || w2 || ' ' || w3 AS shingle FROM (
        |    SELECT doc_id, w,
        |           lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
        |           lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
        |    FROM tok) WHERE w2 IS NOT NULL AND w3 IS NOT NULL
        |), sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
        |ranked AS (
        |  SELECT s.doc_id, s.shingle,
        |    ROW_NUMBER() OVER (PARTITION BY s.doc_id
        |                       ORDER BY d.df, s.shingle) AS rk,
        |    z.n
        |  FROM sh s JOIN dfreq d ON d.shingle = s.shingle
        |  JOIN sizes z ON z.doc_id = s.doc_id),
        |pref AS (SELECT doc_id, shingle, rk, n FROM ranked
        |  WHERE rk <= n // 2 + 1),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM pref a JOIN pref b
        |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |    AND b.n <= 2 * a.n AND a.n <= 2 * b.n
        |    AND 1 + LEAST(a.n - a.rk, b.n - b.rk) >= (a.n + b.n + 2) // 3),
        |arrs AS (SELECT doc_id, list(shingle) AS arr, COUNT(*) AS n
        |  FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT c.id_a, c.id_b, len(list_intersect(x.arr, y.arr)) AS inter,
        |    x.n AS na, y.n AS nb
        |  FROM cand c JOIN arrs x ON x.doc_id = c.id_a
        |  JOIN arrs y ON y.doc_id = c.id_b)
        |SELECT id_a, id_b,
        |  ROUND(CAST(inter AS DOUBLE)/(na + nb - inter), 6) AS jaccard
        |FROM inter
        |WHERE CAST(inter AS DOUBLE)/(na + nb - inter) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin

  /** Exact cosine top-k for the first five query vectors — shared by s1
    * (brute force) and s2 (LSH whose amplified recall recovers the exact
    * top-k on this corpus). */
  private[queries] val cosineTopkSql =
    """WITH e AS (
      |  SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      |dots AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |         SUM(CAST(q.v AS DOUBLE) * CAST(c.v AS DOUBLE)) AS dot
      |  FROM e q JOIN e c ON q.i = c.i
      |  WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id
      |  GROUP BY 1, 2),
      |norms AS (
      |  SELECT vec_id, sqrt(SUM(CAST(v AS DOUBLE)*CAST(v AS DOUBLE))) AS nrm
      |  FROM e GROUP BY 1),
      |ranked AS (
      |  SELECT query_id, cand_id,
      |         ROUND(dot/(nq.nrm*nc.nrm), 6) AS cosine,
      |         ROW_NUMBER() OVER (PARTITION BY query_id
      |           ORDER BY dot/(nq.nrm*nc.nrm) DESC, cand_id) AS rk
      |  FROM dots JOIN norms nq ON nq.vec_id = query_id
      |  JOIN norms nc ON nc.vec_id = cand_id)
      |SELECT query_id, cand_id, cosine, rk FROM ranked WHERE rk <= 5
      |ORDER BY query_id, rk""".stripMargin

  /** B^(7-j) mod 2^61-1 for j=0..7 (B=1000003) — the per-position weights
    * that let DuckDB recompute [[graft.functions.RollingMinHash]]'s
    * Karp-Rabin window hash as a plain weighted sum in HUGEINT. */
  private val rollingPowers: String = {
    val M = BigInt(graft.functions.RollingMinHash.M)
    (0 to 7).map(j => s"($j, ${BigInt(1000003).modPow(BigInt(7 - j), M)})")
      .mkString(", ")
  }

  /** 2^b for b=0..60: bit weights for the SimHash oracle (bits 61-63 of a
    * mod-2^61-1 token hash are always clear). */
  private val bitPowers: String =
    (0 to 60).map(b => s"($b, ${1L << b})").mkString(", ")

  /** B1^(j+1) mod 2^61-1 per plane j and B2^(i+1) mod 2^61-1 per dimension
    * i — the two power tables from which DuckDB recomputes
    * [[graft.operators.Dedup.lshPlaneCoef]]'s hyperplane coefficients in
    * HUGEINT (d5 runs 4 planes over 64-dim embeddings). */
  private[queries] val lshPlanePowers: String = {
    import graft.operators.Dedup
    (0 until 4).map(j =>
      s"($j, ${BigInt(Dedup.LshB1).modPow(j + 1, Dedup.LshM)})")
      .mkString(", ")
  }
  private[queries] val lshDimPowers: String = {
    import graft.operators.Dedup
    (0 until 64).map(i =>
      s"($i, ${BigInt(Dedup.LshB2).modPow(i + 1, Dedup.LshM)})")
      .mkString(", ")
  }

  /** DuckDB oracles. Everything except a1 (HLL sketch — approximate by
    * contract) and d5 (bucket membership depends on seeded Gaussian
    * planes) is hash-checked; the portable mod-2^61-1 hash family makes
    * even the MinHash/SimHash/rolling-fingerprint operators exactly
    * reproducible in SQL. */
  val oracles: Map[String, String] = Map(
    "d1_dedup_exact" ->
      """SELECT MIN(doc_id) AS doc_id,
        | md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint,
        | COUNT(*) AS dup_count
        |FROM documents
        |GROUP BY 2 ORDER BY doc_id""".stripMargin,
    "d2_ngram_jaccard" -> exactJaccardSql,
    "d3_minhash_lsh" -> exactJaccardSql,
    "d7_dup_clusters" ->
      s"""WITH RECURSIVE pairs AS ($exactJaccardSql),
        |undirected AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT a AS n FROM undirected),
        |reach(n, l) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT u.b, r.l FROM reach r JOIN undirected u ON u.a = r.n)
        |SELECT n AS doc_id, MIN(l) AS cluster
        |FROM reach GROUP BY n ORDER BY doc_id""".stripMargin,
    "d9_cross_corpus_dedup" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w,
        |         generate_subscripts(string_split_regex(trim(text), '\s+'), 1) AS pos
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, w || ' ' || w2 || ' ' || w3 AS shingle FROM (
        |    SELECT doc_id, w,
        |           lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
        |           lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
        |    FROM tok) WHERE w2 IS NOT NULL AND w3 IS NOT NULL
        |), sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |    AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        |  GROUP BY 1, 2),
        |best AS (
        |  SELECT id_a AS doc_id, MIN(id_b) AS dup_of
        |  FROM inter JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= 0.5
        |  GROUP BY 1)
        |SELECT d.doc_id, b.dup_of, (b.dup_of IS NULL) AS kept
        |FROM documents d LEFT JOIN best b USING (doc_id)
        |WHERE d.doc_id % 2 = 1 ORDER BY doc_id""".stripMargin,
    "d8_dup_drop_stats" ->
      s"""WITH RECURSIVE pairs AS ($exactJaccardSql),
        |undirected AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT a AS n FROM undirected),
        |reach(n, l) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT u.b, r.l FROM reach r JOIN undirected u ON u.a = r.n),
        |labels AS (SELECT n, MIN(l) AS cluster FROM reach GROUP BY n)
        |SELECT cluster, CAST(COUNT(*) AS INT) AS n_docs,
        |  CAST(SUM(length(d.text)) AS BIGINT) AS bytes_total,
        |  CAST(SUM(CASE WHEN lb.n <> lb.cluster THEN length(d.text)
        |           ELSE 0 END) AS BIGINT) AS bytes_dropped
        |FROM labels lb JOIN documents d ON d.doc_id = lb.n
        |GROUP BY cluster ORDER BY cluster""".stripMargin,
    "d4_simhash" ->
      s"""WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
        |  FROM documents),
        |th AS (
        |  SELECT doc_id,
        |    list_reduce(list_transform(range(1, length(w) + 1),
        |        p -> CAST(ord(substr(w, CAST(p AS INT), 1)) AS HUGEINT)),
        |      (h, c) -> (h * 1000003 + c) % 2305843009213693951) AS hw
        |  FROM tok),
        |bits(b, p2) AS (VALUES $bitPowers),
        |votes AS (
        |  SELECT doc_id, bits.b, bits.p2,
        |    SUM(CASE WHEN (th.hw // CAST(bits.p2 AS HUGEINT)) % 2 = 1
        |             THEN 1 ELSE -1 END) AS v
        |  FROM th CROSS JOIN bits GROUP BY 1, 2, 3),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN v > 0 THEN p2 ELSE 0 END) AS BIGINT) AS sh
        |  FROM votes GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    // d5 recomputes the LSH buckets from the same public integer
    // arithmetic the operator uses (multiplicative mod-2^61-1 planes via
    // the injected power tables, round(x·1e6) quantization, exact BIGINT
    // dot signs), then verifies cosine within buckets — the full LSH
    // semantics are hash-checked, not just the exact twin.
    "d5_embed_cosine_pairs" ->
      s"""WITH pj(j, pj) AS (VALUES $lshPlanePowers),
        |pi(i, pi) AS (VALUES $lshDimPowers),
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
        |dots AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |         SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
        |  JOIN bkt ba ON ba.vec_id = a.vec_id
        |  JOIN bkt bb ON bb.vec_id = b.vec_id AND ba.bucket = bb.bucket
        |  GROUP BY 1, 2),
        |norms AS (
        |  SELECT vec_id, sqrt(SUM(CAST(v AS DOUBLE)*CAST(v AS DOUBLE))) AS nrm
        |  FROM e GROUP BY 1)
        |SELECT id_a, id_b, ROUND(dot/(na.nrm*nb.nrm), 6) AS cosine
        |FROM dots JOIN norms na ON na.vec_id = id_a
        |JOIN norms nb ON nb.vec_id = id_b
        |WHERE ROUND(dot/(na.nrm*nb.nrm), 6) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,
    "d6_embed_cosine_exact" ->
      """WITH e AS (
        |  SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |dots AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |         SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
        |  GROUP BY 1, 2),
        |norms AS (
        |  SELECT vec_id, sqrt(SUM(CAST(v AS DOUBLE)*CAST(v AS DOUBLE))) AS nrm
        |  FROM e GROUP BY 1)
        |SELECT id_a, id_b, ROUND(dot/(na.nrm*nb.nrm), 6) AS cosine
        |FROM dots JOIN norms na ON na.vec_id = id_a
        |JOIN norms nb ON nb.vec_id = id_b
        |WHERE ROUND(dot/(na.nrm*nb.nrm), 6) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,
    "t2_langid" ->
      """WITH d AS (
        |  SELECT doc_id, lang, text,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |sc AS (SELECT doc_id, lang, text, toks, list_sort([
        |  {'score': len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','mit','ein'], x))), 'lang': 'de'},
        |  {'score': len(list_filter(toks, x -> list_contains(['the','and','of','to','is','that','with','for'], x))), 'lang': 'en'},
        |  {'score': len(list_filter(toks, x -> list_contains(['el','la','los','las','y','de','que','en','es'], x))), 'lang': 'es'},
        |  {'score': len(list_filter(toks, x -> list_contains(['le','la','les','et','est','que','dans','une'], x))), 'lang': 'fr'},
        |  {'score': len(list_filter(toks, x -> list_contains(['的','是','了','在','我','有','和','不'], x))), 'lang': 'zh'}]) AS ss
        |  FROM d),
        |best AS (SELECT doc_id, lang, text, toks, ss[5] AS b FROM sc)
        |SELECT doc_id,
        |  CASE WHEN b.score > 0 THEN b.lang ELSE 'und' END AS lang_pred,
        |  lang AS lang_declared,
        |  ROUND((
        |    CASE WHEN length(text) BETWEEN 50 AND 20000 THEN 1.0 ELSE 0.3 END +
        |    CASE WHEN CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |           / greatest(length(lower(text)), 1) < 0.2 THEN 1.0 ELSE 0.4 END +
        |    CASE WHEN CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |             x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','from'], x))) AS DOUBLE)
        |           / greatest(len(string_split_regex(trim(text), '\s+')), 1)
        |           BETWEEN 0.01 AND 0.7 THEN 1.0 ELSE 0.5 END) / 3.0, 6) AS quality
        |FROM best ORDER BY doc_id""".stripMargin,
    "t3_fingerprint_rolling" ->
      s"""WITH pw(j, p) AS (VALUES $rollingPowers),
        |d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |win AS (SELECT doc_id, text, unnest(range(1, n - 6)) AS i FROM d),
        |h AS (
        |  SELECT w.doc_id, w.i,
        |         SUM(CAST(ord(substr(w.text, CAST(w.i + pw.j AS INT), 1)) AS HUGEINT)
        |             * CAST(pw.p AS HUGEINT)) % 2305843009213693951 AS hv
        |  FROM win w CROSS JOIN pw
        |  GROUP BY 1, 2)
        |SELECT doc_id, CAST(MIN(hv) AS BIGINT) AS rhash
        |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t5_char_ngrams" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, length(s) - 1),
        |      i -> substr(s, CAST(i AS INT), 3))) AS grams
        |  FROM (SELECT doc_id,
        |          lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS s
        |        FROM documents))
        |SELECT doc_id, CAST(len(grams) AS INT) AS n_grams,
        |  list_aggregate(grams, 'min') AS min_gram,
        |  list_aggregate(grams, 'max') AS max_gram
        |FROM g ORDER BY doc_id""".stripMargin,
    // m1/m3 replay the 8×8 PPM raster's closed form: decoded pixel i
    // (i in 0..191) = ord(text[i mod len]) % 256. The Spark side round-trips
    // through REAL P6 bytes (11-byte header + raster), so a header/format
    // bug shifts every pixel and breaks these hashes.
    "m3_batched_scores" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  ROUND(AVG((COALESCE(list_sum(list_transform(range(0, 192),
        |      i -> ord(substr(text, CAST((i % length(text)) + 1 AS INT), 1)) % 256)), 0) % 997)
        |    / 997.0), 6) AS mean_score
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "m1_multimodal_features" ->
      """WITH f AS (
        |  SELECT source, text,
        |    CAST(list_sum(list_transform(range(0, 192, 8),
        |        i -> ord(substr(text, CAST((i % length(text)) + 1 AS INT), 1)) % 256)) / 255.0 AS REAL) AS f0
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(COUNT(*) * 203 AS BIGINT) AS total_bytes,
        |  ROUND(AVG(CAST(f0 AS DOUBLE)), 6) AS mean_f0
        |FROM f GROUP BY source ORDER BY source""".stripMargin,
    "t1_text_stats" ->
      """SELECT doc_id,
        | CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens,
        | CAST(length(text) AS INT) AS len_chars,
        | ROUND(CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
        |   / greatest(len(string_split_regex(trim(text), '\s+')), 1), 6) AS mean_token_len,
        | ROUND(CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |   / greatest(length(lower(text)), 1), 6) AS punct_ratio,
        | ROUND(CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |     x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','from'], x))) AS DOUBLE)
        |   / greatest(len(string_split_regex(trim(text), '\s+')), 1), 6) AS stopword_ratio,
        | md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "s1_cosine_topk" -> cosineTopkSql,
    "s2_ann_lsh_topk" -> cosineTopkSql,
    "s3_ann_ivf_topk" -> cosineTopkSql,
    "e1_events_hourly" ->
      """SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour,
        | event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "e2_sessionize" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sess_no
        |  FROM flagged)
        |SELECT user_id, CAST(sess_no AS BIGINT) AS sess_no,
        | COUNT(*) AS n_events,
        | MIN(ts) AS sess_start, MAX(ts) AS sess_end
        |FROM sessions GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "e3_json_props" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "e4_stream_hourly" ->
      """SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour,
        | event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "e8_stream_interval_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events),
        |p AS (SELECT event_id AS p_id, user_id, ts AS p_ts FROM e
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts AS c_ts FROM e WHERE event_type = 'click')
        |SELECT p.p_id, COUNT(*) AS n_clicks, MAX(c.c_ts) AS last_click
        |FROM p JOIN c ON c.user_id = p.user_id
        |  AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE AND c.c_ts <= p.p_ts
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "e9_stream_outer_interval_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events),
        |p AS (SELECT event_id AS p_id, user_id, ts AS p_ts FROM e
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts AS c_ts FROM e WHERE event_type = 'click'),
        |agg AS (
        |  SELECT p.p_id, ANY_VALUE(p.p_ts) AS p_ts,
        |         COUNT(c.c_ts) AS n_clicks, MAX(c.c_ts) AS last_click
        |  FROM p LEFT JOIN c ON c.user_id = p.user_id
        |    AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE AND c.c_ts <= p.p_ts
        |  GROUP BY 1),
        |-- the stream's final global watermark: each input's watermark is
        |-- its own max event time (tracked in ms) minus the 1 h delay, and
        |-- the join runs at the MIN of the two — here the click side lags.
        |-- Unmatched purchases at or above it are still in join state when
        |-- the finite stream drains, so the outer join never emits them
        |wm AS (SELECT make_timestamp(least(
        |    epoch_ms(MAX(CASE WHEN event_type = 'purchase' THEN ts END)),
        |    epoch_ms(MAX(CASE WHEN event_type = 'click' THEN ts END)))
        |  * 1000 - 3600000000) AS w FROM e)
        |SELECT p_id, n_clicks, last_click FROM agg, wm
        |WHERE n_clicks > 0 OR p_ts < wm.w
        |ORDER BY p_id""".stripMargin,
    "e10_stream_complete_agg" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "e7_stream_dedup" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "e6_stream_static_join" ->
      """SELECT c.c_nationkey, COUNT(*) AS n,
        | CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // e5: the batch sessions (e2's CTEs), restricted to the ones Append
    // mode emits — every non-final session, plus final sessions whose
    // ms-floored timeout (end + gap) lies strictly below the terminal
    // watermark (ms-floored max event time − gap), mirroring Spark's
    // event-time-timeout firing rule.
    "e5_stream_sessionize" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sess_no
        |  FROM flagged),
        |agg AS (
        |  SELECT user_id, sess_no, COUNT(*) AS n_events,
        |         MIN(ts) AS sess_start, MAX(ts) AS sess_end
        |  FROM sessions GROUP BY 1, 2),
        |mx AS (SELECT user_id, MAX(sess_no) AS m FROM agg GROUP BY 1),
        |wm AS (SELECT (epoch_us(MAX(ts)) // 1000) - 1800000 AS wm_ms FROM e)
        |SELECT a.user_id, a.n_events, a.sess_start, a.sess_end
        |FROM agg a JOIN mx ON mx.user_id = a.user_id CROSS JOIN wm
        |WHERE a.sess_no < mx.m
        |   OR (epoch_us(a.sess_end) // 1000) + 1800000 < wm.wm_ms
        |ORDER BY a.user_id, a.sess_start""".stripMargin)
}
