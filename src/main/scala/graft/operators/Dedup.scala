package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Text

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard.
  *
  * Scale design: nothing here compares all pairs. Exact dedup is one
  * hash-aggregate; MinHash/SimHash generate candidates with a
  * band→bucket-join (only documents sharing a band hash ever meet in a
  * shuffle), then verify candidates exactly. Bucket skew (a degenerate
  * shingle shared by millions of docs) is bounded because band hashes are
  * over full signatures, and AQE's skew-join handling splits oversized
  * buckets at runtime.
  */
object Dedup {

  /** Exact dedup on a content fingerprint: one hash-aggregate pass, no
    * sort. Returns one representative (min id) per distinct value with the
    * duplicate count. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(Text.md5Fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
      .select(col(idCol), col("fingerprint"), col("dup_count"))

  /** Per-document distinct token-n-gram shingle sets as 64-bit xxhash
    * arrays — one row per document. Hashing to longs means every
    * downstream join/intersection moves 8-byte keys instead of n-token
    * strings (a large constant factor at corpus scale), at the cost of a
    * ~n²/2⁶⁴ collision probability that would merely admit one spurious
    * candidate pair. This compact form is the artifact worth
    * checkpointing/persisting between runs; [[explodedShingles]] derives
    * the posting-list view from it. */
  private def docShingleSets(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    // Tables.spread: the tokenize+shingle+hash pass is the family's
    // per-row hot loop — never leave it serialized on a one-row-group
    // test scan (round 14; identity at production scan widths)
    graft.Tables.spread(df).select(col(idCol).as("id"),
        transform(array_distinct(Text.shingles(col(textCol), n)),
          s => xxhash64(s)).as("shs"))
      .select(col("id"), size(col("shs")).as("n_sh"), col("shs"))

  /** The persistable dedup artifact: one (id, n_sh, shs) row per document
    * with the distinct shingles hashed to longs — what an incremental
    * pipeline lands to storage after each ingest so the next batch never
    * re-tokenizes the corpus (see
    * [[crossNgramJaccardAgainstSets]]). Write it with
    * `ParquetSink.write`; the schema round-trips through parquet
    * unchanged. */
  def shingleSets(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    docShingleSets(df, idCol, textCol, n)

  /** Posting-list view: (id, n_sh, sh) rows — the per-document set size
    * rides along with every shingle row, so candidate generation never
    * needs a join back to a sizes table. */
  private[operators] def explodedShingles(ds: DataFrame): DataFrame =
    ds.select(col("id"), col("n_sh"), explode(col("shs")).as("sh"))

  /** Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.
    * The shingle equi-join is the candidate generator — complexity is
    * Σ_shingle count² rather than n², which holds up when shingles are
    * discriminative (use larger n for noisier corpora). One join + one
    * aggregation total: set sizes are carried through the explode, and
    * (id_a, id_b) determines them, so they group along for free. */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    // Materialize the tokenize+shingle+hash pass once as one compact row
    // per document: the frequency ranking, the prefix branch, and both
    // verification sides all derive from it, and without a checkpoint
    // Spark would re-tokenize the corpus for each consumer. Same
    // executor-local-blocks trade-off as Graph.connectedComponents:
    // blocks free when the result is GC'd; a long-lived cluster
    // deployment should persist the set table to storage instead (it is
    // also the natural precomputed artifact to keep between incremental
    // dedup runs).
    val ds = docShingleSets(df, idCol, textCol, n).localCheckpoint()
    val jac = col("inter").cast(DoubleType) /
      (col("na") + col("nb") - col("inter")).cast(DoubleType)
    verifyPairs(ds, candidatePairs(explodedShingles(ds), threshold))
      .filter(jac >= threshold)
      .select(col("id_a"), col("id_b"), round(jac, 6).as("jaccard"))
  }

  /** Exact verification of candidate pairs against the compact per-doc
    * sets: two id equi-joins plus one native `array_intersect` per pair.
    * Compared to re-joining the exploded posting lists, this shuffles one
    * row per (pair, side) instead of one row per (pair, shingle) — the
    * candidate set is orders of magnitude smaller than the corpus, so the
    * exploded table never crosses the wire again. Emits
    * (id_a, id_b, na, nb, inter). */
  private def verifyPairs(ds: DataFrame, pairs: DataFrame): DataFrame =
    pairs
      .join(ds.select(col("id").as("id_a"), col("n_sh").as("na"),
        col("shs").as("shs_a")), "id_a")
      .join(ds.select(col("id").as("id_b"), col("n_sh").as("nb"),
        col("shs").as("shs_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("na"), col("nb"),
        size(array_intersect(col("shs_a"), col("shs_b"))).as("inter"))

  /** Exact prefix-filtered candidate pairs (Bayardo et al., "Scaling Up
    * All Pairs Similarity Search", WWW'07): under any global total order
    * on shingles, two sets with Jaccard ≥ t must share an element among
    * each set's first |s| − ⌈t·|s|⌉ + 1 elements — because J ≥ t forces
    * overlap ≥ ⌈t·|s|⌉ on both sides, and a set whose first
    * |s| − ⌈t·|s|⌉ + 1 elements are all non-shared has fewer than ⌈t·|s|⌉
    * elements left to share. Ordering by ascending document frequency
    * (rarest first) makes the prefixes maximally discriminative: the
    * ubiquitous shingles that drive the Σ|posting|² candidate blow-up on
    * low-entropy corpora never enter the candidate join at all. The
    * filter is lossless — dropped pairs provably sit below threshold —
    * so the verified result stays exact. */
  private[operators] def candidatePairs(sh: DataFrame, threshold: Double): DataFrame = {
    val prefix = rankedPrefix(sh, threshold)
    spreadPairs(prefix.as("x")
      .join(prefix.as("y"),
        col("x.sh") === col("y.sh") && col("x.id") < col("y.id") &&
          sizeAndPositionFilters(threshold))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")))
      .distinct()
  }

  /** The two extra LOSSLESS prunes of the PPJoin family (Xiao et al.,
    * WWW'08), round 14 — the d38 containment fix and the re-spelled
    * d35/d36 oracles already use exactly this algebra; this applies it to
    * the shared Jaccard candidate join, where the corpus's big dup
    * families otherwise flood the pair distinct + verify (409 k candidate
    * rows at sf0.1 for a few thousand true pairs). Evaluated on each
    * shared-prefix-shingle row before the pair `distinct`:
    *
    *  - length filter: J ≥ t forces t·|b| ≤ |a| (J ≤ min/max);
    *  - positional filter: overlap through this shingle is at most
    *    1 + min of both true suffix lengths (`pos` is the rank in the
    *    doc's FULL (df, sh) order), while J ≥ t needs overlap ≥
    *    ⌈t/(1+t)·(na+nb)⌉.
    *
    * Lossless because a qualifying pair's FIRST common shingle always
    * passes both (the suffixes there are maximal and the overlap bound is
    * implied by J ≥ t); the 1e-9 slack keeps the double-arithmetic ceil
    * from ever over-requiring — erring only toward keeping a candidate,
    * never dropping one. */
  private def sizeAndPositionFilters(threshold: Double): Column =
    col("y.n_sh").cast(DoubleType) >= col("x.n_sh") * threshold - 1e-9 &&
      col("x.n_sh").cast(DoubleType) >= col("y.n_sh") * threshold - 1e-9 &&
      (lit(1L) + least(col("x.n_sh") - col("x.pos"),
        col("y.n_sh") - col("y.pos"))).cast(DoubleType) >=
        ceil((col("x.n_sh") + col("y.n_sh")).cast(DoubleType) *
          lit(threshold / (1.0 + threshold)) - 1e-9)

  /** Round 14 (guide §2.5): candidate-pair tables are a few bytes per
    * row, so AQE's byte-based partition coalescing collapses them to one
    * or two partitions — and the exact verification that follows
    * (per-pair `array_intersect` over ~50-element sets) then runs as a
    * single straggler task (profiled 3.4 s of a 4.8 s query on d38's
    * twin shape). Re-spread by the pair key at cluster parallelism;
    * REPARTITION_BY_NUM exchanges are exempt from AQE coalescing, and at
    * corpus scale (where candidates outgrow the advisory size anyway)
    * the extra exchange moves only the 16-byte pair keys. Applied
    * BEFORE the pair distinct: the repartition then satisfies the
    * distinct's required distribution, so dedup + verify share the one
    * pinned exchange. */
  private[operators] def spreadPairs(pairs: DataFrame): DataFrame =
    pairs.repartition(pairs.sparkSession.sparkContext.defaultParallelism,
      col("id_a"), col("id_b"))

  /** Each document's |s| − ⌈t·|s|⌉ + 1 globally-rarest shingles — the
    * prefix that any ≥t-similar partner must intersect. */
  private def rankedPrefix(sh: DataFrame, threshold: Double): DataFrame =
    rankedPrefixWith(sh,
      sh.groupBy(col("sh")).agg(count(lit(1)).as("df0")), threshold)

  /** [[rankedPrefix]] under a CALLER-SUPPLIED global order (`freq` =
    * (sh, df0)): the prefix-filter lemma needs both sides of a join to
    * rank under the SAME total order, so cross-corpus callers pass the
    * union's document frequencies. Shingles absent from `freq` cannot
    * occur when freq comes from a union that includes `sh` itself. */
  private def rankedPrefixWith(sh: DataFrame, freq: DataFrame,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id")).orderBy(col("df0"), col("sh"))
    sh.join(freq, "sh")
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <=
        col("n_sh") - ceil(col("n_sh") * lit(threshold)) + 1)
      // n_sh and pos ride along for the PPJoin length/positional prunes
      // ([[sizeAndPositionFilters]]); prefix-only consumers ignore them
      .select(col("id"), col("sh"), col("n_sh"), col("pos"))
  }

  /** Directional n-gram containment: pairs (a, b) where
    * |shingles(a) ∩ shingles(b)| / |shingles(a)| ≥ t — "a is mostly inside
    * b", the near-superset signal Jaccard misses when sizes differ (a
    * quote, a mirrored section, a doc embedded in a larger one). Candidate
    * generation prefix-filters only the contained side: the overlap
    * requirement is ⌈t·|a|⌉ independent of |b|, so a's
    * |a| − ⌈t·|a|⌉ + 1 rarest shingles must hit SOME shingle of b (b's
    * side stays a full posting list — its size never relaxes the bound).
    * Exact verification over full shingle sets follows, as in
    * [[ngramJaccard]]. */
  def ngramContainment(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val ds = docShingleSets(df, idCol, textCol, n).localCheckpoint()
    val sh = explodedShingles(ds)
    val candidates = spreadPairs(rankedPrefix(sh, threshold).as("x")
      .join(sh.as("y"),
        col("x.sh") === col("y.sh") && col("x.id") =!= col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")))
      .distinct()
    val containment =
      col("inter").cast(DoubleType) / col("na").cast(DoubleType)
    verifyPairs(ds, candidates)
      .filter(containment >= threshold)
      .select(col("id_a"), col("id_b"),
        round(containment, 6).as("containment"))
  }

  /** Group pair-candidate shingle matches into exact Jaccard scores. */
  private def jaccardScore(joined: DataFrame, threshold: Double): DataFrame = {
    val inter = joined
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .agg(count(lit(1)).as("inter"))
    val jac = col("inter").cast(DoubleType) /
      (col("na") + col("nb") - col("inter")).cast(DoubleType)
    inter.filter(jac >= threshold)
      .select(col("id_a"), col("id_b"), round(jac, 6).as("jaccard"))
  }

  /** Cross-corpus near-dup pairs: every (new, corpus) pair sharing ≥1
    * shingle, scored by exact Jaccard — the incremental-ingest shape
    * ("is this crawl batch already in the corpus?"). Same candidate
    * complexity as [[ngramJaccard]]; at scale the corpus shingle table is
    * a precomputed, bucketed posting list the batch joins against.
    * Returns (`id_a` from `newDf`, `id_b` from `corpusDf`, `jaccard`). */
  def crossNgramJaccard(newDf: DataFrame, corpusDf: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      threshold: Double = 0.5): DataFrame =
    crossNgramJaccardAgainstSets(newDf,
      docShingleSets(corpusDf, idCol, textCol, n), idCol, textCol, n,
      threshold)

  /** [[crossNgramJaccard]] with the corpus side already in
    * [[shingleSets]] form — the actual incremental-ingest entry point:
    * `corpusSets` is read back from the persisted artifact, so the batch
    * run tokenizes ONLY the incoming batch and the corpus text never
    * re-enters the plan.
    *
    * Round-12 sf1 finding, fixed: the original full posting-list join
    * was Σ df² across batch×corpus — 0.16 s at sf0.1 → 73 s at sf1 on
    * the tiny-vocabulary fixture. Candidates now go through the SAME
    * Bayardo prefix filter as [[ngramJaccard]] (both sides' prefixes
    * ranked under ONE shared global order, the union's document
    * frequencies — the lemma requires a common total order), then
    * exact [[verifyPairs]]-style verification; lossless for the
    * threshold, pinned by D9PrefixFilterSpec. */
  def crossNgramJaccardAgainstSets(newDf: DataFrame, corpusSets: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      threshold: Double = 0.5): DataFrame =
    crossJaccardFromSets(docShingleSets(newDf, idCol, textCol, n),
      corpusSets, threshold)

  /** [[crossNgramJaccardAgainstSets]] with BOTH sides already in
    * [[shingleSets]] form — lets a caller that also needs the batch's
    * sets downstream (d16's artifact merge) tokenize the batch exactly
    * once instead of once per consumer (guide §1.2: don't recompute what
    * you already have). */
  def crossJaccardFromSets(newSets: DataFrame, corpusSets: DataFrame,
      threshold: Double): DataFrame = {
    val a = explodedShingles(newSets)
    val b = explodedShingles(corpusSets)
    val freq = a.select(col("sh")).union(b.select(col("sh")))
      .groupBy(col("sh")).agg(count(lit(1)).as("df0"))
    val candidates = spreadPairs(rankedPrefixWith(a, freq, threshold).as("x")
      .join(rankedPrefixWith(b, freq, threshold).as("y"),
        col("x.sh") === col("y.sh") && sizeAndPositionFilters(threshold))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")))
      .distinct()
    val jac = col("inter").cast(DoubleType) /
      (col("na") + col("nb") - col("inter")).cast(DoubleType)
    candidates
      .join(newSets.select(col("id").as("id_a"), col("n_sh").as("na"),
        col("shs").as("shs_a")), "id_a")
      .join(corpusSets.select(col("id").as("id_b"), col("n_sh").as("nb"),
        col("shs").as("shs_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("na"), col("nb"),
        size(array_intersect(col("shs_a"), col("shs_b"))).as("inter"))
      .filter(jac >= threshold)
      .select(col("id_a"), col("id_b"), round(jac, 6).as("jaccard"))
  }

  /** Posting-list view of a [[shingleSets]] artifact: (id, n_sh, sh) rows
    * — what a streaming ingest joins its own shingles against (the
    * stream-static join in e14). */
  def postingList(sets: DataFrame): DataFrame = explodedShingles(sets)

  /** Incremental MinHash+LSH dedup against the persisted index: the batch
    * computes its own signatures; the corpus contributes its persisted
    * [[minhashBands]] table (candidate generation — one (band, bh)
    * equi-join) and its persisted [[shingleSets]] (exact verification).
    * Corpus *text* never enters the plan — the ingest-time shape of LSH
    * dedup at 100 TB, where the index tables are maintained across runs
    * and only the batch is new. Emits (`id_a` from `newDf`, `id_b` from
    * the corpus, `jaccard` ≥ threshold); exact verification makes the
    * band parameters a pure recall knob, never a precision one. */
  def crossMinhashLsh(newDf: DataFrame, corpusBands: DataFrame,
      corpusSets: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    val qb = minhashBands(newDf, idCol, textCol, shingleN, numHashes, bands)
    val candidates = spreadPairs(qb.as("x")
      .join(corpusBands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")))
      .distinct()
    val newSets = docShingleSets(newDf, idCol, textCol, shingleN)
    val jac = col("inter").cast(DoubleType) /
      (col("na") + col("nb") - col("inter")).cast(DoubleType)
    candidates
      .join(newSets.select(col("id").as("id_a"), col("n_sh").as("na"),
        col("shs").as("shs_a")), "id_a")
      .join(corpusSets.select(col("id").as("id_b"), col("n_sh").as("nb"),
        col("shs").as("shs_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("na"), col("nb"),
        size(array_intersect(col("shs_a"), col("shs_b"))).as("inter"))
      .filter(jac >= threshold)
      .select(col("id_a"), col("id_b"), round(jac, 6).as("jaccard"))
  }

  /** MinHash signatures: per document, `numHashes` independent min-hashes
    * over its shingle multiset (min is duplicate-insensitive, so no
    * distinct pass is needed). Computed by the native
    * `minhash_sig` ([[graft.functions.NativeExprs.minhashSig]]) in one per-row loop — no
    * explode, no shuffle, no 32-column aggregate. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 32): DataFrame =
    graft.Tables.spread(df).select(col(idCol).as("id"),
      graft.functions.NativeExprs.minhashSig(
        graft.functions.Text.shingles(col(textCol), shingleN), numHashes)
        .as("sig"))

  /** LSH band table for a corpus: one (id, band, bh) row per document per
    * band — `bh` hashes the band's `numHashes/bands` signature slots.
    * This is the *candidate-generation artifact*: persisted next to
    * [[shingleSets]], it lets an incremental batch find its near-dup
    * candidates with one equi-join against the index
    * ([[crossMinhashLsh]]) — no corpus text, no corpus signatures at
    * ingest time. */
  def minhashBands(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sig = minhashSignatures(df, idCol, textCol, shingleN, numHashes)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        hash(slice(col("sig"), b * r + 1, r)).as("bh"))
    }
    sig.select(col("id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("id"), col("bs.band"), col("bs.bh"))
  }

  /** MinHash + LSH near-dup pairs: signatures → `bands` band-hashes →
    * bucket join on (band index, band hash) → exact Jaccard verification of
    * the candidates only. Estimated-similar pairs that share no band are
    * missed with probability (1-s^r)^b — the standard LSH trade. */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    val buckets = minhashBands(df, idCol, textCol, shingleN, numHashes, bands)
    val candidates = spreadPairs(buckets.as("x")
      .join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")))
      .distinct()

    // verify candidates with exact jaccard (candidate set is small by
    // construction, so this join is cheap). Checkpoint the compact set
    // table — verifyPairs consumes it on BOTH join sides, and without the
    // checkpoint the corpus is tokenized+shingled+hashed once per side
    // (same reuse contract as ngramJaccard above).
    val ds = docShingleSets(df, idCol, textCol, shingleN).localCheckpoint()
    val jac = col("inter").cast(DoubleType) /
      (col("na") + col("nb") - col("inter")).cast(DoubleType)
    verifyPairs(ds, candidates)
      .filter(jac >= threshold)
      .select(col("id_a"), col("id_b"), round(jac, 6).as("jaccard"))
  }

  /** 64-bit SimHash per document: each token hash votes ±1 on every bit
    * position, weighted by term frequency; the sign vector packs into one
    * long. Native `simhash64` ([[graft.functions.NativeExprs.simhash64]]) — one per-row
    * loop, no explode/aggregate (the 64-column aggregate formulation spent
    * seconds in codegen alone). */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.NativeExprs.simhash64(Text.tokens(col(textCol)))
        .as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist: candidates
    * from 16-bit band buckets (any pair within distance 3 shares at least
    * one of 4 bands by pigeonhole), verified with `bit_count(xor)`. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame = {
    val sig = simhashSignatures(df, idCol, textCol)
    val bandCols = (0 until 4).map(b => struct(lit(b).as("band"),
      shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(0xffffL).as("bh")))
    val buckets = sig.select(col("id"), col("simhash"),
      explode(array(bandCols: _*)).as("bs"))
      .select(col("id"), col("simhash"), col("bs.band"), col("bs.bh"))
    buckets.as("x")
      .join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Winnowing-fingerprint overlap pairs (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03 — the MOSS scheme): documents sharing at least `minShared`
    * winnowing fingerprints, scored by shared / min(fingerprint counts).
    * The fingerprint set ([[graft.functions.WinnowFingerprints]]) is ~2/w
    * the density of a full k-gram posting list while guaranteeing any
    * shared run of ≥ k+w−1 codepoints yields a shared fingerprint — the
    * substring-match detector Jaccard-style shingle overlap dilutes away
    * on long documents.
    *
    * `maxDf` is the boilerplate guard for corpus scale: a fingerprint
    * shared by millions of documents (a legal footer, a template header)
    * would alone contribute df² candidate pairs, so postings longer than
    * the cap are dropped before the pair join. Lossy only for pairs whose
    * *every* shared fingerprint is that ubiquitous — which is the
    * boilerplate relation the cap exists to ignore. `None` keeps the
    * operator exact (the oracle-checked configuration). */
  def winnowOverlap(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, w: Int = 16, minShared: Long = 5,
      maxDf: Option[Long] = None): DataFrame = {
    val fps = df
      .filter(length(col(textCol)) >= k)
      .select(col(idCol).as("id"),
        explode(graft.functions.WinnowFingerprints.winnow(col(textCol), k, w))
          .as("fp"))
      .localCheckpoint()
    val posted = maxDf match {
      case Some(cap) =>
        val dfc = fps.groupBy(col("fp")).agg(count(lit(1)).as("df0"))
        fps.join(dfc.filter(col("df0") <= cap), "fp").select(col("id"), col("fp"))
      case None => fps
    }
    val sized = fps.groupBy(col("id")).agg(count(lit(1)).as("nfp"))
    val pairs = posted.as("a")
      .join(posted.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    pairs
      .join(sized.select(col("id").as("id_a"), col("nfp").as("na")), "id_a")
      .join(sized.select(col("id").as("id_b"), col("nfp").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"), col("shared"),
        round(col("shared").cast(DoubleType) /
          least(col("na"), col("nb")).cast(DoubleType), 6).as("overlap"))
  }

  /** Exact embedding near-dup pairs: every id_a < id_b pair scored by
    * cosine. Quadratic — this is the oracle baseline and the right tool
    * only for small/blocked inputs; [[embeddingCosinePairs]] is the scale
    * path (LSH buckets bound the candidate set). */
  def embeddingCosineExact(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    // spread: the n²/2 cosine expansion rides the streamed scan side —
    // profiled as ONE 2.3 s task on the single-row-group fixture
    val v = graft.Tables.spread(
      df.select(col(idCol).as("id"), col(vecCol).as("v")))
    v.as("x").join(v.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        round(Vectors.cosine(col("x.v"), col("y.v")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Modulus (2⁶¹−1, prime) and bases of the multiplicative hash family
    * behind [[lshPlaneCoef]] — the same Karp-Rabin field the rolling
    * fingerprints use, so any engine with 128-bit integers can recompute
    * the planes from two tables of mod-powers. */
  val LshM: BigInt = BigInt("2305843009213693951")
  val LshB1: Long = 1000003L
  val LshB2: Long = 1000033L

  /** Integer hyperplane coefficient for (plane j, dimension i):
    * `((B1^(j+1) · B2^(i+1) mod 2⁶¹−1) mod 2001) − 1000`.
    *
    * Multiplicative (Lehmer-generator) derivation, NOT an affine map of
    * the flat index: an affine LCG like `(a·(j·dim+i)+b) mod 2001` makes
    * every plane an element-wise cyclic shift of one sawtooth (and
    * identical planes whenever `dim ≡ 0 (mod 667)`), which collapses the
    * multi-plane bucketing. Here moving one dimension multiplies by B2
    * and moving one plane multiplies by B1 in the 2⁶¹−1 field before the
    * small-range reduction, so planes carry no element-wise linear
    * relation (measured max |cos| between plane directions ≈ 0.27 at
    * dim=64 — the random-vector baseline — vs 0.66 for the affine map). */
  def lshPlaneCoef(j: Int, i: Int): Long =
    (((BigInt(LshB1).modPow(j + 1, LshM) *
      BigInt(LshB2).modPow(i + 1, LshM)) mod LshM) mod BigInt(2001))
      .toLong - 1000L

  /** Embedding near-dup pairs: random-hyperplane LSH buckets → exact
    * cosine verification within buckets.
    *
    * Hyperplanes are *integer* vectors ([[lshPlaneCoef]]) and embeddings
    * quantize to `round(x·10⁶)` longs, so each plane's dot product is
    * exact 64-bit integer arithmetic: order-independent across partitions
    * and reproducible bit-for-bit by any engine (the SQL oracle recomputes
    * the buckets from the same mod-power tables, turning this from a
    * rows-only check into a full hash-match). */
  /** The integer random-hyperplane LSH bucket of a vector column: sign
    * bit per plane over the `round(x·10⁶)` quantization, planes from
    * [[lshPlaneCoef]]. Exact BIGINT arithmetic end to end, so any engine
    * with the two mod-power tables recomputes the same bucket (the d5 /
    * s13 oracle contract). */
  def lshBucket(vec: org.apache.spark.sql.Column, dim: Int,
      nPlanes: Int): org.apache.spark.sql.Column = {
    val planes: Array[Seq[Long]] = Array.tabulate(nPlanes)(j =>
      (0 until dim).map(i => lshPlaneCoef(j, i)))
    val quantized = transform(vec,
      x => round(x.cast(DoubleType) * lit(1e6)).cast(LongType))
    (0 until nPlanes).map { j =>
      val dot = aggregate(
        zip_with(quantized, typedLit(planes(j)), (x, c) => x * c),
        lit(0L), (a, y) => a + y)
      when(dot >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  def embeddingCosinePairs(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double = 0.95, nPlanes: Int = 8): DataFrame = {
    val bucketed = graft.Tables.spread(
        df.select(col(idCol).as("id"), col(vecCol).as("v")))
      .withColumn("bucket", lshBucket(col("v"), dim, nPlanes))
    val cos = Vectors.cosine(col("x.v"), col("y.v"))
    bucketed.as("x")
      .join(bucketed.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        round(cos, 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
