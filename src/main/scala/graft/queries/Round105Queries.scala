package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.Tables

/** Hundred-fifth batch — two per-key sequential-recurrence operators,
  * each run inside one codegen'd expression over a per-key sorted
  * array (the WisDp shape — keys embarrassingly parallel, no UDF
  * boxing, no driver loop):
  *
  *  - t58: Huffman coding economics per source — build the optimal
  *    prefix code over each source's character frequencies and report
  *    total/average code length against the Shannon entropy lower
  *    bound (coding efficiency = how compressible each source's
  *    character stream is — a corpus-quality signal: templated or
  *    low-diversity sources code tighter). Spark runs the two-queue
  *    O(k) greedy merge (HuffmanCostExpr); the oracle replays it as a
  *    recursive CTE carrying the sorted weight list, merging the two
  *    smallest per step. Total cost is tie-invariant (every Huffman
  *    tree is minimum-redundancy), so the two tiebreak orders must
  *    agree exactly.
  *  - t59: isotonic calibration curve per source — weighted isotonic
  *    regression (PAVA) of P(lang = 'en') on document-length bins, the
  *    standard monotone probability-calibration operator for
  *    classifier scores. Spark runs the O(m) pool-adjacent-violators
  *    stack (PavaFitExpr, integer cross-multiplied pool comparisons);
  *    the oracle computes the SAME fit through the minimax identity
  *    `fit_i = max_{j<=i} min_{k>=i} mean(j..k)` over integer prefix
  *    sums — a genuinely different algorithm, one hash. Pool means are
  *    exact integer-ratio doubles on both sides.
  *
  * Scale: both are group-to-array-then-one-expression plans — one
  * shuffle keyed by (source[, symbol/bin]), then per-key arrays of
  * bounded size (alphabet k, bin count m) processed inside codegen;
  * at 100 TB the per-key state stays alphabet-/bin-sized while keys
  * fan out across executors.
  *
  * Reference scope: extension beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round105Queries extends QueryModule {

  // ── t58: Huffman coding economics per source ──────────────────────────

  def t58_huffman_economics(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.HuffmanCostExpr
    val freq = Tables.load(s, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(col("source"), explode(split(col("text"), "")).as("x"))
      .groupBy(col("source"), col("x")).agg(count(lit(1)).as("c"))
    val per = freq.groupBy(col("source")).agg(
      count(lit(1)).as("k_symbols"),
      sum(col("c")).as("n_chars"),
      // entropy terms follow the t12 discipline: per-term round(·,12) →
      // DECIMAL(28,12) sum (order-independent) → final round(·,6)
      sum(round(col("c") * log2(col("c")), 12).cast(DecimalType(28, 12)))
        .cast(DoubleType).as("sterm"),
      HuffmanCostExpr.huffmanCost(array_sort(collect_list(col("c"))))
        .as("huffman_bits"))
    per.select(col("source"), col("k_symbols"), col("n_chars"),
        col("huffman_bits"),
        round(col("huffman_bits").cast(DoubleType) /
          col("n_chars").cast(DoubleType), 6).as("avg_code_len"),
        round(log2(col("n_chars").cast(DoubleType)) -
          col("sterm") / col("n_chars").cast(DoubleType), 6)
          .as("entropy_bits"))
      .select(col("source"), col("k_symbols"), col("n_chars"),
        col("huffman_bits"), col("avg_code_len"), col("entropy_bits"),
        round(col("entropy_bits") * col("n_chars").cast(DoubleType) /
          col("huffman_bits").cast(DoubleType), 6).as("efficiency"))
      .orderBy(col("source"))
  }

  // ── t59: isotonic calibration (PAVA) per source ───────────────────────

  def t59_isotonic_calibration(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PavaFitExpr
    val bins = Tables.load(s, dir, "documents")
      .select(col("source"), expr("least(n_chars div 50, 10L)").as("bin"),
        (col("lang") === "en").cast("long").as("y"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("w"), sum(col("y")).as("wy"))
    bins.groupBy(col("source"))
      .agg(array_sort(collect_list(struct(col("bin"), col("w"),
        col("wy")))).as("arr"))
      .select(col("source"), col("arr"),
        PavaFitExpr.pavaFit(col("arr")).as("fits"))
      .select(col("source"), explode(arrays_zip(col("arr"),
        col("fits"))).as("z"))
      .select(col("source"), col("z.arr.bin").as("bin"),
        col("z.arr.w").as("n_docs"), col("z.arr.wy").as("n_pos"),
        round(col("z.arr.wy").cast(DoubleType) /
          col("z.arr.w").cast(DoubleType), 6).as("rate_raw"),
        round(col("z.fits"), 6).as("rate_iso"))
      .orderBy(col("source"), col("bin"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t58_huffman_economics"   -> (t58_huffman_economics _),
    "t59_isotonic_calibration" -> (t59_isotonic_calibration _))

  val oracles: Map[String, String] = Map(
    "t58_huffman_economics" ->
      """WITH RECURSIVE d AS (
        |  SELECT source, text, length(text) AS n FROM documents
        |  WHERE length(text) > 0),
        |ch AS (
        |  SELECT source, unnest(list_transform(range(1, n + 1),
        |    i -> substr(text, CAST(i AS INT), 1))) AS x
        |  FROM d),
        |freq AS (SELECT source, x, COUNT(*) AS c FROM ch GROUP BY 1, 2),
        |base AS (
        |  SELECT source, list_sort(list(CAST(c AS BIGINT))) AS ws,
        |    CAST(0 AS BIGINT) AS acc
        |  FROM freq GROUP BY source),
        |merge AS (
        |  SELECT source, ws, acc FROM base
        |  UNION ALL
        |  SELECT source,
        |    list_sort(list_append(ws[3:], ws[1] + ws[2])),
        |    acc + ws[1] + ws[2]
        |  FROM merge WHERE len(ws) >= 2),
        |cost AS (
        |  SELECT source, acc AS huffman_bits FROM merge WHERE len(ws) = 1),
        |ent AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS k_symbols,
        |    CAST(SUM(c) AS BIGINT) AS n_chars,
        |    ROUND(log2(CAST(SUM(c) AS DOUBLE)) -
        |      CAST(SUM(CAST(ROUND(c * log2(CAST(c AS DOUBLE)), 12)
        |           AS DECIMAL(28,12))) AS DOUBLE) /
        |      CAST(SUM(c) AS DOUBLE), 6) AS entropy_bits
        |  FROM freq GROUP BY source)
        |SELECT e.source, e.k_symbols, e.n_chars, c.huffman_bits,
        |  ROUND(CAST(c.huffman_bits AS DOUBLE) /
        |    CAST(e.n_chars AS DOUBLE), 6) AS avg_code_len,
        |  e.entropy_bits,
        |  ROUND(e.entropy_bits * CAST(e.n_chars AS DOUBLE) /
        |    CAST(c.huffman_bits AS DOUBLE), 6) AS efficiency
        |FROM ent e JOIN cost c USING (source)
        |ORDER BY e.source""".stripMargin,
    "t59_isotonic_calibration" ->
      """WITH b AS (
        |  SELECT source, LEAST(n_chars // 50, 10) AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS w,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS wy
        |  FROM documents GROUP BY 1, 2),
        |idx AS (
        |  SELECT source, bin, w, wy,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY bin) AS i,
        |    CAST(SUM(w) OVER (PARTITION BY source ORDER BY bin)
        |      AS BIGINT) AS cw,
        |    CAST(SUM(wy) OVER (PARTITION BY source ORDER BY bin)
        |      AS BIGINT) AS cwy
        |  FROM b),
        |mu AS (
        |  SELECT j.source, j.i AS j, k.i AS k,
        |    CAST(k.cwy - j.cwy + j.wy AS DOUBLE) /
        |      CAST(k.cw - j.cw + j.w AS DOUBLE) AS mu
        |  FROM idx j JOIN idx k ON k.source = j.source AND k.i >= j.i),
        |inner_min AS (
        |  SELECT ix.source, ix.i AS i, mm.j AS j, MIN(mm.mu) AS mn
        |  FROM idx ix JOIN mu mm
        |    ON mm.source = ix.source AND mm.j <= ix.i AND mm.k >= ix.i
        |  GROUP BY 1, 2, 3),
        |fit AS (SELECT source, i, MAX(mn) AS f FROM inner_min GROUP BY 1, 2)
        |SELECT x.source, x.bin, x.w AS n_docs, x.wy AS n_pos,
        |  ROUND(CAST(x.wy AS DOUBLE) / CAST(x.w AS DOUBLE), 6) AS rate_raw,
        |  ROUND(f.f, 6) AS rate_iso
        |FROM idx x JOIN fit f ON f.source = x.source AND f.i = x.i
        |ORDER BY x.source, x.bin""".stripMargin)
}
