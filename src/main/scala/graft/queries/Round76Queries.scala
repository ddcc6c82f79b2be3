package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.ImageExprs
import SketchSql.textByte

/** Seventy-sixth batch — containment dedup, LATERAL, and the compressed
  * decode composed with the resize kernel:
  *
  *  - d38: shingle CONTAINMENT — |A∩B|/|A| in each direction, the
  *    asymmetric near-dup measure Jaccard misses: an excerpt quoted
  *    inside a larger document has tiny Jaccard but containment ≈ 1 on
  *    the smaller side. Exact pairs from the shared-shingle join; the
  *    Bayardo prefix-filter bound applies to the SMALLER set's size
  *    under containment (overlap ≥ 0.8·|A| forces a shared element in
  *    A's first ⌊0.2·|A|⌋+1 shingles), so the 100 TB path prunes
  *    candidates exactly like d2 — per-direction thresholds, all
  *    integer bp.
  *  - q116: LATERAL correlated subquery — per-region top-2 customers by
  *    account balance through `region, LATERAL (SELECT … WHERE
  *    n_regionkey = r.r_regionkey ORDER BY … LIMIT 2)`. The dialect
  *    construct itself is the point (Spark ≥ 3.2 plans it as a
  *    DomainJoin → rewritten correlated join); DuckDB runs the
  *    IDENTICAL text. Balances in exact cents.
  *  - m23: PNG-gray → decode → 2× average-pool → stats, composing the
  *    compressed codec (CRC, DEFLATE, unfiltering) with the pooling
  *    kernel in ONE codegen'd expression chain
  *    (`ImageDownsampleStats(EncodeImageFromText(png_gray))`) — m7's
  *    shape with the stub-free compressed container underneath. The
  *    oracle replays the pooled floor-means from the codepoint closed
  *    form; gray means sum_all IS the only channel mass.
  *
  * Reference scope: beyond-reference LLM-pipeline + analytics surface
  * (the reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round76Queries extends QueryModule {

  // ── d38: directional containment pairs (prefix-filtered) ──────────────

  /** Round-12 sf1 finding, fixed: the original shared-shingle self-join
    * generated Σ df² candidate pairs — on the tiny-vocabulary corpus
    * that is effectively QUADRATIC in document count (2.8 s at sf0.1 →
    * ~8 min at sf1, the run's worst scaling outlier). The Bayardo
    * prefix filter the scaladoc always named is now IMPLEMENTED, and
    * it is lossless for this predicate: the gate keeps pairs with
    * max(cont_ab, cont_ba) ≥ 0.8, i.e. |A∩B| ≥ ceil(0.8·min(|A|,|B|)),
    * so the smaller doc has at most min − ceil(0.8·min) shingles
    * OUTSIDE the intersection — at least one of its
    * (min − ceil(0.8·min) + 1) globally-rarest shingles is shared.
    * Candidates therefore join the smaller side's rarity-ordered
    * PREFIX against the other side's full posting rows; the exact
    * intersection then runs only over candidate pairs
    * (Round76Spec pins output equality against the unpruned join). */
  def d38_containment(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    import org.apache.spark.sql.expressions.Window
    val sh = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(Text.shingles(col("text"), 3))).as("shingle"))
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    // per-doc rarity rank under the global (df, shingle) order; prefix
    // size = n − ceil(0.8·n) + 1 (integer ceil via (4n+4) div 5)
    val ranked = sh.join(dfreq, "shingle")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    val prefix = ranked.filter(
      col("rk") <= col("n") - expr("(4 * n + 4) div 5") + 1)
    // one orientation suffices: for any qualifying unordered pair the
    // SMALLER doc's prefix row meets the larger doc's posting row
    // (ties match in either orientation; distinct() collapses them).
    // Round-13 positional filter (the PPJoin lemma, Xiao et al. 2008,
    // adapted to containment): for the FIRST shared shingle under the
    // global (df, shingle) order, BOTH docs' suffix-from-here must
    // still cover the required overlap — n − rk + 1 ≥ ceil(0.8·min) on
    // each side (the a-side inequality is exactly prefix membership;
    // the b-side one is new). Lossless for the same reason the prefix
    // bound is: all of the intersection lies at-or-after its first
    // element in both rankings. On a tiny-vocabulary corpus this is
    // the difference between Σ df·df_prefix and Σ df_prefix² candidate
    // rows — the r13 sf1 re-time measured the one-sided form at 242 s.
    // Round 14 (guide §2.5): both join inputs are low-MB after the
    // prefix filter, so AQE's byte-based coalescing ran this join — the
    // query's real CPU (Σ df_prefix² candidate evaluations) — as ONE
    // task (profiled: a 3.6 s straggler in a ~5 s query). Explicit
    // same-key REPARTITION_BY_NUM exchanges on both sides are exempt
    // from coalescing and pin the join at cluster parallelism; the
    // shuffled bytes are identical to the ENSURE_REQUIREMENTS exchanges
    // they replace.
    val par = s.sparkContext.defaultParallelism
    val candidates = prefix.as("a")
      .join(ranked.repartition(par, col("shingle")).as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") =!= col("b.doc_id") && col("a.n") <= col("b.n") &&
          col("b.rk") <=
            col("b.n") - expr("(4 * a.n + 4) div 5") + lit(1))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
      // Round 14 (guide §2.5): pair rows are 16 bytes, so AQE's
      // byte-based coalescing squashed the distinct + verification into
      // ONE task (profiled: a 3.4 s straggler in a 4.8 s query) — the
      // CPU-per-byte of the array_intersect verify is what the byte
      // heuristic can't see. Hash-repartitioning by the pair key BEFORE
      // the distinct satisfies the distinct's required distribution with
      // a REPARTITION_BY_NUM exchange (exempt from coalescing), so the
      // dedup and the whole verify chain run at cluster parallelism in
      // one stage with no extra shuffle.
      .repartition(par, col("id_a"), col("id_b"))
      .distinct()
    // exact intersection, candidates only. Round-13 re-design: the
    // candidate⋈postings⋈postings chain pushed every candidate pair
    // back through the 2.6M-row posting table (~1.1B join rows at sf1
    // for 21M candidates). The per-doc shingle SET is tiny (~50
    // entries), so verification is two equi-joins against the compact
    // doc-array table plus a codegen'd array_intersect per pair — work
    // proportional to candidates·|doc|, not candidates·df. The array
    // table is ~50k rows (megabytes) and broadcasts at this scale; at
    // corpus sizes where it no longer fits an executor, dropping the
    // hint degrades gracefully to a shuffle join on doc_id — still
    // never the posting-explode shape.
    val docArr = sh.groupBy(col("doc_id"))
      .agg(collect_list(col("shingle")).as("arr"),
        count(lit(1)).as("n"))
    val inter = candidates
      .join(broadcast(docArr.select(col("doc_id").as("id_a"),
        col("arr").as("arr_a"), col("n").as("na"))), Seq("id_a"))
      .join(broadcast(docArr.select(col("doc_id").as("id_b"),
        col("arr").as("arr_b"), col("n").as("nb"))), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("na"), col("nb"),
        size(array_intersect(col("arr_a"), col("arr_b")))
          .cast("bigint").as("inter_sh"))
    inter
      .select(col("id_a"), col("id_b"), col("inter_sh"), col("na"), col("nb"),
        expr("(inter_sh * 10000) div na").as("cont_ab_bp"),
        expr("(inter_sh * 10000) div nb").as("cont_ba_bp"),
        (col("inter_sh") === col("na") || col("inter_sh") === col("nb"))
          .as("is_full"))
      .filter(greatest(col("cont_ab_bp"), col("cont_ba_bp")) >= 8000)
      .orderBy(col("id_a"), col("id_b"))
  }

  // ── q116: LATERAL top-n per group ─────────────────────────────────────

  private val lateralSql =
    """SELECT r.r_name AS region, s.custkey, s.acctbal_cents
      |FROM region r, LATERAL (
      |  SELECT c.c_custkey AS custkey,
      |    CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS acctbal_cents
      |  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
      |  WHERE n.n_regionkey = r.r_regionkey
      |  ORDER BY acctbal_cents DESC, custkey LIMIT 2) s
      |ORDER BY region, acctbal_cents DESC, custkey""".stripMargin

  def q116_lateral_topn(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "region").createOrReplaceTempView("region")
    Tables.load(s, dir, "nation").createOrReplaceTempView("nation")
    Tables.load(s, dir, "customer").createOrReplaceTempView("customer")
    s.sql(lateralSql)
  }

  // ── m23: PNG-gray decode + 2× pool, one expression chain ──────────────

  def m23_png_pooled_gray(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      .select(col("doc_id"),
        ImageExprs.imageDownsampleStats(
          ImageExprs.encodeImageFromText(col("text"), "png_gray", 8, 8))
          .as("st"))
      .select(col("doc_id"),
        col("st.width").as("width"), col("st.height").as("height"),
        col("st.n_vals").as("n_vals"), col("st.sum_all").as("sum_all"),
        col("st.row0_sum").as("row0_sum"),
        col("st.px_min").as("px_min"), col("st.px_max").as("px_max"))
      .orderBy(col("doc_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d38_containment"     -> (d38_containment _),
    "q116_lateral_topn"   -> (q116_lateral_topn _),
    "m23_png_pooled_gray" -> (m23_png_pooled_gray _))

  /** Pooled gray sample j (0..15): floor-mean of the 2×2 block at
    * (j mod 4, j div 4) of the 8×8 source. */
  private def pooled(j: String): String = {
    def p(y: String, x: String) = textByte(s"8*($y) + ($x)")
    val (bx, by) = (s"($j)%4", s"($j)//4")
    s"""(${p(s"2*($by)", s"2*($bx)")} +
       | ${p(s"2*($by)", s"2*($bx)+1")} +
       | ${p(s"2*($by)+1", s"2*($bx)")} +
       | ${p(s"2*($by)+1", s"2*($bx)+1")}) // 4""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "d38_containment" ->
      raw"""WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w,
        |    generate_subscripts(string_split_regex(trim(text), '\s+'), 1)
        |      AS pos
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, w || ' ' || w2 || ' ' || w3 AS shingle
        |  FROM (
        |    SELECT doc_id, w,
        |      lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
        |      lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
        |    FROM tok) WHERE w2 IS NOT NULL AND w3 IS NOT NULL),
        |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(COUNT(*) AS BIGINT) AS inter_sh
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT id_a, id_b, inter_sh, sa.n AS na, sb.n AS nb,
        |    (inter_sh * 10000) // sa.n AS cont_ab_bp,
        |    (inter_sh * 10000) // sb.n AS cont_ba_bp
        |  FROM inter JOIN sizes sa ON sa.doc_id = id_a
        |    JOIN sizes sb ON sb.doc_id = id_b)
        |SELECT id_a, id_b, inter_sh, na, nb, cont_ab_bp, cont_ba_bp,
        |  (inter_sh = na OR inter_sh = nb) AS is_full
        |FROM sc WHERE GREATEST(cont_ab_bp, cont_ba_bp) >= 8000
        |ORDER BY id_a, id_b""".stripMargin,
    "q116_lateral_topn" -> lateralSql,
    "m23_png_pooled_gray" ->
      s"""WITH pl AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 16), j -> ${pooled("j")}) AS p
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(4 AS INT) AS width, CAST(4 AS INT) AS height,
        |  CAST(16 AS BIGINT) AS n_vals,
        |  CAST(list_sum(p) AS BIGINT) AS sum_all,
        |  CAST(list_sum(list_transform(range(1, 5),
        |    t -> p[CAST(t AS INT)])) AS BIGINT) AS row0_sum,
        |  CAST(list_min(p) AS INT) AS px_min,
        |  CAST(list_max(p) AS INT) AS px_max
        |FROM pl ORDER BY doc_id""".stripMargin)
}
