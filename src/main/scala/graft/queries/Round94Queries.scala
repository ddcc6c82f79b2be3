package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.DriverPath
import graft.functions.NativeExprs

/** Ninety-fourth batch — privacy engineering, corpus keyness, and dense
  * subgraph mining:
  *
  *  - p48: crypto-shredding (GDPR-style erasure) — balances encrypted
  *    with a per-user keystream (portable mod-2^61−1 hash, XOR), keys
  *    deleted for every 10th user; the read path proves exactly the
  *    keyed rows recover (integrity tags all verify, shredded rows are
  *    unreadable without their key ever being touched again). Deletion
  *    by key destruction is how immutable data lakes implement erasure.
  *  - t52: Dunning log-likelihood keyness (G², Dunning 1993) — src0 vs
  *    the rest of the corpus, per-term signed keyness with the
  *    zero-count limits handled (x·ln x → 0), integer counts
  *    everywhere, one rounded double per term.
  *  - q136: k-truss peeling (k = 4) on the co-purchase graph — five
  *    unrolled support-peel rounds (edge survives while it closes ≥ 2
  *    triangles with surviving edges); converges to the 124-edge core
  *    at sf0.01 with the fixed point visible in the per-round census.
  *    The oracle unrolls the same peel chain with MATERIALIZED CTEs.
  *
  * Scale: p48 is one equi-join (key table ⋈ ciphertext) — the shred is
  * O(deleted keys), not O(data); t52 reduces to a vocab-sized count
  * table; q136's per-round support join is edges × degree with
  * map-side combine, the standard distributed truss-decomposition
  * round (checkpointed per round so lineage stays flat).
  *
  * Reference scope: beyond-reference LLM-pipeline surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round94Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ── p48: crypto-shredding with integrity tags ─────────────────────────

  def p48_crypto_shred(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val enc = cust.select(col("c_custkey").as("k"),
        expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)").as("balc"))
      .select(col("k"),
        col("balc").bitwiseXOR(NativeExprs.mulmodP(col("k") + 7L,
          lit(999999937L))).as("cipher"),
        (col("balc") % 1000003L).as("tag"))
    val keys = cust.filter(col("c_custkey") % 10 =!= 3)
      .select(col("c_custkey").as("kk"),
        NativeExprs.mulmodP(col("c_custkey") + 7L, lit(999999937L))
          .as("keyv"))
    enc.join(keys, col("k") === col("kk"), "left")
      .withColumn("plain",
        when(col("keyv").isNotNull, col("cipher").bitwiseXOR(col("keyv"))))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("keyv").isNotNull, 1L).otherwise(0L))
          .as("n_recoverable"),
        sum(when(col("keyv").isNull, 1L).otherwise(0L)).as("n_shredded"),
        sum(when(col("plain").isNotNull &&
            col("plain") % 1000003L === col("tag"), col("plain"))
          .otherwise(0L)).as("recovered_cents"),
        sum(when(col("plain").isNotNull &&
            col("plain") % 1000003L =!= col("tag"), 1L)
          .otherwise(0L)).as("integrity_failures"))
  }

  // ── t52: Dunning G² keyness, src0 vs rest ─────────────────────────────

  def t52_keyness_g2(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val tok = t(s, dir, "documents")
      .select(when(col("source") === "src0", "a").otherwise("b").as("corp"),
        explode(Text.tokens(col("text"))).as("w"))
    val cnt = tok.groupBy(col("w"))
      .agg(sum(when(col("corp") === "a", 1L).otherwise(0L)).as("a"),
        sum(when(col("corp") === "b", 1L).otherwise(0L)).as("b"))
    val tot = cnt.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"))
    cnt.crossJoin(broadcast(tot))
      .select(col("w").as("term"), col("a"), col("b"),
        round(lit(2.0) * (
          when(col("a") > 0, col("a") * log(
            col("a").cast("double") * (col("ta") + col("tb")) /
              ((col("a") + col("b")).cast("double") * col("ta"))))
            .otherwise(0.0) +
          when(col("b") > 0, col("b") * log(
            col("b").cast("double") * (col("ta") + col("tb")) /
              ((col("a") + col("b")).cast("double") * col("tb"))))
            .otherwise(0.0)), 6).as("g2"),
        when(col("a").cast("double") * col("tb") >
          col("b").cast("double") * col("ta"), "over").otherwise("under")
          .as("direction"))
      .orderBy(col("term"))
  }

  // ── q136: k-truss (k = 4) peeling census ──────────────────────────────

  /** Driver-side peeling below [[DriverPath.MaxEdges]] — far above the
    * co-purchase graph at any test SF (~12 k edges at sf0.1, linear
    * growth). Above it [[ktrussRounds]] runs the distributed wedge-join
    * loop (the shape a 100 TB corpus needs); below it the 5 peeling
    * rounds are pure array work instead of ~30 Spark jobs of
    * scale-independent scheduling. */
  def q136_ktruss(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e0 = Round6Queries.copurchaseEdges(s, dir).localCheckpoint(true)
    val counts = DriverPath.rows(e0.as[(Long, Long)]) match {
      case None => ktrussRounds(e0)
      case Some(e1) =>
        // the one corpus-scale pass already happened inside
        // copurchaseEdges; peel support<2 edges over adjacency sets
        var edges = e1
        def census(r: Long): (Long, Long, Long) =
          (r, edges.length.toLong,
            edges.iterator.flatMap(p => Iterator(p._1, p._2)).toSet.size.toLong)
        val acc = scala.collection.mutable.ArrayBuffer(census(0L))
        for (round <- 1 to 5) {
          val adj = scala.collection.mutable.Map[Long, Set[Long]]()
            .withDefaultValue(Set.empty)
          edges.foreach { case (u, v) =>
            adj(u) = adj(u) + v; adj(v) = adj(v) + u
          }
          edges = edges.filter { case (u, v) =>
            val (a, b) = if (adj(u).size <= adj(v).size) (adj(u), adj(v))
              else (adj(v), adj(u))
            a.count(b.contains) >= 2
          }
          acc += census(round.toLong)
        }
        acc.toSeq
    }
    counts.toDF("round", "n_edges", "n_nodes").orderBy(col("round"))
  }

  /** q136's distributed peel: support via the wedge equi-join, per round,
    * over (`u`, `v`) edges. One (round, n_edges, n_nodes) census row per
    * round, round 0 first. */
  private[queries] def ktrussRounds(e0: DataFrame): Seq[(Long, Long, Long)] = {
    var e = e0
    val acc = scala.collection.mutable.ArrayBuffer(
      (0L, e.count(), e.select(col("u").as("n"))
        .union(e.select(col("v"))).distinct().count()))
    for (round <- 1 to 5) {
      val und = e.select(col("u").as("n"), col("v").as("w"))
        .union(e.select(col("v").as("n"), col("u").as("w")))
      val support = e
        .join(und.as("n1"), col("n1.n") === col("u"))
        .join(und.as("n2"),
          col("n2.n") === col("v") && col("n2.w") === col("n1.w"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("sup"))
        .filter(col("sup") >= 2)
        .select(col("u"), col("v"))
      e = support.localCheckpoint(true)
      acc += ((round.toLong, e.count(), e.select(col("u").as("n"))
        .union(e.select(col("v"))).distinct().count()))
    }
    acc.toSeq
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p48_crypto_shred" -> (p48_crypto_shred _),
    "t52_keyness_g2"   -> (t52_keyness_g2 _),
    "q136_ktruss"      -> (q136_ktruss _))

  private val P = (1L << 61) - 1

  private def peelSql(prev: String, nxt: String): String =
    s"""$nxt AS MATERIALIZED (
       |  SELECT e.u, e.v FROM $prev e
       |  JOIN (SELECT u AS n, v AS w FROM $prev
       |        UNION SELECT v, u FROM $prev) n1 ON n1.n = e.u
       |  JOIN (SELECT u AS n, v AS w FROM $prev
       |        UNION SELECT v, u FROM $prev) n2
       |    ON n2.n = e.v AND n2.w = n1.w
       |  GROUP BY e.u, e.v HAVING COUNT(*) >= 2)""".stripMargin

  val oracles: Map[String, String] = Map(
    "p48_crypto_shred" ->
      s"""WITH enc AS (
        |  SELECT c_custkey AS k,
        |    xor(CAST(ROUND(c_acctbal * 100) AS BIGINT),
        |        CAST(CAST(c_custkey + 7 AS HUGEINT) * 999999937 % $P
        |          AS BIGINT)) AS cipher,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) % 1000003 AS tag
        |  FROM customer),
        |keys AS (
        |  SELECT c_custkey AS k,
        |    CAST(CAST(c_custkey + 7 AS HUGEINT) * 999999937 % $P
        |      AS BIGINT) AS keyv
        |  FROM customer WHERE c_custkey % 10 != 3),
        |dec AS (
        |  SELECT e.k, e.cipher, e.tag, ks.keyv,
        |    CASE WHEN ks.keyv IS NOT NULL THEN xor(e.cipher, ks.keyv) END
        |      AS plain
        |  FROM enc e LEFT JOIN keys ks ON e.k = ks.k)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
        |  CAST(SUM(CASE WHEN keyv IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_recoverable,
        |  CAST(SUM(CASE WHEN keyv IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_shredded,
        |  CAST(SUM(CASE WHEN plain IS NOT NULL AND plain % 1000003 = tag
        |    THEN plain ELSE 0 END) AS BIGINT) AS recovered_cents,
        |  CAST(SUM(CASE WHEN plain IS NOT NULL AND plain % 1000003 != tag
        |    THEN 1 ELSE 0 END) AS BIGINT) AS integrity_failures
        |FROM dec""".stripMargin,
    "t52_keyness_g2" ->
      raw"""WITH tok AS (
        |  SELECT CASE WHEN source = 'src0' THEN 'a' ELSE 'b' END AS corp,
        |    unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents),
        |cnt AS (
        |  SELECT w,
        |    CAST(SUM(CASE WHEN corp = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a,
        |    CAST(SUM(CASE WHEN corp = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS b
        |  FROM tok GROUP BY w),
        |tot AS (SELECT CAST(SUM(a) AS BIGINT) AS ta,
        |  CAST(SUM(b) AS BIGINT) AS tb FROM cnt)
        |SELECT c.w AS term, c.a, c.b,
        |  ROUND(2.0 * (
        |    (CASE WHEN c.a > 0 THEN c.a * ln(CAST(c.a AS DOUBLE)
        |      * (t.ta + t.tb) / (CAST(c.a + c.b AS DOUBLE) * t.ta))
        |      ELSE 0 END)
        |  + (CASE WHEN c.b > 0 THEN c.b * ln(CAST(c.b AS DOUBLE)
        |      * (t.ta + t.tb) / (CAST(c.a + c.b AS DOUBLE) * t.tb))
        |      ELSE 0 END)), 6) AS g2,
        |  CASE WHEN CAST(c.a AS DOUBLE) * t.tb > CAST(c.b AS DOUBLE) * t.ta
        |    THEN 'over' ELSE 'under' END AS direction
        |FROM cnt c CROSS JOIN tot t ORDER BY term""".stripMargin,
    "q136_ktruss" -> {
      val chain = (0 until 5)
        .map(i => peelSql(s"t$i", s"t${i + 1}")).mkString(",\n")
      val rounds = (0 to 5).map(r =>
        s"""SELECT CAST($r AS BIGINT) AS round,
           |  CAST(COUNT(*) AS BIGINT) AS n_edges,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
           |    (SELECT u AS n FROM t$r UNION SELECT v FROM t$r))
           |    AS n_nodes FROM t$r""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"""WITH pl AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem WHERE l_partkey % 10 = 0),
         |t0 AS MATERIALIZED (
         |  SELECT DISTINCT x.pk AS u, y.pk AS v
         |  FROM pl x JOIN pl y ON x.ok = y.ok AND x.pk < y.pk),
         |$chain
         |$rounds
         |ORDER BY round""".stripMargin
    })
}
