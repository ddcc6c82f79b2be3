package graft.operators

import java.nio.file.Files
import scala.util.Using
import graft.SparkSpec
import org.apache.spark.sql.types.{IntegerType, StructType}

class QualitySpec extends SparkSpec {
  import spark.implicits._

  private val frozen = new Clock {
    // 2024-01-02T00:00:00Z
    val nowEpochMillis: Long = 1704153600000L
  }

  test("dq: row-count gate") {
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    assert(Quality.dqCheck(df, minRows = 2).status)
    assert(!Quality.dqCheck(df, minRows = 3).status)
  }

  test("dq: nonnull gate with per-column counts") {
    val df = Seq((Some(1), Some("a")), (None, Some("b")), (Some(3), None))
      .toDF("id", "v")
    val r = Quality.dqCheck(df, nonnullCols = Seq("id", "v"))
    assert(!r.nonnullOk && !r.status)
    assert(r.nullCounts == Map("id" -> 1L, "v" -> 1L))
    assert(Quality.dqCheck(df.na.drop(), nonnullCols = Seq("id", "v")).status)
  }

  test("dq: freshness against injected clock") {
    val df = Seq("2024-01-01T23:30:00", "2024-01-01T20:00:00").toDF("ts")
    val fresh = Quality.dqCheck(df, freshnessMinutes = Some(60),
      timestampCol = Some("ts"), clock = frozen)
    assert(fresh.freshOk && fresh.lagMinutes.contains(30.0))
    val stale = Quality.dqCheck(df, freshnessMinutes = Some(10),
      timestampCol = Some("ts"), clock = frozen)
    assert(!stale.freshOk && !stale.status)
  }

  test("dq status invariant: status == (rows ok ∧ nonnull ∧ fresh)") {
    val df = Seq((1, "a")).toDF("id", "v")
    for {
      minRows <- Seq(1L, 5L)
      cols <- Seq(Nil, Seq("id"))
    } {
      val r = Quality.dqCheck(df, minRows, cols)
      assert(r.status == (r.rows >= minRows && r.nonnullOk && r.freshOk))
    }
  }

  test("verifyCsv: missing/empty file fails with error") {
    val r = Quality.verifyCsv(spark, "/no/such.csv")
    assert(!r.status && r.error.isDefined)
  }

  test("verifyCsv: rows + nonnull + mtime freshness fallback") {
    val p = tmpDir("vr").resolve("out.csv")
    Files.writeString(p, "id,v\n1,a\n2,b\n3,c\n")
    val ok = Quality.verifyCsv(spark, p.toString, minRows = 3,
      nonnullCols = Seq("id", "v"))
    assert(ok.status && ok.rows == 3 && ok.lagMinutes.exists(_ < 5))
    val tooFew = Quality.verifyCsv(spark, p.toString, minRows = 10)
    assert(!tooFew.status)
  }

  test("verifyCsv: timestamp-column freshness") {
    val p = tmpDir("vr2").resolve("ts.csv")
    Files.writeString(p, "id,updated\n1,2024-01-01T23:45:00\n2,2024-01-01T10:00:00\n")
    val r = Quality.verifyCsv(spark, p.toString,
      timestampCol = Some("updated"), maxLagMinutes = 30, clock = frozen)
    assert(r.status && r.lagMinutes.contains(15.0))
    val stale = Quality.verifyCsv(spark, p.toString,
      timestampCol = Some("updated"), maxLagMinutes = 10, clock = frozen)
    assert(!stale.status)
  }

  private val thirtyMinLater = new Clock {
    val nowEpochMillis: Long = frozen.nowEpochMillis + 30 * 60000L
  }

  /** Stamp every file under `root` with the `frozen` instant, so the
    * file-mtime freshness fallback reads exactly 30 minutes under
    * `thirtyMinLater`. */
  private def stampAll(root: java.nio.file.Path): Unit = {
    val t = java.nio.file.attribute.FileTime.fromMillis(frozen.nowEpochMillis)
    Using.resource(Files.walk(root))(_.filter(Files.isRegularFile(_))
      .forEach(f => Files.setLastModifiedTime(f, t)))
  }

  test("verifyCsv: empty file fails with missing or empty") {
    val p = tmpDir("vre").resolve("empty.csv")
    Files.writeString(p, "")
    val r = Quality.verifyCsv(spark, p.toString)
    assert(!r.status && r.error.exists(_.startsWith("missing or empty:")))
  }

  test("verifyCsv: mtime freshness through the injected clock") {
    val p = tmpDir("vrm").resolve("out.csv")
    Files.writeString(p, "id,v\n1,a\n2,b\n")
    stampAll(p)
    val ok = Quality.verifyCsv(spark, p.toString, maxLagMinutes = 60,
      clock = thirtyMinLater)
    assert(ok.status && ok.freshOk && ok.lagMinutes.contains(30.0))
    val stale = Quality.verifyCsv(spark, p.toString, maxLagMinutes = 10,
      clock = thirtyMinLater)
    assert(!stale.status && !stale.freshOk && stale.error.isEmpty)
  }

  test("verifyParquet: missing directory fails with missing:") {
    val r = Quality.verifyParquet(spark, "/no/such/parquet_dir",
      new StructType().add("id", IntegerType))
    assert(!r.status && r.rows == 0 && r.lagMinutes.isEmpty)
    assert(r.error.exists(_.startsWith("missing:")))
  }

  test("verifyParquet: rows + nonnull + newest part-file mtime freshness") {
    val d = tmpDir("vrp").resolve("out")
    val df = Seq[(Int, Option[String])]((1, Some("a")), (2, Some("b")), (3, None))
      .toDF("id", "v")
    df.coalesce(2).write.parquet(d.toString)
    val schema = df.schema
    stampAll(d)
    val ok = Quality.verifyParquet(spark, d.toString, schema, minRows = 3,
      nonnullCols = Seq("id"), maxLagMinutes = 60, clock = thirtyMinLater)
    assert(ok.status && ok.rows == 3 && ok.nonnullOk && ok.freshOk)
    assert(ok.lagMinutes.contains(30.0) && ok.error.isEmpty)
    val tooFew = Quality.verifyParquet(spark, d.toString, schema, minRows = 4,
      clock = thirtyMinLater)
    assert(!tooFew.status && tooFew.freshOk)
    val nulls = Quality.verifyParquet(spark, d.toString, schema,
      nonnullCols = Seq("v"), clock = thirtyMinLater)
    assert(!nulls.status && !nulls.nonnullOk)
    val stale = Quality.verifyParquet(spark, d.toString, schema,
      maxLagMinutes = 10, clock = thirtyMinLater)
    assert(!stale.status && !stale.freshOk && stale.lagMinutes.contains(30.0))
  }

  test("verifyParquet: timestamp-column freshness") {
    val d = tmpDir("vrpt").resolve("out")
    val df = Seq((1, "2024-01-01T23:45:00"), (2, "2024-01-01T10:00:00"))
      .toDF("id", "updated")
    df.write.parquet(d.toString)
    val schema = df.schema
    val r = Quality.verifyParquet(spark, d.toString, schema,
      timestampCol = Some("updated"), maxLagMinutes = 30, clock = frozen)
    assert(r.status && r.lagMinutes.contains(15.0))
    val stale = Quality.verifyParquet(spark, d.toString, schema,
      timestampCol = Some("updated"), maxLagMinutes = 10, clock = frozen)
    assert(!stale.status && !stale.freshOk)
  }
}
