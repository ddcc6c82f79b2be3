package graft

import scala.util.Try
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.AnalysisException

/** `Tables.load` resolves a table's schema from its footer on the driver:
  * the same schema Spark's own inference gives, under either
  * `nanosAsLong`, and no Spark job. */
class TablesSpec extends SparkSpec {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def withNanosAsLong[T](on: Boolean)(body: => T): T = {
    val before = spark.conf.get(NanosAsLong)
    spark.conf.set(NanosAsLong, on.toString)
    try body finally spark.conf.set(NanosAsLong, before)
  }

  /** A one-row `events` file whose `ts` is TIMESTAMP(NANOS), the older
    * testdata generation's type, which Spark itself never writes. */
  private lazy val nanosDir: String = {
    val dir = tmpDir("tables_nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = new Configuration()
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new Path(dir.resolve("events.parquet").toString), conf))
      .withType(schema).withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    dir.toString
  }

  Seq(true, false).foreach { on =>
    test(s"every table's schema equals Spark's inferred schema (nanosAsLong=$on)") {
      withNanosAsLong(on) {
        Tables.all.foreach { t =>
          assert(Tables.load(spark, sf, t).schema ==
            spark.read.parquet(s"$sf/$t.parquet").schema, t)
        }
      }
    }

    test(s"a TIMESTAMP(NANOS) column resolves as Spark resolves it (nanosAsLong=$on)") {
      withNanosAsLong(on) {
        val ours = Try(Tables.load(spark, nanosDir, "events").schema)
        val spark_ = Try(spark.read.parquet(s"$nanosDir/events.parquet").schema)
        assert(ours.isSuccess == spark_.isSuccess, s"$ours vs $spark_")
        if (on) {
          assert(ours.get == spark_.get)
          assert(ours.get("ts").dataType == org.apache.spark.sql.types.LongType)
          assert(Tables.load(spark, nanosDir, "events").collect()
            .map(_.getAs[Long]("ts")).toSeq == Seq(1700000000123456789L))
        } else {
          val msg = ours.failed.get.getMessage
          assert(msg.contains("TIMESTAMP(NANOS"), msg)
          assert(spark_.failed.get.getMessage.contains("TIMESTAMP(NANOS"))
        }
      }
    }
  }

  test("Tables.load and Tables.stream fire no Spark job") {
    Tables.load(spark, sf, "orders") // classes loaded outside the count
    val loads = metered(Tables.all.map(t => Tables.load(spark, sf, t).schema))
    assert(loads.jobs == 0)
    val streams = metered(Seq("events", "documents")
      .map(t => Tables.stream(spark, sf, t)))
    assert(streams.jobs == 0)
    assert(streams.value.forall(_.isStreaming))
    assert(streams.value.head.schema == Tables.load(spark, sf, "events").schema)
  }

  test("a missing table fails with Spark's path error naming the path") {
    val dir = tmpDir("tables_missing").toString
    val e = intercept[AnalysisException](Tables.load(spark, dir, "nope"))
    assert(e.getMessage.contains(s"$dir/nope.parquet"), e.getMessage)
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }

  test("a table that is a directory is still read") {
    val dir = tmpDir("tables_dir")
    spark.range(5).write.parquet(dir.resolve("t.parquet").toString)
    assert(Tables.load(spark, dir.toString, "t").count() == 5)
  }
}
