package graft.functions

import graft.SparkSpec

class DialectSpec extends SparkSpec {

  test("strptime pattern translation") {
    assert(Dialect.strptimeToJava("%m/%d/%Y") == "MM/dd/yyyy")
    assert(Dialect.strptimeToJava("%Y-%m-%d") == "yyyy-MM-dd")
    assert(Dialect.strptimeToJava("%Y-%m-%d %H:%M:%S") == "yyyy-MM-dd HH:mm:ss")
    assert(Dialect.strptimeToJava("%d.%m.%y") == "dd.MM.yy")
    // literal letters must be quoted so they aren't pattern fields
    assert(Dialect.strptimeToJava("%YT%m") == "yyyy'T'MM")
    intercept[IllegalArgumentException](Dialect.strptimeToJava("%Q"))
  }

  test("tryStrptime: parse ok, null on failure, fallback chain") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq("01/15/1997", "1997-01-15", "18/11/2011", "garbage")
      .toDF("ds")
      .select(
        coalesce(
          Dialect.tryStrptime(col("ds"), "%m/%d/%Y"),
          Dialect.tryStrptime(col("ds"), "%Y-%m-%d")).cast("date").as("d"))
    val got = df.collect().map(r => Option(r.getDate(0)).map(_.toString))
    // 18/11/2011 nulls out under both formats (month 18 invalid) — the
    // declared fallback-chain semantics, FIXTURES.md §A1 trap.
    assert(got.toSeq == Seq(
      Some("1997-01-15"), Some("1997-01-15"), None, None))
  }

  test("SQL-registered try_strptime matches") {
    Dialect.registerAll(spark)
    val got = spark.sql(
      """SELECT CAST(COALESCE(try_strptime('05/02/2010', '%m/%d/%Y'),
        |                     try_strptime('05/02/2010', '%Y-%m-%d')) AS DATE) AS d
        |""".stripMargin).collect()(0).getDate(0).toString
    assert(got == "2010-05-02") // May 2 — month-first, the declared format
  }

  test("SQL try_strptime equals Dialect.tryStrptime") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    Dialect.registerAll(spark)
    val cases = Seq(
      "05/02/2010" -> "%m/%d/%Y",
      "02/30/2010" -> "%m/%d/%Y", // no Feb 30: NULL, never clamped to 28th
      "2010" -> "%Y",             // DuckDB: 2010-01-01
      "2010-05-02 13:45:10" -> "%Y-%m-%d %H:%M:%S",
      "18/11/2011" -> "%m/%d/%Y",
      "garbage" -> "%Y-%m-%d")
    cases.foreach { case (s, f) =>
      val sqlTs = spark.sql(s"SELECT try_strptime('$s', '$f')").collect()(0).get(0)
      val apiTs = Seq(s).toDF("s").select(Dialect.tryStrptime(col("s"), f))
        .collect()(0).get(0)
      assert(sqlTs == apiTs, s"try_strptime('$s', '$f')")
    }
    def sqlTs(s: String, f: String) = spark.sql(
      s"SELECT CAST(try_strptime('$s', '$f') AS STRING)").collect()(0).getString(0)
    assert(sqlTs("02/30/2010", "%m/%d/%Y") == null)
    assert(sqlTs("2010", "%Y") == "2010-01-01 00:00:00")
  }

  test("SQL try_strptime parses in the session time zone, not the JVM's") {
    Dialect.registerAll(spark)
    val jvmZone = java.util.TimeZone.getDefault
    try {
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("Asia/Tokyo"))
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
      val got = spark.sql(
        "SELECT CAST(CAST(try_strptime('05/02/2010', '%m/%d/%Y') AS DATE) AS STRING)")
        .collect()(0).getString(0)
      assert(got == "2010-05-02")
    } finally java.util.TimeZone.setDefault(jvmZone)
  }

  test("SQL try_strptime needs a literal format") {
    Dialect.registerAll(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT try_strptime(d, f) FROM VALUES ('2010', '%Y') AS t(d, f)")
    }
    assert(e.getMessage.contains("try_strptime fmt must be a string literal"),
      e.getMessage)
  }

  test("GraftExtensions injects working native-function builders") {
    // `spark.sql.extensions` is a static conf read when the SparkContext's
    // first session is built — unreachable from this shared-JVM suite — so
    // drive the same wiring directly: apply the extensions class to an
    // Extensions object and register into a fresh session's registry
    // (exactly what session construction does with the config set).
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val s2 = spark.newSession()
    org.apache.spark.sql.graft.ColumnBridge.applyInjectedFunctions(
      ext, s2.sessionState.functionRegistry)
    val r = s2.sql(
      "SELECT rolling_min_hash('hello world', 4) AS h, " +
        "simhash64(array('a','b')) AS sh, " +
        "CAST(CAST(try_strptime('05/02/2010', '%m/%d/%Y') AS DATE) AS STRING) AS d")
      .collect()(0)
    assert(r.getLong(0) == RollingMinHash.compute("hello world", 4))
    assert(r.getLong(1) != 0L)
    assert(r.getString(2) == "2010-05-02")
    // and the plain session (no registration) must NOT see them
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.newSession().sql("SELECT rolling_min_hash('x', 4)").collect()
    }
  }

  test("SQL media-codec surface matches the column API") {
    Dialect.registerAll(spark)
    val r = spark.sql(
      """SELECT
        |  image_stats(encode_image_from_text('graft', 'pgm', 8, 8)).sum_c0
        |    AS img_sum,
        |  size(decode_pixels(encode_image_from_text('graft', 'ppm', 4, 4)))
        |    AS n_px,
        |  audio_stats(encode_wav_from_text('graft', 16000, 32)).n_samples
        |    AS n_samp,
        |  size(decode_audio_samples(encode_wav_from_text('graft', 16000, 32)))
        |    AS n_pcm,
        |  size(audio_frame_energies(encode_wav_from_text('graft', 16000, 32),
        |    8)) AS n_frames,
        |  video_stats(encode_y4m_from_text('graft', 8, 8, 4, false)).n_frames
        |    AS n_vframes,
        |  size(y4m_frame_ysums(encode_y4m_from_text('graft', 8, 8, 4, true)))
        |    AS n_ysums,
        |  size(y4m_frame_ydeltas(encode_y4m_from_text('graft', 8, 8, 4, true)))
        |    AS n_deltas,
        |  size(minhash_sig_portable(array('a b c'), 16)) AS n_sig,
        |  size(ahash_bands(encode_image_from_text('graft', 'pgm', 8, 8)))
        |    AS n_bands
        |""".stripMargin).collect()(0)
    // closed form: Σ ord('graft'[i mod 5]) % 256 over 64 samples —
    // "graft" codepoints 103,114,97,102,116 = 532 per full cycle
    val cps = "graft".map(_.toInt % 256)
    val imgSum = (0 until 64).map(i => cps(i % 5).toLong).sum
    assert(r.getAs[Long]("img_sum") === imgSum)
    assert(r.getAs[Int]("n_px") === 48) // 4x4x3 channels
    assert(r.getAs[Long]("n_samp") === 32L)
    assert(r.getAs[Int]("n_pcm") === 32)
    assert(r.getAs[Int]("n_frames") === 4)
    assert(r.getAs[Int]("n_vframes") === 4)
    assert(r.getAs[Int]("n_ysums") === 4)
    assert(r.getAs[Int]("n_deltas") === 3)
    assert(r.getAs[Int]("n_sig") === 16)
    assert(r.getAs[Int]("n_bands") > 0)
  }
}
