package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.IsNotNull
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** [[NativeCall]], the one node behind every static-call native function:
  * interpreted and generated code agree, nulls propagate, plans print the
  * function's name, and the optimizer still sees a null-intolerant node. */
class NativeCallSpec extends SparkSpec {

  /** Rows over `spark.range`, so projections run in whole-stage codegen
    * (a local relation would be folded on the driver, interpreted). */
  private def docs: DataFrame = spark.range(0, 40, 1, 2).select(
    col("id"),
    concat(lit("doc "), col("id"), lit(" shares a few words with doc "),
      col("id") * 3).as("text"))

  private def collected(df: DataFrame, codegen: Boolean): Seq[Seq[Any]] = {
    val confs = Map(
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"))
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k))
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case r: Row => r.toSeq
      case x => x
    })
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def sameBothWays(name: String, c: Column): Unit = {
    val df = docs.select(col("id"), c.as("v"))
    val generated = collected(df, codegen = true)
    assert(generated.size == 40 && generated.forall(_(1) != null), name)
    assert(collected(df, codegen = false) == generated, name)
  }

  private val png = ImageExprs.encodeImageFromText(col("text"), "png", 4, 4)

  test("interpreted and generated code return the same values") {
    sameBothWays("string → binary", Lz4SnappyExprs.lz4Utf8(col("text")))
    sameBothWays("binary → struct", ImageExprs.imageStats(png))
    sameBothWays("array → array",
      NativeExprs.minhashSig(NativeExprs.tokenShingles(col("text"), 2), 4))
    sameBothWays("two arguments and literal parameters",
      ExifExprs.encodeJpegWithExif(col("text"), col("id"), 2, 2, 75))
    sameBothWays("a literal column argument",
      NativeExprs.mulmodP(col("id") + 7L, lit(999999937L)))
  }

  test("a null input gives null, and so does a helper's null result") {
    val cases = Seq(
      Lz4SnappyExprs.lz4Utf8(when(col("id") % 2 === 0, col("text"))) ->
        ((id: Long) => id % 2 != 0),
      ImageExprs.tryImageStats(when(col("id") % 3 === 0, png)
        .otherwise(encode(col("text"), "UTF-8"))) -> ((id: Long) => id % 3 != 0),
      PngExprs.pngTextValue(png, "missing") -> ((_: Long) => true))
    for (((c, isNull), i) <- cases.zipWithIndex; codegen <- Seq(true, false)) {
      val rows = collected(docs.select(col("id"), c.as("v")), codegen)
      rows.foreach { r =>
        assert((r(1) == null) == isNull(r(0).asInstanceOf[Long]),
          s"case $i, codegen=$codegen: $r")
      }
    }
  }

  test("nullability follows the children unless the helper may return null") {
    val df = docs.select(
      ImageExprs.imageStats(png).as("stats"),
      ImageExprs.tryImageStats(png).as("try_stats"),
      Lz4SnappyExprs.lz4Utf8(when(col("id") > 0, col("text"))).as("maybe"))
    val nullable = df.schema.fields.map(f => f.name -> f.nullable).toMap
    assert(nullable == Map("stats" -> false, "try_stats" -> true, "maybe" -> true))
  }

  test("an unaliased call is named by its function and its column children") {
    val names = docs.select(NativeExprs.tokenShingles(col("text"), 3),
      RollingMinHash.rollingMinHash(col("text"), 4)).columns.toSeq
    assert(names == Seq("token_shingles(text)", "rolling_min_hash(text)"))
  }

  test("the executed plan names each call once, inside a codegen stage") {
    val df = docs.select(Lz4SnappyExprs.lz4Utf8(col("text")).as("p"),
      NativeExprs.tokenShingles(col("text"), 3).as("s"))
    df.collect()
    val plan = df.queryExecution.executedPlan
    val stages = plan.collect { case w: WholeStageCodegenExec => w }
    assert(stages.nonEmpty, plan.treeString)
    val text = plan.treeString
    for (name <- Seq("lz4_utf8(", "token_shingles(")) {
      assert(text.split(java.util.regex.Pattern.quote(name), -1).length == 2,
        s"$name in\n$text")
      assert(text.linesIterator.filter(_.contains(name))
        .forall(_.trim.matches("""^[+\-: ]*\*\(\d+\) .*""")), text)
    }
    for (leak <- Seq("NativeCall", "staticinvoke", "lz4Utf8", "BinaryType"))
      assert(!text.contains(leak), text)
  }

  test("a call over literal arguments folds to a literal") {
    val df = spark.range(1).select(
      NativeExprs.mulmodP(lit(3L), lit(5L)).as("m"),
      NativeExprs.tokenShingles(lit("a b c"), 2).as("s"))
    val projected = df.queryExecution.optimizedPlan.expressions
    assert(projected.forall(_.collectFirst { case c: NativeCall => c }.isEmpty),
      df.queryExecution.optimizedPlan.treeString)
    assert(df.collect().head == Row(15L, Seq("a b", "b c")))
  }

  test("a join on a native call infers isnotnull over its argument") {
    val dir = tmpDir("nativecall_join")
    docs.select(col("id"), when(col("id") % 5 =!= 0, col("text")).as("text"))
      .write.parquet(dir.resolve("a").toString)
    def sig(text: Column) =
      NativeExprs.simhash64(NativeExprs.tokenShingles(text, 1))
    docs.select(sig(col("text")).as("h")).write.parquet(dir.resolve("b").toString)
    val a = spark.read.parquet(dir.resolve("a").toString)
    val b = spark.read.parquet(dir.resolve("b").toString)
    val joined = a.join(b, sig(a("text")) === b("h"))
    val inferred = joined.queryExecution.optimizedPlan.collect {
      case f: Filter => f.condition.collect {
        case IsNotNull(e) => e.references.map(_.name)
      }.flatten
    }.flatten.toSet
    assert(inferred.contains("text"), joined.queryExecution.optimizedPlan.treeString)
    // every non-null text matches at least its own signature
    assert(joined.count() >= 32)
  }
}
