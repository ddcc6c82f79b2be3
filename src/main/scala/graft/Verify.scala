package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = run(args)

  /** Test-visible body: `extraQueries` lets a spec inject a pathological
    * entry (e.g. a deliberate sleeper pinning the watchdog contract) and
    * `stopSession` lets it keep the shared test session alive. */
  private[graft] def run(args: Array[String],
      extraQueries: Map[String, (SparkSession, String) => DataFrame] = Map.empty,
      stopSession: Boolean = true): Unit = {
    require(args.length >= 2,
      "usage: graft.Verify <sfDir> <outDir> [queryNameRegex]")
    // optional 3rd arg: regex over query names (dev iteration — run one
    // family through the gate without paying for the whole suite)
    val Array(sfDir, outDir) = args.take(2)
    val nameFilter = args.lift(2).map(_.r)
    def selected(name: String): Boolean =
      nameFilter.forall(_.findFirstIn(name).isDefined)
    val timeoutSec = Watchdog.capSec("verify")
    val spark = Session.create()
    new java.io.File(outDir).mkdirs()
    // A query that throws (analysis or execution) or hangs must stay
    // VISIBLE in the graded artifact: write a one-row {err} parquet in its
    // place — the driver's DuckDB compare then reports a schema/hash
    // mismatch for that name instead of silently omitting it (the r6
    // failure mode, where 17 broken queries made the correctness file read
    // as 100% green) or timing out the whole dump (the r10 failure mode).
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Runs one query dump under Watchdog.run. Returns the error message,
    // or None on success.
    // Round-12 hardening (per advisor): the worker writes to a TEMP slot
    // and the MAIN thread renames it into place on success — a timed-out
    // worker stuck in uninterruptible I/O (or a UDF swallowing
    // InterruptedException) can outlive the 30 s grace, and under the old
    // scheme its late mode("overwrite") write could clobber/interleave
    // with the synthetic err parquet at the same path, making the graded
    // artifact disagree with errors.json. Now the zombie can only ever
    // touch the temp slot, never the graded one.
    def runOne(name: String,
        fn: (SparkSession, String) => DataFrame): Option[String] = {
      val tmpSlot = s"$outDir/.tmp-$name"
      val outcome = Watchdog.run(spark, s"verify-$name", timeoutSec) {
        // repartition(1), NOT coalesce(1): coalesce propagates the
        // single-partition constraint UP the plan, so the whole query
        // recomputes in one task — measured at sf1: t5's 6 s parallel
        // compute became a 311 s single-task dump and blew the
        // watchdog. The shuffle barrier keeps compute parallel; the
        // single output file (oracle_check contract) only pays the write.
        fn(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(tmpSlot)
      }
      if (outcome.isEmpty) {
        // success: promote temp → graded slot (main thread owns the slot)
        val src = Paths.get(tmpSlot)
        val dst = Paths.get(s"$outDir/$name")
        deleteRecursively(dst)
        Files.move(src, dst)
      }
      outcome
    }
    def deleteRecursively(p: java.nio.file.Path): Unit =
      if (Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      }
    // Resume mode (round-13 hardening): a multi-hour sf1 gate run that
    // dies at query 336 (the r13 run hit a JVM-level I/O failure there)
    // must not force re-running the 335 finished dumps — with
    // SPARK_GRAFT_VERIFY_RESUME=1 any name whose graded slot already
    // exists is skipped. Off by default: a normal gate run must always
    // re-execute everything.
    val resume = sys.env.get("SPARK_GRAFT_VERIFY_RESUME").contains("1")
    // Resume seeding (r13 advisor): errors.json is rewritten whole at the
    // end of every run, so a resumed run that skips already-dumped names
    // would silently DROP their recorded failures from the index. Seed
    // the map from the prior file; a name that actually re-runs this
    // time has its stale entry cleared before the run re-decides it.
    if (resume) {
      val ef = Paths.get(s"$outDir/errors.json")
      if (Files.exists(ef))
        Json.readTree(ef).properties.forEach(e => errors(e.getKey) = e.getValue.asText)
    }
    // Open-fd diagnostic: log the process's descriptor count every 25
    // queries, so a leak that ends in EMFILE-shaped "Mkdirs failed"
    // I/O failures is visible in the artifact log instead of guessed at.
    def fdCount(): Int =
      try new java.io.File("/proc/self/fd").list().length catch {
        case _: Throwable => -1
      }
    var ran = 0
    (SparkEntry.queries ++ extraQueries).foreach { case (name, fn) =>
      if (selected(name) &&
          !(resume && Files.exists(Paths.get(s"$outDir/$name")))) {
        ran += 1
        errors.remove(name) // a re-run name's fate is re-decided this run
        if (ran % 25 == 0)
          System.err.println(s"[verify] progress: $ran run, open fds: " +
            fdCount())
        runOne(name, fn).foreach { msg =>
          errors(name) = msg
          System.err.println(s"[verify] $name FAILED: $msg")
          import spark.implicits._
          // the fallback err-parquet write must NEVER kill the dump run:
          // if the filesystem itself is failing (the r13 sf1 crash), a
          // throw here would lose every later query's result. Same
          // tmp-slot + atomic-move protocol as the success path (r13
          // advisor): a crash mid-write must not leave a partial graded
          // dir that a resumed run then skips as finished.
          try {
            val errTmp = s"$outDir/.tmp-err-$name"
            Seq(msg).toDF("err").coalesce(1).write.mode("overwrite")
              .parquet(errTmp)
            val dst = Paths.get(s"$outDir/$name")
            deleteRecursively(dst)
            Files.move(Paths.get(errTmp), dst)
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name: err-parquet write also " +
              s"failed (${e.getClass.getSimpleName}); errors.json still " +
              "records the failure")
          }
        }
      }
    }
    // Jackson escapes backslash, quote and every control char: a tab or CR
    // in oracle SQL would otherwise make oracle_check.py's json.load fail
    // and silently zero the correctness check.
    Json.write(Paths.get(s"$outDir/oracle_sql.json"),
      SparkEntry.oracleSql.filter { case (k, _) => selected(k) })
    // human/driver-readable failure summary (empty object = all constructed)
    Json.write(Paths.get(s"$outDir/errors.json"), errors)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
    if (stopSession) spark.stop()
  }
}
