package graft.sinks

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SaveMode}
import graft.sources.Jdbc

/** A file sink's output, written beside its target but not yet at it.
  * Every file sink writes this way: a failed or rejected write never
  * touches the target. [[publish]] moves the output onto the target;
  * [[discard]] deletes it. Either way the staging directory is removed. */
final class Staged private[sinks] (stageDir: Path, output: Path, target: Path) {

  def publish(): String =
    try {
      if (Files.isDirectory(target)) {
        // a directory cannot be replaced in one move: set the old one
        // aside, move the new one in, and put the old one back on failure
        val old = stageDir.resolve("old")
        Files.move(target, old)
        try Files.move(output, target)
        catch { case e: Exception => Files.move(old, target); throw e }
      } else Files.move(output, target, StandardCopyOption.REPLACE_EXISTING)
      s"wrote $target"
    } finally discard()

  def discard(): Unit = Staged.delete(stageDir)
}

private[sinks] object Staged {
  /** Runs `write` into a fresh hidden sibling directory of `target`
    * (`.<format>_stage_*`); `write` returns the output to publish. */
  def apply(target: String, format: String)(write: Path => Path): Staged = {
    val t = Paths.get(target).toAbsolutePath
    val parent = Option(t.getParent).getOrElse(Paths.get("."))
    Files.createDirectories(parent)
    val dir = Files.createTempDirectory(parent, s".${format}_stage_")
    try new Staged(dir, write(dir.resolve("data")), t)
    catch { case e: Throwable => delete(dir); throw e }
  }

  /** A partition-parallel directory write in `format`. */
  def directory(df: DataFrame, dir: String, format: String,
      partitionBy: Seq[String], options: Map[String, String] = Map.empty): Staged =
    Staged(dir, format) { data =>
      val w = df.write.format(format).options(options)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .save(data.toString)
      data
    }

  private def delete(dir: Path): Unit =
    if (Files.exists(dir)) {
      val paths = Files.walk(dir)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    }
}

/** Load stage (SURVEY.md §2A #9-10). */
object CsvSink {

  /** Single CSV file at an exact path (the reference sink contract —
    * ops.py:28-32 writes one file with `df.to_csv`). Implemented as a
    * coalesce(1) directory write + part-file move. The coalesce makes the
    * final write single-threaded by design — acceptable at the reference's
    * ≤1 GiB envelope; at cluster scale use [[writeDirectory]], which keeps
    * one file per partition.
    *
    * `options` passes through to the Spark CSV writer — the reference's
    * `to_csv(sep=…, encoding=…)` surface (tools.py:257-258): e.g.
    * `Map("sep" -> "|", "encoding" -> "ISO-8859-1", "escape" -> "\"")`
    * (the last makes embedded quotes RFC-4180 doubled instead of
    * backslash-escaped, which is what pandas/DuckDB expect to read
    * back). */
  def writeSingleFile(df: DataFrame, path: String,
      includeHeader: Boolean = true,
      options: Map[String, String] = Map.empty): String =
    stageSingleFile(df, path, includeHeader, options).publish()

  def stageSingleFile(df: DataFrame, path: String,
      includeHeader: Boolean = true,
      options: Map[String, String] = Map.empty): Staged =
    Staged(path, "csv") { data =>
      df.coalesce(1).write
        .option("header", includeHeader.toString)
        .options(options)
        .csv(data.toString)
      val parts = Files.list(data)
      try parts.filter(p => p.getFileName.toString.startsWith("part-"))
        .findFirst()
        .orElseThrow(() => new IllegalStateException("no part file written"))
      finally parts.close()
    }

  /** The scale path: partition-parallel directory output (one file per
    * task, never a coalesce). Optional hive-style `partitionBy` columns
    * give downstream readers partition pruning — this is the writer every
    * `load.partition_by` plan routes through, whatever the format. */
  def writeDirectory(df: DataFrame, dir: String,
      includeHeader: Boolean = true,
      partitionBy: Seq[String] = Nil): String =
    stageDirectory(df, dir, includeHeader, partitionBy).publish()

  def stageDirectory(df: DataFrame, dir: String,
      includeHeader: Boolean = true,
      partitionBy: Seq[String] = Nil): Staged =
    Staged.directory(df, dir, "csv", partitionBy,
      Map("header" -> includeHeader.toString))
}

/** Parquet directory sink — an engine extension beyond the reference's
  * csv/postgres pair (plan `load.to: parquet`): columnar, splittable,
  * schema-carrying, partition-parallel — what a 100 TB pipeline actually
  * lands. Optional `partition_by` columns give partition pruning to
  * downstream readers. */
object ParquetSink {
  def write(df: DataFrame, dir: String,
      partitionBy: Seq[String] = Nil): String =
    stage(df, dir, partitionBy).publish()

  def stage(df: DataFrame, dir: String,
      partitionBy: Seq[String] = Nil): Staged =
    Staged.directory(df, dir, "parquet", partitionBy)
}

/** JDBC sink with the reference's three modes (tools.py:74-97):
  * append / replace via the native writer, upsert via the reference's own
  * staging strategy — write to `{table}_stg`, then a single transactional
  * `INSERT … ON CONFLICT (keys) DO UPDATE` (tools.py:84-96). Identifiers
  * are quoted (the reference's acknowledged injection surface,
  * tools.py:138, SURVEY.md §7.4). */
object JdbcSink {

  def write(df: DataFrame, connStr: String, table: String,
      mode: String = "append", keyCols: Seq[String] = Nil): String = {
    val (url, props) = Jdbc.fromSqlAlchemy(connStr)
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    mode match {
      case "append" =>
        df.write.mode(SaveMode.Append).jdbc(url, table, p)
        s"appended to $table"
      case "replace" =>
        df.write.mode(SaveMode.Overwrite).jdbc(url, table, p)
        s"replaced $table"
      case "upsert" =>
        require(keyCols.nonEmpty, "upsert requires key_cols")
        val stage = s"${table}_stg"
        df.write.mode(SaveMode.Overwrite).jdbc(url, stage, p)
        val sql =
          if (url.startsWith("jdbc:postgresql"))
            upsertSql(table, stage, df.columns.toSeq, keyCols)
          else mergeSql(table, stage, df.columns.toSeq, keyCols)
        val conn = java.sql.DriverManager.getConnection(url, p)
        try {
          conn.setAutoCommit(false)
          val st = conn.createStatement()
          try { st.execute(sql); conn.commit() }
          catch { case e: Exception => conn.rollback(); throw e }
          finally st.close()
        } finally conn.close()
        s"upserted into $table"
      case other =>
        throw new IllegalArgumentException(s"unknown load mode: $other")
    }
  }

  /** Postgres `INSERT … ON CONFLICT` from stage — mirrors reference
    * tools.py:92-96 with quoted identifiers. */
  private[sinks] def upsertSql(table: String, stage: String,
      cols: Seq[String], keyCols: Seq[String]): String = {
    val qTable = Jdbc.tableRef(table)
    val qStage = Jdbc.tableRef(stage)
    val colList = cols.map(Jdbc.quoteIdent).mkString(", ")
    val keyList = keyCols.map(Jdbc.quoteIdent).mkString(", ")
    val updates = cols.filterNot(keyCols.contains).map(c =>
      s"${Jdbc.quoteIdent(c)} = EXCLUDED.${Jdbc.quoteIdent(c)}").mkString(", ")
    val action = if (updates.isEmpty) "DO NOTHING" else s"DO UPDATE SET $updates"
    s"INSERT INTO $qTable ($colList) SELECT $colList FROM $qStage " +
      s"ON CONFLICT ($keyList) $action"
  }

  /** Standard SQL `MERGE` upsert from stage — the portable form for
    * databases without Postgres `ON CONFLICT` (Derby, SQL Server, …). */
  private[sinks] def mergeSql(table: String, stage: String,
      cols: Seq[String], keyCols: Seq[String]): String = {
    val qTable = Jdbc.tableRef(table)
    val qStage = Jdbc.tableRef(stage)
    val on = keyCols.map(k =>
      s"t.${Jdbc.quoteIdent(k)} = s.${Jdbc.quoteIdent(k)}").mkString(" AND ")
    val updates = cols.filterNot(keyCols.contains).map(c =>
      s"t.${Jdbc.quoteIdent(c)} = s.${Jdbc.quoteIdent(c)}").mkString(", ")
    val colList = cols.map(Jdbc.quoteIdent).mkString(", ")
    val valList = cols.map(c => s"s.${Jdbc.quoteIdent(c)}").mkString(", ")
    val matched =
      if (updates.isEmpty) "" else s" WHEN MATCHED THEN UPDATE SET $updates"
    s"MERGE INTO $qTable t USING $qStage s ON $on$matched " +
      s"WHEN NOT MATCHED THEN INSERT ($colList) VALUES ($valList)"
  }
}
