package graft

/** Per-process scratch directories for queries that materialize
  * intermediate files (layout demos, format round-trips).
  *
  * One stable path per (process, name): re-runs inside a JVM overwrite
  * instead of accumulating fresh temp copies (Bench runs every query
  * twice; Verify/Explain/specs run them again), while the pid component
  * keeps concurrent graft processes (a Bench and a Verify on one host)
  * from clobbering each other's files mid-read.
  */
object Scratch {
  private val root: java.nio.file.Path = java.nio.file.Paths.get(
    sys.props("java.io.tmpdir"),
    s"graft_scratch_${ProcessHandle.current().pid()}")

  def dir(name: String): String = {
    java.nio.file.Files.createDirectories(root)
    root.resolve(name).toString
  }

  /** `sfDir` as a name fragment: every character other than an ASCII
    * letter or digit becomes `_`. Names scratch directories and the
    * catalog tables built from one scale's data. */
  def key(sfDir: String): String = sfDir.replaceAll("[^A-Za-z0-9]", "_")

  /** The scratch directory `name` for the tables under `sfDir`: one per
    * scale, so artifacts built at different scales never mix. */
  def dir(name: String, sfDir: String): String = dir(s"${name}_${key(sfDir)}")
}
