package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.scalatest.funsuite.AnyFunSuite

/** The query inventory is one registry, `SparkEntry.modules`, and each
  * shared query helper has one copy. A module left out of the registry
  * silently drops its queries from Verify and Bench; a query name declared
  * by two modules lets the later one win; a private helper copy drifts
  * from its twins. */
class QueryRegistrySpec extends AnyFunSuite {
  /** (file name, source) of every Scala file under `dir`. */
  private def scalaFiles(dir: String): Seq[(String, String)] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"not found: ${root.toAbsolutePath}")
    Using.resource(Files.walk(root)) { paths =>
      paths.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => p.getFileName.toString -> Files.readString(p))
        .toSeq.sortBy(_._1)
    }
  }

  private lazy val sources = scalaFiles("src/main/scala/graft/queries")

  test("every query module under graft/queries is registered exactly once") {
    val obj = """(?m)^object (\w+)""".r
    val declared = sources.collect {
      case (_, src) if src.contains("val queries:") =>
        obj.findAllMatchIn(src).map(_.group(1))
    }.flatten.sorted
    val registered = SparkEntry.modules
      .map(_.getClass.getSimpleName.stripSuffix("$")).sorted
    assert(declared.nonEmpty)
    assert(registered === declared)
  }

  test("no query name or oracle is declared by two modules") {
    assert(SparkEntry.modules.map(_.queries.size).sum ===
      SparkEntry.queries.size)
    assert(SparkEntry.modules.map(_.oracles.size).sum ===
      SparkEntry.oracleSql.size)
  }

  test("one copy of each shared query helper") {
    def declaring(needle: String): Seq[String] =
      sources.collect { case (f, src) if src.contains(needle) => f }
    for (copy <- Seq("private def t(", "def sanitize", "private val MStr",
        "private def v("))
      assert(declaring(copy) === Nil, s"private copies of `$copy`")
  }

  test("streaming twins drain and read files through the shared helpers") {
    // graft.streaming.Drain runs every stream, Tables.stream opens every
    // file stream
    val copies = Seq("withStreamShuffle", "format(\"memory\")",
        "processAllAvailable", ".writeStream", ".readStream", "AtomicInteger")
      .map(c => c -> sources.collect { case (f, src) if src.contains(c) => f })
      .filter(_._2.nonEmpty)
    assert(copies === Nil, "own copies of the streaming plumbing")
  }

  test("one copy of the scale-dir name rule") {
    val copies = scalaFiles("src/main/scala").collect {
      case (f, src) if src.contains("[^A-Za-z0-9]") => f
    }
    assert(copies === Seq("Scratch.scala"))
  }
}
