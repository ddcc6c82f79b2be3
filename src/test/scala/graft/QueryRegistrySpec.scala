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
  private val root = Paths.get("src/main/scala/graft/queries")

  /** (file name, source) of every file under graft/queries. */
  private lazy val sources: Seq[(String, String)] = {
    assert(Files.isDirectory(root), s"not found: ${root.toAbsolutePath}")
    Using.resource(Files.list(root)) { paths =>
      paths.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => p.getFileName.toString -> Files.readString(p))
        .toSeq.sortBy(_._1)
    }
  }

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
    assert(declaring("def withStreamShuffle") === Seq("StreamConf.scala"))
  }
}
