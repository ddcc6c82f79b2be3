package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.scalatest.funsuite.AnyFunSuite

/** Every entry point builds its session through `graft.Session`; a second
  * builder under src/main is how the configurations drifted apart before. */
class SessionGuardSpec extends AnyFunSuite {
  test("only graft/Session.scala calls SparkSession.builder under src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"not found: ${root.toAbsolutePath}")
    val builders = Using.resource(Files.walk(root)) { paths =>
      paths.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          Files.readString(p).contains("SparkSession.builder"))
        .map(p => root.relativize(p).toString).toSeq.sorted
    }
    assert(builders === Seq("graft/Session.scala"))
  }
}
