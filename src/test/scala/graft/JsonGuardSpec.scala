package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.scalatest.funsuite.AnyFunSuite

/** Every JSON document the program writes or reads goes through
  * `graft.Json`; a second mapper or a hand-built escaper under src/main is
  * how the formats drifted apart before. */
class JsonGuardSpec extends AnyFunSuite {
  test("only graft/Json.scala names ObjectMapper or JsonStringEncoder under src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"not found: ${root.toAbsolutePath}")
    val codecs = Using.resource(Files.walk(root)) { paths =>
      paths.iterator().asScala
        .filter { p =>
          p.toString.endsWith(".scala") && {
            val src = Files.readString(p)
            src.contains("ObjectMapper") || src.contains("JsonStringEncoder")
          }
        }
        .map(p => root.relativize(p).toString).toSeq.sorted
    }
    assert(codecs === Seq("graft/Json.scala"))
  }
}
