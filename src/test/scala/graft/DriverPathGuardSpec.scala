package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.scalatest.funsuite.AnyFunSuite

/** The "collect when small" decision lives in `graft.operators.DriverPath`;
  * a per-operator threshold or an inline count switch is how twelve copies
  * of it with six constants for three values grew before. */
class DriverPathGuardSpec extends AnyFunSuite {
  test("only operators/DriverPath.scala holds a size switch under src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"not found: ${root.toAbsolutePath}")
    val switches = Using.resource(Files.walk(root)) { paths =>
      paths.iterator().asScala
        .filter { p =>
          p.toString.endsWith(".scala") && {
            val src = Files.readString(p)
            src.contains("driverThreshold") || src.contains(".count() <=")
          }
        }
        .map(p => root.relativize(p).toString).toSeq.sorted
    }
    assert(switches === Seq("graft/operators/DriverPath.scala"))
  }
}
