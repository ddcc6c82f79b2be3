package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.scalatest.funsuite.AnyFunSuite

/** A native per-row function is a `graft.functions.NativeCall`: its name,
  * its helper's static method and its result type. A hand-written Catalyst
  * class per function is how ~80 copies of the same `nullSafeEval` /
  * `doGenCode` pair grew before. The classes below stay because their
  * generated code needs more than a static call. */
class ExpressionGuardSpec extends AnyFunSuite {
  private val kept = Seq(
    // a driver-built automaton, passed to generated code as a reference object
    "graft/functions/AhoCorasick.scala: AhoCountExpr",
    // reference-object matrices, and the element type read from the child
    "graft/functions/NativeExprs.scala: HyperplaneSigs",
    "graft/functions/NativeExprs.scala: HyperplaneSigsLong",
    "graft/functions/NativeExprs.scala: NearestCentroid",
    // generated code picks each side's element type
    "graft/functions/NativeExprs.scala: VecBinary",
    // graft.plans.JwPrefilter pattern-matches its type
    "graft/functions/JaroWinkler.scala: JaroWinklerSim")

  private val Declaration =
    """(?s)(?:class|trait)\s+(\w+)[^{}]*?extends\s+(?:[\w.]+\.)?(?:Unary|Binary|Ternary)Expression\b""".r

  test("only the kept classes extend Unary/Binary/TernaryExpression under src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"not found: ${root.toAbsolutePath}")
    val declared = Using.resource(Files.walk(root)) { paths =>
      paths.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          Declaration.findAllMatchIn(Files.readString(p))
            .map(m => s"${root.relativize(p)}: ${m.group(1)}")
        }
        .toSeq.sorted
    }
    assert(declared === kept.sorted)
  }
}
