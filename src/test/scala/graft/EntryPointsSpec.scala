package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Guards `src/main` against regrowing one-off `main` tools: the program's
  * entry points are the driver contract (Bench, Verify), the paper's
  * pipeline, the scale-corpus generator and the one dev-loop inspector.
  * A new probe belongs in a spec or in [[graft.tools.Inspect]].
  */
class EntryPointsSpec extends AnyFunSuite {

  private val objectDecl =
    """(?m)^\s*(?:(?:private|protected)(?:\[\w+\])?\s+)?object\s+(\w+)""".r
  private val packageDecl = """(?m)^package\s+([\w.]+)""".r
  private val mainDecl = """\bdef\s+main\s*\(""".r

  /** `package.Object` for each `def main(` under `root`, named after the
    * nearest `object` declared above it.
    */
  private def entryPoints(root: Path): Set[String] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap {
      f =>
        val src = Files.readString(f)
        val pkg = packageDecl.findFirstMatchIn(src).map(_.group(1) + ".")
          .getOrElse("")
        mainDecl.findAllMatchIn(src).map { m =>
          val obj = objectDecl.findAllMatchIn(src.substring(0, m.start))
            .toSeq.lastOption.map(_.group(1))
            .getOrElse(fail(s"main outside an object in $f"))
          pkg + obj
        }
    }.toSet
    finally walk.close()
  }

  test("src/main entry points are exactly the five known mains") {
    assert(entryPoints(Paths.get("src/main/scala")) == Set(
      "graft.Bench", "graft.Verify", "graft.etl.Pipeline",
      "graft.tools.GenScaleCorpus", "graft.tools.Inspect"))
  }
}
