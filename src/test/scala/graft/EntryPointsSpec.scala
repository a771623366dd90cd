package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Guards `src/main` against regrowing one-off `main` tools: the program's
  * entry points are the driver contract (Bench, Verify), the paper's
  * pipeline, the scale-corpus generator and the one dev-loop inspector.
  * A new probe belongs in a spec or in [[graft.tools.Inspect]]. Every main
  * runs on the one production session, [[graft.SparkEntry.session]].
  */
class EntryPointsSpec extends AnyFunSuite {

  private val objectDecl =
    """(?m)^\s*(?:(?:private|protected)(?:\[\w+\])?\s+)?object\s+(\w+)""".r
  private val packageDecl = """(?m)^package\s+([\w.]+)""".r
  private val mainDecl = """\bdef\s+main\s*\(""".r

  /** Every `.scala` file under `src/main/scala` with its text. */
  private def sources: Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(f => f -> Files.readString(f)).toList
    finally walk.close()
  }

  /** `package.Object` for each `def main(` in `src/main`, named after the
    * nearest `object` declared above it.
    */
  private def entryPoints: Set[String] = sources.flatMap { case (f, src) =>
    val pkg = packageDecl.findFirstMatchIn(src).map(_.group(1) + ".")
      .getOrElse("")
    mainDecl.findAllMatchIn(src).map { m =>
      val obj = objectDecl.findAllMatchIn(src.substring(0, m.start))
        .toSeq.lastOption.map(_.group(1))
        .getOrElse(fail(s"main outside an object in $f"))
      pkg + obj
    }
  }.toSet

  test("src/main builds its SparkSession only in SparkEntry.session") {
    val builders = sources.collect {
      case (f, src) if src.linesIterator.map(_.trim).exists(l =>
          !l.startsWith("*") && !l.startsWith("//") &&
            l.contains("SparkSession.builder()")) =>
        f.getFileName.toString
    }.toSet
    assert(builders == Set("SparkEntry.scala"))
  }

  test("src/main entry points are exactly the five known mains") {
    assert(entryPoints == Set(
      "graft.Bench", "graft.Verify", "graft.etl.Pipeline",
      "graft.tools.GenScaleCorpus", "graft.tools.Inspect"))
  }
}
