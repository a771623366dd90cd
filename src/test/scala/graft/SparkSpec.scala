package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-session-per-suite base (guide: one lazy SparkSession). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      // the production SQL wiring (Bench, Verify, Inspect): graft_*
      // functions plus the SimplifySelfCosine optimizer rule
      .config("spark.sql.extensions", "graft.extensions.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One root per test JVM for every spec's scratch directories, deleted
    * when that JVM exits (`Test / fork := true`, so the hook runs in the
    * forked JVM) — a test run leaves nothing behind in `java.io.tmpdir`.
    */
  private lazy val tempRoot: Path = {
    val root = Files.createTempDirectory("graft-spec-")
    sys.addShutdownHook(FileUtils.deleteQuietly(root.toFile))
    root
  }

  /** A fresh scratch directory under the per-JVM root. */
  def tempDir(prefix: String): Path = Files.createTempDirectory(tempRoot, prefix)
}
