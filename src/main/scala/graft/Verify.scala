package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // extra args restrict the dump to those query names (dev shakeouts at
    // large SF — mirrors tools/crosscheck.py's `only` filter); the driver
    // always passes exactly two args, so its contract is unchanged
    val only = args.drop(2).toSet
    val spark = SparkEntry.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // remove any stale output FIRST: if this round's build breaks the
      // query, a previous round's parquet must not pass the compare for it
      val stale = Paths.get(outDir, name)
      if (Files.exists(stale)) {
        val walk = Files.walk(stale)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      }
      SparkEntry.release(spark)
      // repartition(1), not coalesce(1): coalesce would propagate
      // single-partition parallelism back through the whole query
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += (name -> Option(e.getMessage).getOrElse(e.getClass.getName))
      }
    }
    // Sidecar of build/run failures: a query that fails here must show up in
    // the correctness artifact as broken, not silently vanish from it.
    val failedJson = failed.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${JsonOut.quote(k)}: ${JsonOut.quote(v.take(500))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failed.json"), failedJson)
    // A filtered run must also filter the oracle sidecar: a full
    // oracle_sql.json over a partial dump would let a later unfiltered
    // crosscheck pass STALE parquet (from an older build) for the
    // unselected queries — the exact failure the stale-delete above guards
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${JsonOut.quote(k)}: ${JsonOut.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
