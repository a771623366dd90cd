package graft.etl

import graft.SparkSpec

/** Gate for the r9 schema-evolution parquet reads (new columns surface as
  * NULLs across generations; type conflicts fail loudly).
  */
class StorageExtSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(): String =
    SparkSpec.tempDir("graft_storage_ext")
      .toFile.getAbsolutePath

  test("readEvolved (multi-path) unions generations; plain read can drop the " +
    "new column; type conflicts fail loudly") {
    val v1 = tmp() + "/v1"
    val v2 = tmp() + "/v2"
    Seq((1L, "a")).toDF("id", "txt").write.parquet(v1)
    Seq((2L, "b", "en")).toDF("id", "txt", "lang").write.parquet(v2)

    val merged = Maintenance.readEvolved(spark, Seq(v1, v2))
    assert(merged.columns.toSet == Set("id", "txt", "lang"))
    val rows = merged.orderBy("id")
      .collect().map(r => (r.getLong(0), r.isNullAt(2))).toSeq
    assert(rows == Seq((1L, true), (2L, false)),
      "old-generation rows must surface the new column as NULL")

    // pushdown on a common column still reaches both files' scans
    val plan = merged.where($"id" > 1).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan"))

    // same column, different type across generations → loud failure, not
    // silent coercion (the corpus-maintenance contract)
    val v3 = tmp() + "/v3"
    Seq((3L, 42)).toDF("id", "txt").write.parquet(v3)
    val err = intercept[Exception] {
      Maintenance.readEvolved(spark, Seq(v1, v3)).collect()
    }
    assert(err.getMessage != null)
  }
}
