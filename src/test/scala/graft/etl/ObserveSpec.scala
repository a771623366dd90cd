package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Gates for [[Observe]]: the observed metrics equal the directly-computed
  * aggregates, they arrive from the SAME job as the action (no extra scan
  * job), and the corpus panel counts what it claims on NULL/empty text.
  */
class ObserveSpec extends SparkSpec {

  import spark.implicits._

  test("instrument delivers exact metrics from the action's own job") {
    val df = Seq.tabulate(100)(i => (i.toLong, i % 7)).toDF("id", "k")
    val (inst, obs) = Observe.instrument(df, "probe",
      "rows" -> count(lit(1)),
      "sum_k" -> sum($"k"),
      "max_id" -> max($"id"))

    // the job we were going to run anyway — count the observed frame's
    // jobs to show telemetry added none
    val sc = spark.sparkContext
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    val n = inst.count()
    val after = sc.statusTracker.getJobIdsForGroup(null).length
    assert(n == 100)
    // count() on a 100-row local frame is one job (plus possibly an AQE
    // final stage job); the point is it did not DOUBLE for the metrics
    assert(after - before <= 2, s"observe must not add scan jobs: ${after - before}")

    val m = obs.get
    assert(m("rows") == 100L, m.toString)
    assert(m("sum_k") == (0 until 100).map(_ % 7).sum.toLong, m.toString)
    assert(m("max_id") == 99L, m.toString)
  }

  test("corpusMetrics counts nulls, empties, and total chars") {
    val df = Seq(
      (1L, "hello"), (2L, null.asInstanceOf[String]), (3L, ""), (4L, "abc"))
      .toDF("doc_id", "text")
    val (inst, obs) = Observe.corpusMetrics(df, "text", "stage0")
    inst.write.mode("overwrite")
      .parquet(SparkSpec.tempDir("graft_obs")
        .toFile.getAbsolutePath + "/out")
    val m = obs.get
    assert(m("rows") == 4L, m.toString)
    assert(m("null_text") == 1L, m.toString)
    assert(m("empty_text") == 1L, m.toString)
    assert(m("total_chars") == 8L, m.toString)
  }
}
