package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Dev-loop plan and timing inspector for declared queries and their
  * `_operator` twins ([[graft.queries.ExtQueries.operatorOnly]], bare or
  * `_operator`-suffixed).
  *
  * Usage: runMain graft.tools.Inspect explain|executed|time <sfDir>
  *   [repeats] q1 [q2 ...] [key=value ...]
  *
  *  - `explain`: the plan count line plus `explain("formatted")` of the
  *    plan before execution.
  *  - `executed`: runs the query and prints the count line plus its FINAL
  *    adaptive plan — the only place AQE stage reuse is visible (the plan
  *    before execution always renders both subtrees).
  *  - `time <repeats>`: [[graft.SparkEntry.timeNoop]] of each repeat (the
  *    [[graft.Bench]] measurement) and their median.
  *
  * Runs on the session every entry point shares
  * ([[graft.SparkEntry.session]]: `spark.master`, else
  * `local[$SPARK_GRAFT_CPUS]`); `key=value` arguments become its confs.
  *
  * Reading the counts: a FileScan rendered INSIDE an InMemoryTableScan
  * subtree is the cached plan's definition, not an extra executed scan —
  * executed base-table scans = top-level FileScans + one per cache
  * materialization.
  */
object Inspect {

  def resolve(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.resolve(name).getOrElse(sys.error(s"unknown query: $name " +
      "(not declared, not an operatorOnly sub-timing)"))

  /** Marks a whole-stage-codegen stage in a plan's tree string: `*(id)`. */
  private val codegenStage = """\*\((\d+)\)""".r

  /** Scan, exchange and reuse counts of a plan's tree string. An adaptive
    * plan before execution has no codegen stages yet (`wscgSpans=0`).
    */
  def countLine(name: String, plan: String): String = {
    def count(p: String => Boolean) = plan.linesIterator.count(p)
    s"[plan] $name: fileScans=${count(_.contains("FileScan"))} " +
      s"exchanges=${count(_.contains("Exchange "))} " +
      s"reused=${count(_.contains("ReusedExchange"))} " +
      s"inMemScans=${count(_.contains("InMemoryTableScan"))} " +
      s"wscgSpans=${codegenStage.findAllMatchIn(plan).map(_.group(1)).toSet.size}"
  }

  def explain(spark: SparkSession, sfDir: String, name: String): String = {
    val qe = resolve(name)(spark, sfDir).queryExecution
    countLine(name, qe.executedPlan.toString) + "\n" +
      qe.explainString(FormattedMode)
  }

  def executed(spark: SparkSession, sfDir: String, name: String): String = {
    val df = resolve(name)(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
    countLine(name, plan) + "\n" + plan
  }

  /** Seconds per repeat, each one [[graft.SparkEntry.timeNoop]]. */
  def time(spark: SparkSession, sfDir: String, name: String,
      repeats: Int): Seq[Double] = {
    val query = resolve(name)
    Seq.fill(repeats)(SparkEntry.timeNoop(spark, sfDir, query))
  }

  def median(ts: Seq[Double]): Double = ts.sorted.apply(ts.size / 2)

  def main(args: Array[String]): Unit = {
    val (confs, rest) = args.toSeq.partition(_.contains("="))
    val (mode, sfDir) = (rest(0), rest(1))
    val spark = SparkEntry.session("graft-inspect", confs.map { kv =>
      val Array(k, v) = kv.split("=", 2); (k, v)
    })
    try mode match {
      case "explain" =>
        rest.drop(2).foreach(n => println(explain(spark, sfDir, n)))
      case "executed" =>
        rest.drop(2).foreach(n => println(executed(spark, sfDir, n)))
      case "time" =>
        val repeats = rest(2).toInt
        rest.drop(3).foreach { n =>
          val ts = time(spark, sfDir, n, repeats)
          println(f"[time] $n median ${median(ts)}%.3f s runs " +
            ts.map(t => f"$t%.3f").mkString(", "))
        }
      case m => sys.error(s"unknown mode: $m (explain|executed|time)")
    } finally spark.stop()
  }
}
