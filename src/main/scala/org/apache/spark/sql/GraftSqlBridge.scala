package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column↔Expression conversions.
  *
  * Spark 4 hides the classic `Column(expr)` constructor behind
  * `org.apache.spark.sql.classic.ExpressionUtils`; placing this one-file
  * shim inside the `org.apache.spark.sql` package is the standard pattern
  * used by Spark-native extension libraries to expose custom Catalyst
  * expressions as first-class `Column`s (so they compose with the public
  * DataFrame API and stay inside whole-stage codegen).
  */
object GraftSqlBridge {

  /** Wrap a raw Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Extract the Catalyst expression behind a Column. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `Dataset.localCheckpoint` that KEEPS the physical plan's output
    * partitioning and ordering (r17): the stock implementation wraps the
    * checkpointed RDD in a `LogicalRDD` with `UnknownPartitioning`, so
    * every downstream consumer keyed on the checkpoint's own partitioning
    * re-shuffles node-for-node identical data (measured: an explicit
    * `repartition(k).localCheckpoint()` still plans an Exchange under a
    * `groupBy(k)`). This helper replays the same execute → copy →
    * localCheckpoint sequence but constructs the `LogicalRDD` with the
    * plan's real partitioning/ordering — the iterative operators
    * (pageRank) checkpoint their loop-invariant relations once and then
    * join them every iteration on exactly the anchored key. Lazy like
    * `localCheckpoint(false)`: no job runs here (under AQE the exchange
    * stages materialize when the first consumer runs).
    */
  def localCheckpointPartitioned(df: Dataset[Row]): Dataset[Row] = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val spark = ds.sparkSession
    val qe = ds.queryExecution
    val plan = qe.executedPlan
    val rdd = plan.execute().map(_.copy())
    rdd.localCheckpoint()
    // AdaptiveSparkPlanExec does NOT override outputPartitioning (it
    // reports UnknownPartitioning) — read it from the finalized inner plan
    val src = plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.finalPhysicalPlan
      case p => p
    }
    // carry the origin plan's stats like stock checkpoint does: without
    // them the LogicalRDD reports defaultSizeInBytes and JoinSelection can
    // never broadcast a small checkpointed relation — at bench scale that
    // forced every consumer join to sort-merge (measured +60% on
    // q_pagerank); with stats the strategy stays size-adaptive (broadcast
    // small, co-partitioned SMJ at scale)
    org.apache.spark.sql.classic.Dataset.ofRows(spark,
      org.apache.spark.sql.execution.LogicalRDD(
        qe.analyzed.output, rdd, src.outputPartitioning,
        src.outputOrdering, isStreaming = false, None)(
        spark, Some(qe.optimizedPlan.stats), None))
  }
}
