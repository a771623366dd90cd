package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed GLOBAL row numbering — the scalable spelling of
  * `row_number() OVER (ORDER BY ...)` with no partition key, which Spark
  * plans as a SINGLE-partition window: every row of a 100 TB table funnels
  * through one task (WindowExec even warns). The engine's declared queries
  * only ever run the bare global window on provably bounded domains
  * (distinct dates, top-k cuts); this operator is for the unbounded case —
  * assigning a stable global ordinal to a whole corpus (resume cursors,
  * deterministic pagination, rank features).
  *
  * Shape (r17 — the RDD hop removed, guide §4/§5): `repartitionByRange` on
  * the order columns (one range shuffle at full parallelism — Spark samples
  * the range bounds), sort within each partition, then the global ordinal
  * is `per-partition offset + local index`, all inside Tungsten/codegen:
  *
  *   - the local index comes from `monotonically_increasing_id()` — by its
  *     published contract `partitionId << 33 | row-index-within-partition`,
  *     evaluated ABOVE the sort so the index follows the sorted order;
  *   - per-partition offsets are a count aggregation on the partition id
  *     (a partition-count-sized relation) cumulated with one tiny window
  *     and broadcast back.
  *
  * The sorted relation is `localCheckpoint`ed once so the offset pass and
  * the final join read the SAME materialized partitioning (AQE could
  * otherwise coalesce two reads of the range exchange differently, which
  * would mismatch offsets against indices — and the checkpoint also means
  * the sort runs once, not once per consumer). The previous spelling
  * (`rdd.zipWithIndex` + `createDataFrame`) computed the same ordinals but
  * paid a full InternalRow→Row deserialization of every row in BOTH of its
  * jobs plus a re-encode of the whole relation back through
  * `createDataFrame` — pure per-row overhead the column spelling avoids
  * (OperatorsSpec pins output equality on multi-partition fixtures; the
  * declared q_global_rank oracle pins it against the one-partition window).
  *
  * Caller contract (spec-pinned): `orderCols` must be a TOTAL order (add a
  * unique tiebreak column) — with ties the intra-tie assignment would be
  * partition-placement dependent; order columns must be non-NULL (Spark
  * ranges sort NULLS FIRST, ANSI row_number defaults NULLS LAST — keeping
  * NULLs out keeps the operator oracle-exact). Partitions are bounded at
  * 2^33 rows each by the monotonic-id layout — at range-shuffle
  * parallelism that is never the binding limit.
  */
object Rank {

  def globalRowNumber(df: DataFrame, orderCols: Seq[String],
      rnCol: String = "rn"): DataFrame = {
    require(orderCols.nonEmpty, "globalRowNumber needs at least one order column")
    require(!df.columns.contains(rnCol), s"output column $rnCol already exists")
    val tmp = Seq("__grn_mid", "__grn_pid", "__grn_off")
    tmp.foreach(t => require(!df.columns.contains(t),
      s"input column $t collides with globalRowNumber's scratch columns"))
    val local = df
      .repartitionByRange(orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
      .withColumn("__grn_mid", monotonically_increasing_id())
      .localCheckpoint(false)
    val withPid = local
      .withColumn("__grn_pid", shiftrightunsigned(col("__grn_mid"), 33))
    val counts = withPid.groupBy(col("__grn_pid"))
      .agg(count(lit(1)).as("__grn_cnt"))
    // partition-count-sized: the single-partition window is bounded by the
    // shuffle parallelism, not the data
    val offsets = counts.select(col("__grn_pid"),
      coalesce(sum(col("__grn_cnt")).over(
          Window.orderBy(col("__grn_pid"))
            .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)).as("__grn_off"))
    withPid.join(broadcast(offsets), Seq("__grn_pid"))
      .select(df.columns.toIndexedSeq.map(col) :+
        (col("__grn_off") + col("__grn_mid").bitwiseAND(lit((1L << 33) - 1))
          + lit(1L)).as(rnCol): _*)
  }
}
