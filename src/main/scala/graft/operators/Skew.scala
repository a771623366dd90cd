package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities for hot keys that overwhelm a single shuffle
  * partition. AQE's skew-join split (on by default) handles most cases at
  * runtime; these are for the joins AQE cannot rewrite, where the planner
  * can't observe the skew (e.g. freshly exploded candidate keys with no
  * stats).
  *
  * Both transforms are output-equivalent to their unsalted forms (asserted
  * by SkewSpec), so callers can flip them on per-key-distribution without
  * touching semantics.
  */
object Skew {

  /** Per-row salt in [0, nSalts): position-based, NOT value-based — hashing
    * row values would give every copy of a duplicated hot row the same salt,
    * defeating the spread exactly in the common duplicate-row skew case.
    * monotonically_increasing_id is partition-local counter + partition id,
    * so consecutive duplicates cycle through all salts. Retry stability
    * holds only when the upstream partition contents and order are
    * deterministic (e.g. directly after a file scan); after a shuffle, a
    * fetch-failure re-execution may re-salt rows differently — harmless
    * here because join/agg RESULTS never depend on which salt a row got,
    * only the spread does. Callers needing bitwise-identical intermediate
    * salts should salt from a unique key column instead. No rand():
    * same reasoning, one fewer moving part.
    */
  private def rowSalt(nSalts: Int): Column =
    pmod(monotonically_increasing_id(), lit(nSalts.toLong)).cast("int")

  /** Salted equi-join: the (big, skewed) left side gets a per-row salt; the
    * small right side is replicated `nSalts`× so every (key, salt) bucket
    * can match. A hot key's rows then spread over `nSalts` shuffle
    * partitions instead of one. Supports "inner" and "left" (the big side
    * must be the left argument; replicating the right side would duplicate
    * right-side rows under right/full joins).
    *
    * Prefer `broadcast(small)` when the small side fits in memory — salting
    * is for when it doesn't, but a hot key still melts one reducer.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
      nSalts: Int, joinType: String = "inner"): DataFrame = {
    require(nSalts > 0, "nSalts must be positive")
    require(joinType == "inner" || joinType == "left",
      s"saltedJoin supports inner/left, got $joinType")
    val saltedBig = big.withColumn("__salt", rowSalt(nSalts))
    val saltedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(nSalts - 1))))
    saltedBig.join(saltedSmall, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Hybrid hot-key join — the third skew tool beside [[saltedJoin]] and
    * AQE's runtime split: broadcast ONLY the hot keys' slice of the right
    * side, shuffle the rest.
    *
    * When to reach for it: `broadcast(small)` needs the WHOLE right side in
    * every executor; [[saltedJoin]] replicates the whole right side
    * `nSalts`×. When the right side is too big for either but the skew
    * lives in a handful of keys (the usual case — power-law key
    * distributions), the right side's HOT-KEY SLICE is tiny by definition:
    * broadcast just that, route the left side's hot rows through the
    * broadcast join (no shuffle for exactly the rows that would have
    * melted a reducer), and let the cold remainder take the ordinary
    * equi-shuffle whose partitions are now skew-free. Output ≡ the plain
    * join (each left row takes exactly one path; the hot slice carries
    * ALL right rows for its keys — SkewSpec asserts equality and both
    * plan branches).
    *
    * Hot keys come from an exact count over the left side at
    * `hotThreshold` — one extra aggregation pass (with table/column stats
    * or a sketch a production caller can skip it; the operator keeps the
    * exact form so the split is deterministic). The hot-key relation
    * itself is broadcast for the semi/anti routing, so the left side is
    * never shuffled for routing — both routing joins are map-only.
    */
  def hybridJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
      hotThreshold: Long, joinType: String = "inner"): DataFrame = {
    require(hotThreshold > 0, "hotThreshold must be positive")
    require(joinType == "inner" || joinType == "left",
      s"hybridJoin supports inner/left, got $joinType")
    val keyCols = keys.map(col)
    val hotKeys = big.groupBy(keyCols: _*)
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") >= hotThreshold)
      .select(keyCols: _*)
    val bigHot = big.join(broadcast(hotKeys), keys, "left_semi")
    val bigCold = big.join(broadcast(hotKeys), keys, "left_anti")
    val smallHot = small.join(broadcast(hotKeys), keys, "left_semi")
    bigHot.join(broadcast(smallHot), keys, joinType)
      .unionByName(bigCold.join(small, keys, joinType))
  }
}
