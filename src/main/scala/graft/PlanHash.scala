package graft

import org.apache.spark.sql.DataFrame

/** Canonicalized physical-plan fingerprints — the plan-regression tripwire.
  *
  * PlanSpec pins individual load-bearing plan shapes (a broadcast here, an
  * absent exchange there); this fingerprints EVERY declared query so silent
  * plan drift anywhere in the inventory (a join strategy flip, a lost
  * pushdown collapsing into an extra exchange, a new sort) trips a diff
  * against a committed snapshot (PlanHashSpec), and Bench self-records the
  * hashes per round so drift is visible in the artifact history too.
  *
  * Canonical form: one line per physical operator, keeping ONLY the operator
  * name plus the strategy-bearing tokens (partitioning kind, join type,
  * build side, scan format) and the sorted distinct `graft_*` functions it
  * calls, so a native expression that falls back to its higher-order-function
  * spelling changes the fingerprint too. Everything volatile — expression
  * ids, literals, paths, statistics, partition counts, codegen stage ids —
  * is dropped, so the fingerprint is stable across scale factors, temp
  * directories, and re-trained literal models (IVF centroids are plan
  * literals!) while still changing whenever the plan SHAPE, a physical
  * strategy or a `graft_*` call changes.
  */
object PlanHash {

  /** Strategy-bearing tokens preserved verbatim when they appear in an
    * operator's line: shuffle partitioning kind, join type and build side,
    * and the scan source format.
    */
  private val tokens = Seq(
    "hashpartitioning", "rangepartitioning", "SinglePartition",
    "RoundRobinPartitioning", "IdentityBroadcastMode", "HashedRelationBroadcastMode",
    "Inner", "LeftOuter", "RightOuter", "FullOuter", "LeftSemi", "LeftAnti",
    "Cross", "ExistenceJoin", "BuildLeft", "BuildRight",
    "parquet", "csv", "ExistingRDD", "LocalTableScan", "OneRowRelation")

  /** The canonical (volatility-stripped) plan text for a not-yet-executed
    * DataFrame: operator skeleton + strategy tokens, one line per node.
    */
  def canonical(df: DataFrame): String = {
    val plan = df.queryExecution.executedPlan.toString
    plan.linesIterator
      .map(canonLine)
      .filter(_.nonEmpty)
      .mkString("\n")
  }

  /** A `graft_*` function call; a path such as `graft_ivf_<hash>/` is no call. */
  private val graftCall = "graft_[a-z0-9_]+(?=\\()".r

  private def canonLine(line: String): String = {
    // strip tree-drawing prefix (spaces, +- :- marks) and the whole-stage
    // codegen stage id marker *(N)
    val s = line.replaceAll("^[\\s+:|-]*", "").replaceAll("^\\*\\(\\d+\\)\\s*", "")
    val op = s.takeWhile(c => c.isLetterOrDigit)
    if (op.isEmpty) ""
    else {
      val present = tokens.filter(s.contains) ++
        graftCall.findAllIn(s).toSeq.distinct.sorted
      if (present.isEmpty) op else op + " " + present.mkString(",")
    }
  }

  /** 16-hex-char SHA-256 fingerprint of the canonical plan. */
  def hash(df: DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(canonical(df).getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
  }
}
