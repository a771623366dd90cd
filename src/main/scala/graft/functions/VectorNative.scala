package graft.functions

import graft.functions.expr.{GraftCosine, GraftDot, GraftLshBucket, GraftNorm2}
import org.apache.spark.sql.{Column, GraftSqlBridge => B}

/** Column-API surface for the native codegen vector expressions
  * ([[graft.functions.expr.VectorExprs]]) — the one production spelling of
  * the float vector math. The specs' `VectorTruth` holds the HOF forms
  * with identical arithmetic (same element order, double accumulation,
  * NULL-not-NaN); these compile to a primitive loop inside whole-stage
  * codegen instead of an interpreted lambda tree per element.
  */
object VectorNative {

  def dot(a: Column, b: Column): Column =
    B.column(GraftDot(B.expression(a), B.expression(b)))

  def norm2(a: Column): Column =
    B.column(GraftNorm2(B.expression(a)))

  def cosine(a: Column, b: Column): Column =
    B.column(GraftCosine(B.expression(a), B.expression(b)))

  /** `family` selects an independent hyperplane family (table t of a
    * multi-table LSH passes t directly) — the index scales by nPlanes
    * inside the expression, so families never share a hyperplane.
    */
  def lshBucket(v: Column, dims: Int, nPlanes: Int, family: Int = 0): Column =
    B.column(GraftLshBucket(B.expression(v), dims, nPlanes, family))

  /** Driver-side bucket of a KNOWN query vector (the probe side of ANN):
    * evaluates the same expression once and folds the result into the plan
    * as a literal, so a probe filter costs one long-compare per row instead
    * of re-hashing the query against every hyperplane per row — and
    * partition pruning sees a constant. None for a malformed query
    * (wrong dims), mirroring the expression's NULL.
    */
  def lshBucketOf(v: Seq[Float], dims: Int, nPlanes: Int,
      family: Int = 0): Option[Long] = {
    import org.apache.spark.sql.catalyst.expressions.{CreateArray, Literal}
    // raw Catalyst literals, not the public array(lit(...)) Column: Spark 4
    // Columns stay UNRESOLVED until analysis, and an unresolved tree cannot
    // be eval'd driver-side
    val arr = CreateArray(v.map(x =>
      Literal(x, org.apache.spark.sql.types.FloatType)))
    val e = GraftLshBucket(arr, dims, nPlanes, family)
    Option(e.eval(org.apache.spark.sql.catalyst.InternalRow.empty))
      .map(_.asInstanceOf[Long])
  }
}
