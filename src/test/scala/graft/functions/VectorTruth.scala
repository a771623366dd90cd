package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The higher-order-function spelling (`zip_with` + `aggregate`) of the
  * vector math [[VectorNative]] compiles to primitive loops — the specs'
  * truth side; not for hot paths. Accumulation is in double, in fixed
  * array-index order, so results are bit-deterministic regardless of
  * partitioning.
  */
object VectorTruth {

  /** Σ aᵢ·bᵢ in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm2(a: Column): Column =
    sqrt(aggregate(a, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Cosine similarity; NULL-safe on zero-norm vectors (emits NULL rather
    * than NaN, matching the engine's NULL-not-NaN convention).
    */
  def cosine(a: Column, b: Column): Column = {
    val d  = dot(a, b)
    val nn = norm2(a) * norm2(b)
    when(nn > 0.0, d / nn).otherwise(lit(null))
  }

  /** Random-hyperplane (sign) LSH bucket id over `dims`-dim vectors.
    *
    * The `nPlanes` hyperplanes are pseudo-random but fully deterministic:
    * component j of plane p of family `family` is derived from
    * xxhash64((family·nPlanes + p)·dims + j) mapped into [-1, 1] — the
    * family index is scaled by nPlanes INSIDE, so families 0, 1, 2, …
    * (the natural multi-table usage) draw from disjoint plane-index ranges
    * and never share a hyperplane. (An unscaled offset would make adjacent
    * families share nPlanes−1 planes and collapse multi-table recall to
    * single-table.) Vectors with the same sign pattern against all planes
    * share a bucket.
    */
  def lshBucket(v: Column, dims: Int, nPlanes: Int, family: Int = 0): Column = {
    val bits = (0 until nPlanes).map { p =>
      val plane = array((0 until dims).map { j =>
        // deterministic pseudo-random weight in [-1, 1]
        (xxhash64(lit((family * nPlanes + p) * dims + j)) % 1000001L)
          .cast("double") / 1000000.0
      }: _*)
      when(dot(v, plane) >= 0.0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _).as("lsh_bucket")
  }
}
