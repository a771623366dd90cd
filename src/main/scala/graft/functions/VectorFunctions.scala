package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Int8-quantized embedding math over `array<float>` columns using
  * higher-order functions (`transform`, `zip_with` + `aggregate`). The
  * float vector math is [[VectorNative]].
  *
  * All accumulation happens in fixed array-index order, so results are
  * bit-deterministic regardless of partitioning.
  */
object VectorFunctions {

  /** Symmetric per-vector int8 scale: max|xᵢ|/127 in double. Zero vectors
    * get scale 0 (and quantize to all-zeros) — NULL-free by construction.
    */
  def int8Scale(v: Column): Column =
    coalesce(array_max(transform(v, x => abs(x.cast("double")))), lit(0.0)) / 127.0

  /** Per-vector symmetric int8 quantization: qᵢ = ⌊xᵢ/scale + 0.5⌋ — the
    * 4×-smaller at-rest layout for embedding corpora. Every step (float→
    * double widening, division, floor) is IEEE-exact and order-free, so the
    * quantized ints are BIT-identical cross-engine — which is what lets the
    * quantized ANN path be fully hash-oracled (unlike float cosine, where
    * only our fixed-order accumulation keeps engines in agreement).
    * ⌊x+0.5⌋ (round-half-toward-+∞) avoids the half-even vs half-up
    * divergence between engines' round().
    */
  def quantizeInt8(v: Column, scale: Column): Column =
    transform(v, x =>
      when(scale === 0.0, lit(0))
        .otherwise(floor(x.cast("double") / scale + 0.5).cast("int")))

  /** Σ qaᵢ·qbᵢ over int8-quantized vectors — pure BIGINT arithmetic, exact. */
  def dotInt(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Cosine over quantized vectors: the per-vector scales cancel
    * algebraically, so this equals cosine of the ORIGINAL vectors up to
    * quantization noise — ints give an exact dot and exact squared norms,
    * and the single double division at the end is IEEE-exact cross-engine.
    */
  def cosineInt(a: Column, b: Column): Column = {
    val nn = sqrt(dotInt(a, a).cast("double")) * sqrt(dotInt(b, b).cast("double"))
    when(nn > 0.0, dotInt(a, b).cast("double") / nn).otherwise(lit(null))
  }
}
