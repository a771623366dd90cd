package graft.extensions

import graft.functions.expr.{GraftCosine, GraftDeflateLen, GraftDot, GraftLshBucket, GraftNfc, GraftNorm2, GraftWinnow}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** SQL surface for the engine's custom Catalyst expressions, as a standard
  * `SparkSessionExtensions` injector:
  *
  * {{{
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)        // or
  *     .config("spark.sql.extensions", "graft.extensions.GraftExtensions")
  * }}}
  *
  * after which `spark.sql("SELECT graft_cosine(a.embedding, b.embedding)...")`
  * works anywhere SQL does. [[graft.SparkEntry.session]], the session of
  * every entry point, uses the config form.
  *
  * Registered functions:
  *   - `graft_dot(array<float>, array<float>) -> double`
  *   - `graft_norm2(array<float>) -> double`
  *   - `graft_cosine(array<float>, array<float>) -> double`
  *   - `graft_lsh_bucket(array<float>, dims INT, n_planes INT[, family INT]) -> bigint`
  *   - `graft_winnow(text STRING, k INT, w INT) -> array<bigint>`
  *   - `graft_nfc(text STRING) -> string`
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectOptimizerRule(_ => SimplifySelfCosine)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "math_funcs", "4.0.0", "", "internal")

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got: $other")
  }

  private def arity(name: String, args: Seq[Expression], n: Int): Unit =
    require(args.length == n, s"$name expects $n arguments, got ${args.length}")

  /** (name, info, builder) triples the injector registers. */
  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_dot",
      info("graft_dot", "graft_dot(a, b) - dot product of two float vectors."),
      (args: Seq[Expression]) => { arity("graft_dot", args, 2); GraftDot(args(0), args(1)) }),
    ("graft_norm2",
      info("graft_norm2", "graft_norm2(a) - L2 norm of a float vector."),
      (args: Seq[Expression]) => { arity("graft_norm2", args, 1); GraftNorm2(args.head) }),
    ("graft_cosine",
      info("graft_cosine", "graft_cosine(a, b) - cosine similarity; NULL on zero norm."),
      (args: Seq[Expression]) => { arity("graft_cosine", args, 2); GraftCosine(args(0), args(1)) }),
    ("graft_lsh_bucket",
      info("graft_lsh_bucket",
        "graft_lsh_bucket(v, dims, n_planes[, family]) - sign-LSH bucket id " +
          "of a float vector; family selects an independent hyperplane " +
          "family (multi-table LSH; scaled by n_planes internally)."),
      (args: Seq[Expression]) => {
        require(args.length == 3 || args.length == 4,
          s"graft_lsh_bucket expects 3 or 4 arguments, got ${args.length}")
        GraftLshBucket(args.head,
          intLit(args(1), "dims"), intLit(args(2), "n_planes"),
          if (args.length == 4) intLit(args(3), "family") else 0)
      }),
    ("graft_winnow",
      info("graft_winnow",
        "graft_winnow(text, k, w) - winnowing rolling-hash fingerprints (MOSS)."),
      (args: Seq[Expression]) => {
        arity("graft_winnow", args, 3)
        GraftWinnow(args.head, intLit(args(1), "k"), intLit(args(2), "w"))
      }),
    ("graft_nfc",
      info("graft_nfc",
        "graft_nfc(text) - Unicode NFC (canonical composition) normalization."),
      (args: Seq[Expression]) => { arity("graft_nfc", args, 1); GraftNfc(args.head) }),
    ("graft_deflate_len",
      info("graft_deflate_len",
        "graft_deflate_len(text) - zlib-deflated byte length (compression-" +
          "ratio quality filter primitive)."),
      (args: Seq[Expression]) => {
        arity("graft_deflate_len", args, 1); GraftDeflateLen(args.head) }))
}
