package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** graft_deflate_len / compressRatio — the compression-ratio quality
  * filter primitive. Cross-engine value oracles are impossible (zlib
  * output is a JVM property), so the gates here are behavioral: known
  * compressibility orderings, codegen compilation, and NULL/empty lanes.
  */
class DeflateSpec extends SparkSpec {

  import spark.implicits._

  test("deflateLen orders by compressibility and is a pure function") {
    def len(s: String): Int =
      Seq(s).toDF("t").select(TextFunctions.deflateLen($"t")).head().getInt(0)
    val repetitive = "ab" * 500          // 1000 bytes of period-2 text
    val prose = ("the quick brown fox jumps over the lazy dog " * 23)
      .take(1000)                        // natural-ish, longer period
    // a 1000-hex-char md5 chain: pseudorandom over 16 symbols
    val hexy = Iterator.iterate("seed")(s =>
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString).drop(1).take(32).mkString.take(1000)
    val (lr, lp, lh) = (len(repetitive), len(prose), len(hexy))
    assert(lr < 30, s"period-2 text should crush: $lr")
    assert(lr < lp && lp < lh, s"ordering violated: $lr, $lp, $lh")
    assert(lh < 1000, s"hex is 4-bit entropy, must still compress: $lh")
    // purity: same input, same length, every call
    assert(len(repetitive) == lr && len(hexy) == lh)
  }

  test("compressRatio: NULL on empty/NULL text, bounded on real text") {
    val rows = Seq(Option("x" * 100), Option(""), Option.empty[String])
      .toDF("t").select(TextFunctions.compressRatio($"t")).collect()
    assert(!rows(0).isNullAt(0) && rows(0).getDouble(0) > 0.0)
    assert(rows(1).isNullAt(0), "empty text must be NULL, not 0")
    assert(rows(2).isNullAt(0))
  }

  test("graft_deflate_len compiles inside whole-stage codegen under " +
    "fallback=false") {
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val out = spark.range(3)
        .selectExpr("graft_deflate_len(repeat(concat('x', id), 200)) AS n")
        .collect().map(_.getInt(0))
      assert(out.forall(n => n > 0 && n < 60),
        s"repeated strings must crush under deflate: ${out.toSeq}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }
}
