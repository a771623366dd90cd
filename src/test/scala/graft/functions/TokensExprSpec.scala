package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[graft.functions.expr.GraftTokens]] must be bit-equal to the
  * declarative chain it replaced as the engine's universal tokenizer:
  * `filter(split(lower(text), "\\s+"), t => length(t) > 0)` — same tokens,
  * same order, same lowercase bytes, same NULL/empty handling — on
  * adversarial text shapes AND on the real sf0.001 corpus.
  */
class TokensExprSpec extends SparkSpec {

  import spark.implicits._
  import TextFunctions._
  import TokensTruth.tokensDeclarative

  private val fixtures = Seq(
    "The Quick Brown Fox",
    "  leading and trailing  ",
    "\t tabs\tand\nnewlines \r\n mixed  vertical \f formfeed",
    "",                                   // empty text -> empty array
    " \t\n ",                             // all-whitespace -> empty array
    "single",
    "ÜNÏCODE Tökens ÊTRE Straße ΑΒΓ ЖУРНАЛ", // non-ASCII lowercasing
    "non breaking space stays one token", // \s is ASCII-only
    "a  b   c    d",                      // multi-space runs
    "ünïcode　ideographic space is not \\s either",
    (1 to 500).map(i => s"W${i % 31}").mkString("  ") // long doc
  )

  test("fixture shapes: native tokens equal the declarative chain") {
    val df = fixtures.toDF("text").select(
      tokens(col("text")).as("nat"),
      tokensDeclarative(col("text")).as("chain"))
    val bad = df.where(not(col("nat") <=> col("chain"))).collect()
    assert(bad.isEmpty, s"diverged on: ${bad.mkString("; ")}")
  }

  test("declared types match the chain exactly (nullability flows downstream)") {
    val df = fixtures.toDF("text").select(
      tokens(col("text")).as("nat"),
      tokensDeclarative(col("text")).as("chain"))
    assert(df.schema("nat").dataType == df.schema("chain").dataType)
    assert(df.schema("nat").nullable == df.schema("chain").nullable)
  }

  test("real corpus (sf0.001 documents): bit-equal token arrays on every doc") {
    val d = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val bad = d.select(col("doc_id"),
        tokens(col("text")).as("nat"),
        tokensDeclarative(col("text")).as("chain"))
      .where(not(col("nat") <=> col("chain")))
      .count()
    assert(bad == 0, s"$bad docs diverged from the declarative chain")
  }

  test("NULL text yields NULL, like the chain") {
    val r = Seq((1L, null: String)).toDF("id", "text")
      .select(tokens(col("text")).as("nat"),
        tokensDeclarative(col("text")).as("chain"))
      .head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("codegen path stays compiled (no silent interpreted fallback)") {
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val out = fixtures.toDF("text")
        .select(explode(tokens(col("text"))).as("t"))
        .count()
      assert(out > 0)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
