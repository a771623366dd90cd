package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unicode normalization gates: NFC composition (incl. canonical
  * REORDERING of stacked combining marks), zero-width/control stripping,
  * non-ASCII case folding, codegen compilation of the native GraftNfc, and
  * the composition that motivates the operator: a rendering-invariant
  * document fingerprint. All non-ASCII content is unicode-escaped so the
  * codepoints under test are unambiguous in review.
  */
class NormalizeSpec extends SparkSpec {
  import spark.implicits._

  private def norm1(s: String): String =
    Seq(Tuple1(s)).toDF("t")
      .select(TextFunctions.normalizeText(col("t"))).head().getString(0)

  test("NFD and NFC renderings of one document normalize identically") {
    val nfd = "Cafe\u0301 A\u030Angstro\u0308m"
    val nfc = "Caf\u00E9 \u00C5ngstr\u00F6m"
    assert(norm1(nfd) === norm1(nfc))
    assert(norm1(nfd) === "caf\u00E9 \u00E5ngstr\u00F6m")
  }

  test("stacked combining marks canonically reorder, not just compose") {
    // E + macron + dot-below: NFC must SORT dot-below (ccc 220) before
    // macron (ccc 230), compose E+dot-below (U+1EB8), and carry the
    // macron -- a composition-only implementation gets this wrong
    assert(norm1("E\u0304\u0323") === "\u1EB9\u0304")
    // same content entered with marks already composed+ordered agrees
    assert(norm1("\u1EB8\u0304") === "\u1EB9\u0304")
  }

  test("zero-width and C0/DEL controls strip; tab/newline/CR survive") {
    assert(norm1("a\u200Bb\u200C\u200D\uFEFFc\u0001\u001F\u007Fd") === "abcd")
    assert(norm1("a\tb\nc\rd") === "a\tb\nc\rd")
  }

  test("case folds beyond ASCII: Latin-1, Cyrillic, Greek, fullwidth") {
    assert(norm1("\u00C9\u0414\u0391\uFF21z") === "\u00E9\u0434\u03B1\uFF41z")
  }

  test("NULL text stays NULL (never empty string)") {
    val r = Seq(Tuple1(null: String)).toDF("t")
      .select(TextFunctions.normalizeText(col("t"))).head()
    assert(r.isNullAt(0))
  }

  test("graft_nfc compiles inside whole-stage codegen under fallback=false") {
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      // Range source (LocalTableScan never codegens) through the SQL-
      // registered name -- the injector path Verify/Bench use; the NFD
      // suffix (e + combining acute) must come out composed (U+00E9)
      val out = spark.range(3)
        .selectExpr("graft_nfc(concat('x', id, 'e\u0301')) AS n")
        .orderBy("n").collect().map(_.getString(0))
      assert(out === Array("x0\u00E9", "x1\u00E9", "x2\u00E9"))
      val plan = spark.range(3)
        .selectExpr("graft_nfc(concat('x', id)) AS n")
        .queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(l =>
        l.contains("graft_nfc") && l.trim.startsWith("*(")))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("fingerprintPortable over normalizeText is rendering-invariant") {
    val variants = Seq(
      (1L, "Caf\u00E9 BRULEE"),          // NFC, upper
      (2L, "Cafe\u0301 brulee"),          // NFD, lower
      (3L, "Caf\u00E9\u200B brulee\uFEFF")) // invisibles injected
    val df = variants.toDF("id", "t")
    val fps = df.select(TextFunctions.fingerprintPortable(
      TextFunctions.normalizeText(col("t"))).as("fp"))
      .distinct().count()
    assert(fps === 1, "normalized fingerprints must collapse the renderings")
    // and WITHOUT normalization they genuinely differ (the operator does work)
    val raw = df.select(TextFunctions.fingerprintPortable(col("t")).as("fp"))
      .distinct().count()
    assert(raw === 3)
  }

  test("sqlStringLit: printable ASCII stays literal, the rest becomes chr()") {
    assert(TextFunctions.sqlStringLit("abc") === "'abc'")
    assert(TextFunctions.sqlStringLit("a\u00E9b") === "'a' || chr(233) || 'b'")
    assert(TextFunctions.sqlStringLit("it's") === "'it' || chr(39) || 's'")
    assert(TextFunctions.sqlStringLit("") === "''")
    // astral char renders as ONE code point, never two surrogate halves
    assert(TextFunctions.sqlStringLit("\uD83D\uDE00") === "chr(128512)")
  }
}
