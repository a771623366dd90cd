package graft

import graft.extensions.GraftExtensions

/** docs/SQL.md is the user-facing SQL-surface document (VERDICT r9 #5);
  * this gate keeps it honest the same way CatalogSpec keeps the README
  * catalog honest: every fenced ```sql block is executed verbatim against
  * the registered sf0.001 views + graft_* functions (an example that
  * stops parsing or returns nothing fails by block number), and the
  * function table between the markers must list exactly the functions
  * [[GraftExtensions.functions]] registers — a function added or renamed
  * without a doc row fails by name.
  */
class SqlDocSpec extends SparkSpec {

  private lazy val doc: String = new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("docs/SQL.md")),
    "UTF-8")

  private lazy val ready: Unit = Tables.registerAll(spark, "/root/testdata/sf0.001")

  test("every SQL example in docs/SQL.md runs and returns rows") {
    ready
    val blocks = "(?s)```sql\\n(.*?)```".r
      .findAllMatchIn(doc).map(_.group(1).trim).toList
    assert(blocks.size >= 8, s"expected the worked examples, found ${blocks.size}")
    blocks.zipWithIndex.foreach { case (sql, i) =>
      val rows =
        try spark.sql(sql).collect()
        catch {
          case e: Throwable =>
            fail(s"SQL example #${i + 1} failed: ${e.getMessage}\n$sql")
        }
      assert(rows.nonEmpty, s"SQL example #${i + 1} returned no rows:\n$sql")
    }
  }

  test("every query count stated in the doc equals the declared surface " +
    "(VERDICT r10 #3 — the CatalogSpec convention for count prose)") {
    val counts = "(\\d+)(?=-query catalog| as of round)".r
      .findAllIn(doc).map(_.toInt).toList
    assert(counts.size >= 2, s"expected the two count-prose spots, found $counts")
    counts.foreach(c => assert(c == SparkEntry.queries.size,
      s"docs/SQL.md states $c queries; SparkEntry declares " +
        s"${SparkEntry.queries.size}"))
  }

  test("the function table lists exactly the registered graft_* functions") {
    val begin = doc.indexOf("<!-- functions:begin -->")
    val end = doc.indexOf("<!-- functions:end -->")
    assert(begin >= 0 && end > begin, "function-table markers missing")
    val listed = "`(graft_[a-z0-9_]+)`".r
      .findAllMatchIn(doc.substring(begin, end)).map(_.group(1)).toSet
    val registered = GraftExtensions.functions.map(_._1).toSet
    assert(listed == registered,
      s"doc vs registry drift: doc-only=${listed.diff(registered)}, " +
        s"registry-only=${registered.diff(listed)}")
  }
}
