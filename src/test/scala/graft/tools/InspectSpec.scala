package graft.tools

import graft.SparkSpec
import graft.queries.ExtQueries

/** [[Inspect]]'s three modes on a declared query and on an `_operator`
  * twin, run on the suite's shared session — which Inspect must leave
  * running.
  */
class InspectSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val names = Seq("q_agg_star", "q_dedup_simhash_operator")
  private val countLine =
    """\[plan\] (\S+): fileScans=(\d+) exchanges=(\d+) reused=(\d+) """ +
      """inMemScans=(\d+) wscgSpans=(\d+)"""

  test("resolve: declared names first, then bare or suffixed twins") {
    val twin = ExtQueries.operatorOnly("q_dedup_simhash")
    assert(Inspect.resolve("q_dedup_simhash_operator") eq twin)
    assert(!(Inspect.resolve("q_dedup_simhash") eq twin))
    assert(intercept[RuntimeException](Inspect.resolve("q_nope"))
      .getMessage.contains("unknown query: q_nope"))
  }

  test("explain: count line, then the formatted plan") {
    names.foreach { name =>
      val out = Inspect.explain(spark, sf, name)
      val head = out.linesIterator.next()
      val m = countLine.r.findFirstMatchIn(head)
        .getOrElse(fail(s"no count line: $head"))
      assert(m.group(1) == name && m.group(2).toInt > 0, head)
      assert(out.contains("== Physical Plan =="), out)
    }
    assert(!spark.sparkContext.isStopped)
  }

  test("executed: count line, then the final adaptive plan") {
    names.foreach { name =>
      val out = Inspect.executed(spark, sf, name)
      val head = out.linesIterator.next()
      assert(head.matches(countLine) && head.contains(s" $name: "), head)
      // query stages exist only in a plan AQE has executed
      assert(out.contains("QueryStage"), out)
      assert(!out.contains("isFinalPlan=false"), out)
    }
    assert(!spark.sparkContext.isStopped)
  }

  test("time: one noop-sink run per repeat, positive median") {
    names.foreach { name =>
      val ts = Inspect.time(spark, sf, name, repeats = 1)
      assert(ts.size == 1 && Inspect.median(ts) > 0, ts)
    }
    assert(!spark.sparkContext.isStopped)
  }
}
