package graft

import org.apache.spark.sql.functions._

/** The plan-drift tripwire (VERDICT r5 #3): every declared query's
  * canonicalized physical-plan fingerprint is pinned against a committed
  * snapshot, so a silent strategy flip ANYWHERE in the inventory — a
  * broadcast collapsing to a shuffle join, a lost pushdown growing an extra
  * exchange, a new sort — fails loudly even where PlanSpec pins nothing.
  * Deliberate plan changes regenerate the snapshot
  * (`sbt "Test/runMain graft.PlanHashSnapshot"`) in the same commit.
  */
class PlanHashSpec extends SparkSpec {

  private def snapshot: Map[String, String] = {
    val src = scala.io.Source.fromFile(PlanHashSnapshot.snapshotPath, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(n, h) = l.split("\t"); n -> h
    }.toMap
    finally src.close()
  }

  test("every declared query's canonicalized plan matches the committed " +
    "snapshot (regenerate deliberately via PlanHashSnapshot)") {
    // suite-order independence: a cached fragment left by another suite in
    // the shared session would substitute InMemoryRelation into matching
    // plans and shift their fingerprints
    spark.catalog.clearCache()
    val expected = snapshot
    val names = SparkEntry.orderedQueryNames
    assert(expected.keySet == names.toSet,
      s"query inventory changed vs snapshot: +${names.toSet -- expected.keySet} " +
        s"-${expected.keySet -- names.toSet} — regenerate the snapshot")
    val drifted = names.flatMap { n =>
      val df = SparkEntry.queries(n)(spark, PlanHashSnapshot.sfDir)
      val got = PlanHash.hash(df)
      if (got == expected(n)) None
      else {
        // dump the canonical text so the diff is diagnosable, not just a hash
        val out = java.nio.file.Paths.get(s"target/plan_drift/$n.txt")
        java.nio.file.Files.createDirectories(out.getParent)
        java.nio.file.Files.write(out, PlanHash.canonical(df).getBytes("UTF-8"))
        Some(s"$n (expected ${expected(n)}, got $got)")
      }
    }
    assert(drifted.isEmpty,
      s"plan drift in ${drifted.size} queries (canonical dumps in " +
        s"target/plan_drift/): ${drifted.mkString("; ")}")
  }

  test("fingerprint is volatility-invariant: same query at different scale " +
    "factors (different paths, sizes, literals) hashes identically") {
    for (q <- Seq("q_agg_star", "q_sim_bruteforce", "q_dedup_minhash")) {
      val a = PlanHash.hash(SparkEntry.queries(q)(spark, "/root/testdata/sf0.001"))
      val b = PlanHash.hash(SparkEntry.queries(q)(spark, "/root/testdata/sf0.01"))
      assert(a == b, s"$q fingerprint leaked scale-dependent volatility")
    }
  }

  test("fingerprint sees an expression change: the native graft_norm2 and " +
    "its higher-order-function spelling hash differently") {
    val df = spark.range(4).select(array(col("id").cast("float"), lit(1f)).as("v"))
    val native = df.select(graft.functions.VectorNative.norm2(col("v")).as("n"))
    val truth = df.select(graft.functions.VectorTruth.norm2(col("v")).as("n"))
    assert(PlanHash.canonical(native).contains("graft_norm2"), PlanHash.canonical(native))
    assert(PlanHash.hash(native) != PlanHash.hash(truth),
      "canonicalization erased a native-to-HOF expression swap")
  }

  test("tripwire catches an intentional strategy break (broadcast join " +
    "degraded to shuffle join)") {
    val fact = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    val dim = Tables.load(spark, "/root/testdata/sf0.001", "customer")
    val good = fact.join(broadcast(dim),
      fact("o_custkey") === dim("c_custkey"))
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val broken = fact.join(dim, fact("o_custkey") === dim("c_custkey"))
      assert(PlanHash.canonical(good) != PlanHash.canonical(broken),
        "canonicalization erased a broadcast-vs-shuffle strategy flip")
      assert(PlanHash.hash(good) != PlanHash.hash(broken))
      assert(PlanHash.canonical(broken).contains("SortMergeJoin") ||
        PlanHash.canonical(broken).contains("ShuffledHashJoin"))
      assert(PlanHash.canonical(good).contains("BroadcastHashJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }
}
