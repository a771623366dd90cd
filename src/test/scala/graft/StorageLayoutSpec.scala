package graft

import graft.functions.IvfTruth
import graft.operators.Similarity
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** At-rest layout claims from SCALE.md, proven at plan level:
  *   - a selective dim predicate pushes a runtime bloom filter into the
  *     fact side of a shuffle join;
  *   - an LSH index written partitionBy(bucket) and an IVF index written
  *     partitionBy(cluster) probe via partition pruning → the scan reads
  *     the probed directories, not the corpus.
  */
class StorageLayoutSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  test("runtime bloom filter from a selective dim predicate prunes the fact " +
    "side of a shuffle join") {
    // the row-level sibling of DPP: when the fact ISN'T partitioned on the
    // join key, a bloom filter built from the filtered dim's keys is pushed
    // into the fact scan so non-matching rows die before the exchange —
    // at 100 TB this is the difference between shuffling the whole fact and
    // shuffling the ~matching slice
    val dir = SparkSpec.tempDir("graft_bloom_").toString
    Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .write.parquet(s"$dir/orders")
    Tables.load(spark, sf, "customer")
      .select("c_custkey", "c_mktsegment")
      .write.parquet(s"$dir/customer")

    val confs = Seq(
      // local testdata is tiny — drop the size gates so the rule fires the
      // way it would on a 100 TB application side
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = spark.read.parquet(s"$dir/orders")
      val dim = spark.read.parquet(s"$dir/customer")
        .where(col("c_mktsegment") === "BUILDING")
      val j = fact.join(dim, col("o_custkey") === col("c_custkey"))
      j.collect()
      val plan = finalPlan(j.queryExecution.executedPlan).toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter on the fact side:\n$plan")
      // semantics unchanged vs the unfiltered-planner join
      val expected = Tables.load(spark, sf, "orders")
        .join(Tables.load(spark, sf, "customer")
          .where(col("c_mktsegment") === "BUILDING"),
          col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "c_custkey", "c_mktsegment")
      val got = j.select(expected.columns.toIndexedSeq.map(col): _*)
      assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("IVF clustered index probe is a partition-pruned scan matching " +
    "the in-memory topK") {
    import graft.operators.Ivf
    val emb = Tables.load(spark, sf, "embeddings")
    val model = Ivf.train(emb, "vec_id", "embedding", k = 4, iters = 2)
    val path = "target/ivf_index_test"
    Ivf.writeClustered(emb, "vec_id", "embedding", model, path)
    val q = Similarity.vectorOf(spark, emb, "vec_id", "embedding", 0L)

    val probe = Ivf.probeClustered(spark, path, "vec_id", "embedding",
      q, nProbe = 2, k = 10)
    val scan = probe.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cluster"),
      s"IVF probe not partition-pruned:\n$scan")

    // probing the written layout ≡ probing the in-memory model: the
    // round-tripped centroids pick the same clusters and the pruned scan
    // ranks the same vectors
    val direct = IvfTruth.topK(emb, "vec_id", "embedding", model, q, nProbe = 2, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val pruned = probe.select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(pruned === direct)
  }
}
