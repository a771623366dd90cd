package graft.operators

import graft.SparkSpec
import graft.functions.IvfTruth
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF coarse quantizer: k-means must separate well-separated clusters, and
  * probing the right cluster must reproduce the brute-force ranking.
  */
class IvfSpec extends SparkSpec {

  /** 3 well-separated 4-dim clusters of 20 points each, deterministic. */
  private def corpus: DataFrame = {
    import spark.implicits._
    val centers = Seq(
      Array(10f, 0f, 0f, 0f),
      Array(0f, 10f, 0f, 0f),
      Array(0f, 0f, 10f, 0f))
    (0L until 60L).map { i =>
      val c = centers((i % 3).toInt)
      val v = c.zipWithIndex.map { case (x, j) =>
        x + ((i * 7 + j * 3) % 5).toFloat / 10f   // small deterministic jitter
      }
      (i, v)
    }.toDF("vec_id", "embedding")
  }

  test("train separates well-separated clusters; assign is pure") {
    val model = Ivf.train(corpus, "vec_id", "embedding", k = 3, iters = 3)
    val assigned = Ivf.assign(corpus, "embedding", model)
    // every ground-truth cluster (vec_id mod 3) maps to exactly one learned
    // cluster, and the 3 learned clusters are distinct
    val m = assigned
      .groupBy((col("vec_id") % 3).as("truth"))
      .agg(countDistinct(col("cluster")).as("n"), first(col("cluster")).as("c"))
      .collect()
    assert(m.forall(_.getLong(1) == 1L), s"impure cluster: ${m.mkString(",")}")
    assert(m.map(_.getInt(2)).distinct.length === 3)
  }

  test("topK with the right probe matches brute force on its cluster") {
    val model = Ivf.train(corpus, "vec_id", "embedding", k = 3, iters = 3)
    val q = Seq(10f, 0.2f, 0.1f, 0f)   // near center 0
    val ivf = IvfTruth.topK(corpus, "vec_id", "embedding", model, q, nProbe = 1, k = 5)
      .select("vec_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect()
    val brute = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", q, 5)
      .select("vec_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect()
    assert(ivf.toSeq === brute.toSeq)
    // and they all come from ground-truth cluster 0
    assert(ivf.forall(_ % 3 == 0))
  }

  test("empty clusters keep their init centroid (k > natural clusters)") {
    val model = Ivf.train(corpus, "vec_id", "embedding", k = 5, iters = 2)
    assert(model.k === 5)
    assert(model.centroids.forall(_.length === 4))
    // probing with every cluster = exact brute force
    val q = Seq(0f, 10f, 0f, 0.3f)
    val all = IvfTruth.topK(corpus, "vec_id", "embedding", model, q, nProbe = 5, k = 7)
      .select("vec_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect()
    val brute = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", q, 7)
      .select("vec_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect()
    assert(all.toSeq === brute.toSeq)
  }

  test("train survives malformed (short) vectors under ANSI mode") {
    import spark.implicits._
    val mixed = corpus.union(
      Seq((999L, Array(1f, 2f))).toDF("vec_id", "embedding"))
    // must not throw (try_element_at + null-dim guard); clusters still form
    val model = Ivf.train(mixed, "vec_id", "embedding", k = 3, iters = 2)
    assert(model.k === 3 && model.centroids.forall(_.length === 4))
  }

  test("nearestClusters orders probes by true L2 distance") {
    val m = Ivf.Model(Array(
      Array(0f, 0f), Array(5f, 0f), Array(0f, 5f)))
    assert(m.nearestClusters(Seq(4f, 0f), 2) === Seq(1, 0))
    assert(m.nearestClusters(Seq(0f, 1f), 3) === Seq(0, 2, 1))
  }
}
