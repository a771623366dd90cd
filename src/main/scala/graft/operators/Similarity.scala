package graft.operators

import graft.functions.{TextFunctions, VectorNative}
import graft.functions.VectorNative.{cosine, lshBucket}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column. Two paths per SURVEY.md §7.1(10):
  *   - brute-force cosine top-k — the exactness baseline; one scan, one
  *     TakeOrdered, no shuffle of the corpus itself;
  *   - sign-LSH bucketed top-k — the scale path: corpus is bucketed once by
  *     hyperplane signs (a map-side op), queries probe only their bucket,
  *     so a 100 TB corpus never meets an O(n·q) plan.
  */
object Similarity {

  /** Literal Column for a query vector (broadcast-by-literal: the vector is
    * folded into the plan, the idiomatic Spark shape for a single probe).
    */
  private def vecLit(v: Seq[Float]) = array(v.map(x => lit(x)): _*)

  /** Exact cosine top-k of `corpus` against one query vector. Ties broken by
    * id for determinism. Spark plans orderBy+limit as TakeOrderedAndProject —
    * a per-partition heap + driver merge, not a global sort.
    */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int): DataFrame =
    corpus
      .select(col(idCol), cosine(col(vecCol), vecLit(query)).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(idCol))
      .limit(k)

  /** LSH-bucketed ANN top-k: probe only the query's bucket(s), rank within.
    * Recall < 1 by construction; `nPlanes` trades recall for bucket size and
    * `nTables` OR-amplifies (a vector qualifies if it shares the query's
    * bucket in ANY of the `nTables` independent hyperplane families — the
    * standard multi-table LSH design: recall 1-(1-p^nPlanes)^nTables).
    * Each query-side bucket is folded to a LITERAL on the driver
    * ([[VectorNative.lshBucketOf]]), so the probe filter is nTables
    * long-compares per row on top of the corpus-side buckets — one map-only
    * scan, no explode, no extra shuffle.
    */
  def lshTopK(corpus: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], dims: Int, nPlanes: Int, k: Int,
      nTables: Int = 1): DataFrame = {
    require(nTables >= 1, s"nTables ($nTables) must be >= 1")
    val hit = (0 until nTables).map { t =>
      VectorNative.lshBucketOf(query, dims, nPlanes, t) match {
        case Some(qb) => lshBucket(col(vecCol), dims, nPlanes, t) === lit(qb)
        case None => lit(false) // malformed query matches nothing
      }
    }.reduce(_ || _)
    // the family-0 bucket is only meaningful as "the bucket that matched"
    // in the single-table case; with OR-amplification a row may have been
    // admitted by any table, so a family-0 column would mislabel it — omit
    val out =
      if (nTables == 1)
        Seq(col(idCol), lshBucket(col(vecCol), dims, nPlanes).as("bucket"),
          cosine(col(vecCol), vecLit(query)).as("cosine_sim"))
      else Seq(col(idCol), cosine(col(vecCol), vecLit(query)).as("cosine_sim"))
    corpus
      .where(hit)
      .select(out: _*)
      .orderBy(col("cosine_sim").desc, col(idCol))
      .limit(k)
  }

  /** All-pairs exact cosine above a threshold within LSH buckets — the
    * embedding-space near-dup operator (SURVEY §7.1(10) "embedding-cosine
    * near-dup"). Quadratic only within buckets. `nTables` OR-amplifies
    * recall (pair found if it collides in ANY independent hyperplane
    * family); candidates are deduped across tables before emission. The
    * per-row bucket array sits behind a barrier UDF so the posexplode
    * cannot be cloned into a pushed-down per-row filter (the measured-17×
    * InferFiltersFromGenerate pathology — see TextFunctions.arrayBarrier).
    */
  def cosineNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      dims: Int, nPlanes: Int, minSim: Double, maxBucket: Int = 200,
      nTables: Int = 1): DataFrame = {
    require(nTables >= 1, s"nTables ($nTables) must be >= 1")
    val b = corpus
      .select(
        struct(col(idCol).as("id"), col(vecCol).as("v")).as("iv"),
        TextFunctions.nullableLongArrayBarrier(array((0 until nTables).map { t =>
          lshBucket(col(vecCol), dims, nPlanes, t)
        }: _*)).as("bs"))
      .select(col("iv"), posexplode(col("bs")).as(Seq("t", "bucket")))
    PairGen.groupPairs(b, Seq("t", "bucket"), col("iv"), maxBucket)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosine(col("a.v"), col("b.v")).as("cosine_sim"))
      .where(col("cosine_sim") >= minSim)
      .distinct()
  }

  /** Fetch one stored vector to use as a probe (tiny driver-side action). */
  def vectorOf(spark: SparkSession, corpus: DataFrame, idCol: String,
      vecCol: String, id: Long): Seq[Float] =
    corpus.where(col(idCol) === id).select(col(vecCol))
      .head().getSeq[Float](0)

  /** Per-label mean vectors (class centroids) — the building block of
    * nearest-centroid classification, embedding-drift monitoring, and
    * cluster summarization. Computed in the flat-aggregate shape
    * [[Ivf.train]] uses: `dims` parallel `avg` aggregates with map-side
    * partial combine, so the shuffle carries one row per label × dims
    * COLUMNS — the corpus is never posexploded to rows × dims rows (that
    * shape is 64× the shuffle bytes at these dims). Output is long-format
    * `(label, dim, centroid)` — n_labels × dims rows, broadcast-sized for
    * the joins centroid consumers run. `try_element_at` keeps malformed
    * short vectors from throwing under ANSI mode; their missing dims
    * simply don't vote.
    */
  def labelCentroids(embeddings: DataFrame, labelCol: String,
      vecCol: String, dims: Int): DataFrame = {
    require(dims >= 1, s"dims must be positive, got $dims")
    val aggs = (0 until dims).map(j =>
      avg(try_element_at(col(vecCol), lit(j + 1))).as(s"__c$j"))
    embeddings.groupBy(col(labelCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(labelCol), posexplode(
        array((0 until dims).map(j => col(s"__c$j")): _*))
        .as(Seq("dim", "centroid")))
  }
}
