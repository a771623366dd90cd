package graft.operators

import graft.functions.{TextFunctions, VectorNative}
import graft.functions.VectorNative.{cosine, lshBucket}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

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

  /** Materialize the LSH index at rest: corpus partitioned by bucket, so a
    * probe is a PARTITION-PRUNED scan of ~1/2^nPlanes of the data
    * (StorageLayoutSpec asserts the PartitionFilters reach the scan). This
    * is the serving layout for the 100 TB corpus.
    */
  def writeIndex(corpus: DataFrame, idCol: String, vecCol: String,
      dims: Int, nPlanes: Int, path: String): Unit =
    corpus.select(col(idCol), col(vecCol),
        lshBucket(col(vecCol), dims, nPlanes).as("bucket"))
      // malformed vectors hash to a NULL bucket → they can never be probed
      // (bucket === qb excludes NULL) and would land in a
      // __HIVE_DEFAULT_PARTITION__ dir that poisons partition pruning —
      // same exclusion Ivf.writeClustered applies
      .where(col("bucket").isNotNull)
      .write.mode("overwrite").partitionBy("bucket").parquet(path)

  /** Probe a written index: reads ONLY the query's bucket partition (the
    * query bucket is folded to a literal so partition pruning compares a
    * constant, never re-evaluates the hash).
    */
  def probeIndex(spark: SparkSession, path: String, idCol: String,
      vecCol: String, query: Seq[Float], dims: Int, nPlanes: Int, k: Int): DataFrame = {
    val qb = VectorNative.lshBucketOf(query, dims, nPlanes)
      .map(lit(_)).getOrElse(lit(null))
    spark.read.parquet(path)
      .where(col("bucket") === qb)
      .select(col(idCol), col("bucket"),
        cosine(col(vecCol), vecLit(query)).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(idCol))
      .limit(k)
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

  /** Mean vector and sample covariance matrix of the embedding corpus —
    * the input to PCA, whitening, and Mahalanobis outlier scoring.
    *
    * Shape at 100 TB: ONE `mapPartitions` pass accumulates per partition
    * the count, the per-dim sums, and the upper-triangle raw product sums
    * (`dims·(dims+3)/2 + 1` doubles — ~2 KB at dims = 64), then a
    * `treeReduce` folds partitions in O(log P) rounds; only that fixed-size
    * accumulator ever moves, the corpus is never exploded to rows × dims
    * (4096× the bytes at these dims) or shuffled at all. This is the
    * sanctioned per-partition-imperative case: no DataFrame primitive
    * expresses a running dims×dims outer-product accumulation without the
    * explosion. Covariance derives as `(Σxy − n·μxμy) / (n−1)`.
    *
    * Float sums fold in partition order, so trailing double digits can
    * differ across partitionings — consumers needing cross-run bit-equality
    * snap to a tolerance (the spec gates 1e-6 agreement against the
    * relational certification form that `q_embed_cov`'s oracle replays).
    * Malformed vectors (wrong dims / NULL elements) are excluded up front,
    * mirroring [[Ivf.train]].
    */
  def covarianceMatrix(embeddings: DataFrame, vecCol: String,
      dims: Int): (Long, Array[Double], Array[Array[Double]]) = {
    require(dims >= 1, s"dims must be positive, got $dims")
    val tri = dims * (dims + 1) / 2
    // merge folds the right accumulator into the left in place — safe under
    // treeAggregate, which deserializes a fresh zero per partition
    val merge = (a: (Long, Array[Double], Array[Double]),
        b: (Long, Array[Double], Array[Double])) => {
      val (na, sa, pa) = a; val (nb, sb, pb) = b
      var i = 0
      while (i < dims) { sa(i) += sb(i); i += 1 }
      var t = 0
      while (t < tri) { pa(t) += pb(t); t += 1 }
      (na + nb, sa, pa)
    }
    val acc = embeddings
      .where(col(vecCol).isNotNull && !exists(col(vecCol), _.isNull) &&
        size(col(vecCol)) === dims)
      .select(col(vecCol))
      .rdd.mapPartitions { rows =>
        var n = 0L
        val sums = new Array[Double](dims)
        val prods = new Array[Double](tri)
        rows.foreach { r =>
          val v = r.getSeq[Float](0)
          n += 1
          var i = 0; var t = 0
          while (i < dims) {
            val xi = v(i).toDouble
            sums(i) += xi
            var j = i
            while (j < dims) { prods(t) += xi * v(j).toDouble; j += 1; t += 1 }
            i += 1
          }
        }
        Iterator.single((n, sums, prods))
      }
      // treeAggregate with a zero accumulator, not treeReduce: an input with
      // zero well-formed vectors must fall through to the require below with
      // its named message, not die in treeReduce's opaque "empty collection"
      .treeAggregate((0L, new Array[Double](dims), new Array[Double](tri)))(
        merge, merge)
    val (n, sums, prods) = acc
    require(n >= 2, s"covariance needs >= 2 well-formed vectors, got $n")
    val mean = sums.map(_ / n)
    val cov = Array.ofDim[Double](dims, dims)
    var i = 0; var t = 0
    while (i < dims) {
      var j = i
      while (j < dims) {
        val c = (prods(t) - n * mean(i) * mean(j)) / (n - 1)
        cov(i)(j) = c; cov(j)(i) = c
        j += 1; t += 1
      }
      i += 1
    }
    (n, mean, cov)
  }

  /** Top-`k` principal components of a (small, driver-resident) covariance
    * matrix via power iteration with Gram–Schmidt deflation — dims×dims is
    * k-centroid-sized (64×64 = 32 KB), so like [[Ivf.train]]'s maxmin
    * refinement this is driver math by design; the distributed work already
    * happened in [[covarianceMatrix]]. Deterministic: the start vector is
    * the normalized diagonal-max basis vector, no RNG. Returns
    * (eigenvalues desc, row-per-component eigenvectors, unit L2 norm, first
    * nonzero coordinate positive for sign stability).
    */
  def pcaTopK(cov: Array[Array[Double]], k: Int,
      iters: Int = 200): (Array[Double], Array[Array[Double]]) = {
    val d = cov.length
    require(k >= 1 && k <= d, s"k ($k) must be in [1, $d]")
    def matVec(m: Array[Array[Double]], v: Array[Double]): Array[Double] =
      Array.tabulate(d) { i =>
        var s = 0.0; var j = 0
        while (j < d) { s += m(i)(j) * v(j); j += 1 }
        s
      }
    def dotv(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var j = 0
      while (j < d) { s += a(j) * b(j); j += 1 }
      s
    }
    def norm(v: Array[Double]): Double = math.sqrt(dotv(v, v))
    val m = cov.map(_.clone())
    val vals = new Array[Double](k)
    val vecs = Array.ofDim[Double](k, d)
    for (c <- 0 until k) {
      // deterministic start: basis vector of the current matrix's largest
      // diagonal entry (always has a component along the top eigenvector
      // unless that diagonal is exactly zero — then the matrix is zero in
      // every remaining direction and the loop below yields eigenvalue 0)
      val start = (0 until d).maxBy(i => m(i)(i))
      var v = Array.tabulate(d)(i => if (i == start) 1.0 else 0.0)
      var lambda = 0.0
      var it = 0
      while (it < iters) {
        val w = matVec(m, v)
        // re-orthogonalize against the components already found: deflation
        // alone leaves O(convergence-error) leakage between close
        // eigenvalues; explicit Gram–Schmidt per step pins orthogonality
        // to machine precision
        var p = 0
        while (p < c) {
          val proj = dotv(w, vecs(p))
          var j = 0
          while (j < d) { w(j) -= proj * vecs(p)(j); j += 1 }
          p += 1
        }
        val nw = norm(w)
        if (nw < 1e-300) { it = iters } // zero direction: eigenvalue 0
        else { v = w.map(_ / nw); lambda = nw; it += 1 }
      }
      // sign convention: first coordinate with |x| > 1e-12 is positive
      val flip = v.find(math.abs(_) > 1e-12).exists(_ < 0)
      if (flip) v = v.map(-_)
      vals(c) = lambda
      vecs(c) = v
      // deflate: m ← m − λ v vᵀ
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) { m(i)(j) -= lambda * v(i) * v(j); j += 1 }
        i += 1
      }
    }
    (vals, vecs)
  }

  /** Project embeddings onto driver-resident components (rows of
    * `components`): map-only, each output coordinate one native-dot against
    * a literal vector inside codegen — the dimensionality-reduction front
    * end an ANN index runs before bucketing. Output `(…, projection)` with
    * `projection[c] = (v − mean)·components[c]`.
    */
  def project(embeddings: DataFrame, idCol: String, vecCol: String,
      mean: Array[Double], components: Array[Array[Double]]): DataFrame = {
    val centered = components.map { comp =>
      // fold the mean shift into a bias: (v − μ)·c = v·c − μ·c
      val bias = comp.indices.map(j => mean(j) * comp(j)).sum
      (comp, bias)
    }
    val projs = centered.map { case (comp, bias) =>
      VectorNative.dot(col(vecCol), vecLit(comp.map(_.toFloat).toSeq)) - lit(bias)
    }
    embeddings.select(col(idCol), array(projs: _*).as("projection"))
  }
}
