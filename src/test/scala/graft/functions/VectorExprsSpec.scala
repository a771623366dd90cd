package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The native codegen vector expressions must be drop-in replacements for
  * the HOF forms: same arithmetic order, same NULL conventions — asserted
  * here as exact (bitwise) equality, not approximate.
  */
class VectorExprsSpec extends SparkSpec {

  private def vecs: DataFrame = {
    import spark.implicits._
    // deterministic pseudo-random 8-dim float vectors incl. a zero vector
    val rows = (0L until 50L).map { i =>
      val v = Array.tabulate(8)(j =>
        if (i == 7) 0f else ((i * 31 + j * 17) % 23 - 11).toFloat / 7f)
      (i, v)
    }
    rows.toDF("id", "v")
  }

  private def pairs: DataFrame =
    vecs.as("a").crossJoin(vecs.toDF("id2", "w").as("b"))

  test("native dot == HOF dot, exactly") {
    val d = pairs.select(
      VectorTruth.dot(col("v"), col("w")).as("hof"),
      VectorNative.dot(col("v"), col("w")).as("nat"))
    assert(d.where(col("hof") =!= col("nat")).count() === 0)
    assert(d.where(col("nat").isNull).count() === 0)
  }

  test("native cosine == HOF cosine, incl. zero-norm -> NULL") {
    val d = pairs.select(col("id"), col("id2"),
      VectorTruth.cosine(col("v"), col("w")).as("hof"),
      VectorNative.cosine(col("v"), col("w")).as("nat"))
    assert(d.where(col("hof") =!= col("nat")).count() === 0)
    assert(d.where(col("hof").isNull =!= col("nat").isNull).count() === 0)
    // the zero vector (id 7) pairs with everything as NULL
    assert(d.where(col("id") === 7 && col("nat").isNotNull).count() === 0)
  }

  test("native norm2 == HOF norm2") {
    val d = vecs.select(
      VectorTruth.norm2(col("v")).as("hof"),
      VectorNative.norm2(col("v")).as("nat"))
    assert(d.where(col("hof") =!= col("nat")).count() === 0)
  }

  test("native lsh bucket == HOF lsh bucket for every (dims, nPlanes) used") {
    for (nPlanes <- Seq(4, 6, 16)) {
      val d = vecs.select(
        VectorTruth.lshBucket(col("v"), 8, nPlanes).as("hof"),
        VectorNative.lshBucket(col("v"), 8, nPlanes).as("nat"))
      assert(d.where(col("hof") =!= col("nat")).count() === 0,
        s"mismatch at nPlanes=$nPlanes")
    }
  }

  test("family index: native == HOF, families are independent, and the " +
    "driver-side lshBucketOf folds to the same bucket") {
    for (off <- Seq(0, 4, 8)) {
      val d = vecs.select(
        VectorTruth.lshBucket(col("v"), 8, 4, off).as("hof"),
        VectorNative.lshBucket(col("v"), 8, 4, off).as("nat"))
      assert(d.where(col("hof") =!= col("nat")).count() === 0,
        s"mismatch at family=$off")
    }
    // families use disjoint hyperplane-index ranges (scaled by nPlanes inside) → bucketings must differ
    // somewhere (identical everywhere would mean the offset is ignored)
    val two = vecs.select(
      VectorNative.lshBucket(col("v"), 8, 4, 0).as("t0"),
      VectorNative.lshBucket(col("v"), 8, 4, 4).as("t1"))
    assert(two.where(col("t0") =!= col("t1")).count() > 0,
      "family=4 produced the identical bucketing as family=0")
    // driver-side fold == distributed evaluation, per offset
    val probe = Seq(0.5f, -1f, 2f, 0.25f, -0.75f, 1f, -2f, 0.125f)
    for (off <- Seq(0, 4)) {
      val lit = graft.functions.VectorNative.lshBucketOf(probe, 8, 4, off)
      val dist = spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(probe)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType, containsNull = false)))))
        .select(VectorNative.lshBucket(col("v"), 8, 4, off)).head()
      assert(lit === Some(dist.getLong(0)), s"fold mismatch at offset $off")
    }
    // malformed query (wrong dims) folds to None, matching the NULL column
    assert(graft.functions.VectorNative.lshBucketOf(Seq(1f, 2f), 8, 4).isEmpty)
  }

  test("NULL element yields NULL (matching HOF null-poisoning), never 0.0") {
    import spark.implicits._
    val df = Seq(
      (Seq(Some(1f), None, Some(2f)), Seq(Some(1f), Some(1f), Some(1f))),
      (Seq(Some(1f), Some(2f), Some(3f)), Seq(Some(2f), Some(2f), Some(2f))))
      .toDF("v", "w")
    val r = df.select(
      VectorNative.dot(col("v"), col("w")).as("nd"),
      VectorTruth.dot(col("v"), col("w")).as("hd"),
      VectorNative.cosine(col("v"), col("w")).as("nc"),
      VectorTruth.cosine(col("v"), col("w")).as("hc"),
      VectorNative.norm2(col("v")).as("nn"),
      VectorTruth.norm2(col("v")).as("hn"),
      VectorNative.lshBucket(col("v"), dims = 3, nPlanes = 4).as("nb"))
      .collect()
    val withNull = r(0)
    assert(withNull.isNullAt(0) && withNull.isNullAt(1)) // dot: both NULL
    assert(withNull.isNullAt(2) && withNull.isNullAt(3)) // cosine: both NULL
    assert(withNull.isNullAt(4) && withNull.isNullAt(5)) // norm2: both NULL
    assert(withNull.isNullAt(6))                         // native bucket NULL
    val clean = r(1)
    assert(!clean.isNullAt(0) && clean.getDouble(0) === 12.0)
    assert(!clean.isNullAt(6))
  }

  test("length-mismatch yields NULL (dot/cosine) and NULL bucket") {
    import spark.implicits._
    val df = Seq((Array(1f, 2f), Array(1f, 2f, 3f))).toDF("v", "w")
    val r = df.select(
      VectorNative.dot(col("v"), col("w")),
      VectorNative.cosine(col("v"), col("w")),
      VectorNative.lshBucket(col("v"), dims = 3, nPlanes = 4)).head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("SQL registration: graft_* callable from spark.sql") {
    vecs.createOrReplaceTempView("vexprs_vecs")
    val rows = spark.sql(
      """SELECT id,
        |       graft_dot(v, v)  AS d,
        |       graft_norm2(v)   AS n,
        |       graft_cosine(v, v) AS c,
        |       graft_lsh_bucket(v, 8, 6) AS b
        |FROM vexprs_vecs WHERE id IN (0, 7)
        |ORDER BY id""".stripMargin).collect()
    val Array(r0, r7) = rows
    assert(math.abs(r0.getDouble(3) - 1.0) < 1e-12)   // cos(v,v)=1
    assert(r7.isNullAt(3))                             // zero vector -> NULL
    assert(r7.getDouble(1) === 0.0 && r7.getDouble(2) === 0.0)
    assert(!r0.isNullAt(4))
  }

  test("codegen plan: native cosine stays inside WholeStageCodegen") {
    // LocalTableScan inputs never codegen; use a Range source so the plan
    // shape reflects what a parquet scan would produce.
    val df = spark.range(100).select(
      transform(sequence(lit(0), lit(7)),
        j => (j + col("id")).cast("float")).as("v"))
    val plan = df
      .select(VectorNative.cosine(col("v"), reverse(col("v"))).as("c"))
      .queryExecution.executedPlan.toString
    // `*(n)` marks a WholeStageCodegen span in the compact plan string —
    // the Project evaluating graft_cosine must carry it
    assert(plan.linesIterator.exists(l =>
      l.contains("graft_cosine") && l.trim.startsWith("*(")))
    // and it evaluates without codegen fallback errors
    assert(df.select(VectorNative.cosine(col("v"), reverse(col("v"))))
      .where(col("graft_cosine(v, reverse(v))").isNotNull).count() === 100)
  }

  test("non-nullable inputs COMPILE: graft_norm2 over a containsNull=false " +
    "array must not fall back to interpreted execution") {
    // regression (r8): with a non-nullable child and containsNull=false
    // elements GraftNorm2.nullable is false, nullSafeCodeGen never declares
    // the isNull variable, and a template referencing ${ev.isNull}
    // unconditionally produced invalid Java — Janino rejected the class and
    // EVERY query containing the expression silently ran interpreted.
    // spark.sql.codegen.fallback=false turns that silent fallback into a
    // loud failure so the gate is real.
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val rows = spark.range(3).selectExpr(
        "graft_norm2(array(CAST(id AS FLOAT), CAST(4.0 AS FLOAT))) AS n")
        .orderBy("n").collect().map(_.getDouble(0))
      assert(rows.length === 3 && math.abs(rows(0) - 4.0) < 1e-12)
      // the SimplifySelfCosine rewrite path that surfaced the bug
      assert(spark.range(2).selectExpr(
        "graft_cosine(array(CAST(id + 3 AS FLOAT)), array(CAST(id + 3 AS FLOAT))) AS c")
        .collect().forall(_.getDouble(0) == 1.0))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }
}
