package graft.tools

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.functions._

/** Dev-only shakeout-corpus generator (r13, VERDICT r12 #5): multiplies the
  * DOCUMENT/EMBEDDING tables ×m from a base SF dir — the heavy families are
  * all corpus-side — and symlinks the other tables unchanged (facts stay at
  * the base scale). Ids shift by c·10⁷ (the base ids stay < 10⁷);
  * embeddings get the seedless sin(id, copy, dim)·0.05 perturbation
  * (the embTimes convention); `n_chars` is recomputed as length(text) so
  * columns that derive fixture parameters from it stay consistent;
  * `lang`/`source`/`label` carry from the base row.
  *
  * Text copies suffix EVERY whitespace token with a copy marker
  * (`foo` → `foo_c17`) rather than appending one trailing token (the
  * docsTimes m ≤ 4 convention): a trailing token leaves every internal
  * shingle byte-identical across copies, so shingle document frequency
  * multiplies ×m and at m ≫ maxDf the whole rare-feature family
  * (jaccard/containment/winnow candidates, maxDf = 20) degenerates to ZERO
  * pairs — the first sf10 ladder measured exactly that (45 s of shingle
  * exchange, pairs=0). Per-token suffixes keep copies one-token-per-token
  * isomorphic to the base doc, so each copy reproduces the base pair
  * structure at base df (total pairs ≈ m × base — the linear shape of a
  * genuinely bigger crawl), and cross-copy shingle overlap is zero.
  * Copy 0 stays byte-identical to the base corpus.
  *
  * An optional fourth arg multiplies the FACT tables too (the r11 sf1
  * convention — facts id-shifted, dims carried): order keys and event ids
  * shift by c·10⁷ consistently across orders/lineitem so the join keys
  * stay aligned; user_id shifts by c·10⁴ (base user ids sit under 10⁴) so
  * per-user series keep their base cardinality and the USER population
  * grows — the bigger-crawl shape, not deeper per-key skew; dim foreign
  * keys (custkey/partkey/suppkey) are carried so every copy references the
  * same dims and star fan-out grows ×m. Timestamps/prices carry, so
  * per-window densities grow ×m — the growth a real deployment sees.
  * Without the arg, facts are symlinked at base scale.
  *
  * Usage: runMain graft.tools.GenScaleCorpus <baseDir> <outDir> <m> [mFacts]
  * Runs on the shared [[graft.SparkEntry.session]].
  */
object GenScaleCorpus {

  /** ×m document copies with per-token copy suffixes (see object doc). The
    * committed `bench_medians_sf1.tsv` baseline was measured on corpora
    * built by exactly this transformation — GenScaleCorpusSpec pins the
    * three properties the baseline's comparability rests on (id-disjoint
    * copies, shingle-df scale-invariance, ×m pair growth), so a silent
    * convention change invalidating the snapshot fails a spec, not a
    * future round's tripwire triage.
    */
  def docCopies(d: org.apache.spark.sql.DataFrame, m: Int)
      : org.apache.spark.sql.DataFrame =
    (0 until m).map { c =>
      if (c == 0) d
      else d.select(
        (col("doc_id") + lit(c * 10000000L)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"$$1_c$c").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .withColumn("n_chars", length(col("text")).cast("long"))

  /** ×m embedding copies: id-shifted with the seedless sin perturbation
    * (the ExtQueries embTimes convention, label carried).
    */
  def embCopies(e: org.apache.spark.sql.DataFrame, m: Int)
      : org.apache.spark.sql.DataFrame =
    (0 until m).map { c =>
      if (c == 0) e
      else e.select(
        (col("vec_id") + lit(c * 10000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x + sin((col("vec_id") * (c * 7 + 1) + i).cast("double")) * lit(0.05))
            .cast("float")).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val baseDir = args(0)
    val outDir = args(1)
    val m = args(2).toInt
    val mFacts = if (args.length > 3) args(3).toInt else 1
    val spark = SparkEntry.session("graft-gen-scale-corpus")

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    // Copy-disjointness preconditions, asserted instead of assumed (r14):
    // the c·10⁷ / c·10⁴ id shifts and the `_c<k>` token suffix are only
    // collision-free when the BASE corpus stays inside its domain. Running
    // the generator on an already-multiplied corpus (stacking sf10 → sf30)
    // or unusual text would silently emit colliding ids / shingles and
    // invalidate every growth ratio downstream — fail fast here instead.
    def assertMaxId(name: String, idCol: String, shift: Long): Unit = {
      val row = Tables.load(spark, baseDir, name).agg(max(col(idCol))).head()
      // an EMPTY base table yields a NULL max — trivially shift-disjoint,
      // not an NPE (ADVICE r14)
      if (!row.isNullAt(0)) {
        val mx = row.getLong(0)
        require(mx < shift,
          s"$name.$idCol max=$mx >= shift=$shift — base corpus is not " +
            "shift-disjoint (already multiplied?); refusing to emit collisions")
      }
    }
    assertMaxId("documents", "doc_id", 10000000L)
    assertMaxId("embeddings", "vec_id", 10000000L)
    if (mFacts > 1) {
      assertMaxId("orders", "o_orderkey", 10000000L)
      assertMaxId("events", "event_id", 10000000L)
      assertMaxId("events", "user_id", 10000L)
    }
    // Shingle-disjointness guard, FRACTION-scoped (ADVICE r14): a single
    // legitimate base token ending in `_c<digits>` (an identifier like
    // `var_c1`) must not refuse a valid corpus. The generator suffixes
    // EVERY token of every non-zero copy, so an already-multiplied corpus
    // carries suffixes on ≥ (m−1)/m ≥ 50% of its tokens — a majority test
    // separates the two cases with a wide margin on both sides.
    val fracRow = Tables.load(spark, baseDir, "documents")
      .select(explode(split(col("text"), "\\s+")).as("tok"))
      .agg(avg(when(col("tok").rlike("_c\\d+$"), 1.0).otherwise(0.0))).head()
    val suffixedFrac = if (fracRow.isNullAt(0)) 0.0 else fracRow.getDouble(0)
    require(suffixedFrac < 0.5,
      f"base documents.text carries _c<k>-suffixed tokens on $suffixedFrac%.2f " +
        "of the corpus (already multiplied?); copies would not be " +
        "shingle-disjoint")

    docCopies(Tables.load(spark, baseDir, "documents"), m)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    embCopies(Tables.load(spark, baseDir, "embeddings"), m)
      .repartition(4)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    if (mFacts > 1) {
      def times(name: String, shifted: (org.apache.spark.sql.DataFrame, Int)
          => org.apache.spark.sql.DataFrame): Unit = {
        val base = Tables.load(spark, baseDir, name)
        (0 until mFacts).map(c => if (c == 0) base else shifted(base, c))
          .reduce(_ unionByName _)
          .repartition(8)
          .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      }
      times("orders", (f, c) => f
        .withColumn("o_orderkey", col("o_orderkey") + lit(c * 10000000L)))
      times("lineitem", (f, c) => f
        .withColumn("l_orderkey", col("l_orderkey") + lit(c * 10000000L)))
      times("events", (f, c) => f
        .withColumn("event_id", col("event_id") + lit(c * 10000000L))
        .withColumn("user_id", col("user_id") + lit(c * 10000L)))
    }
    val linked = Tables.dims ++ (if (mFacts > 1) Nil else Tables.facts)
    for (t <- linked) {
      val link = java.nio.file.Paths.get(outDir, s"$t.parquet")
      // a previous mFacts>1 run leaves a REAL parquet directory here, and
      // deleteIfExists on a non-empty directory throws — remove it
      // recursively (symlinks delete as plain entries, never followed)
      if (java.nio.file.Files.isDirectory(link,
          java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        val walk = java.nio.file.Files.walk(link)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally walk.close()
      } else java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.createSymbolicLink(link,
        java.nio.file.Paths.get(baseDir, s"$t.parquet"))
    }
    println(s"[gen] $outDir: documents x$m, embeddings x$m, facts x$mFacts " +
      s"from $baseDir; dims symlinked")
    spark.stop()
  }
}
