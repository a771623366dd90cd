package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared within-group candidate-pair generation for the LSH-style operators
  * (MinHash bands, SimHash chunks, rare shingles, embedding buckets).
  */
private[operators] object PairGen {

  /** Deterministic within-group pairs (columns `a`, `b`) for groups of size
    * in [2, maxGroup].
    *
    * Scale-safe shape: a count-first pass drops oversized groups BEFORE any
    * pairing (a degenerate bucket can hold millions of members at corpus
    * scale — pairing it would emit O(members²) rows), then the surviving
    * small groups pair via a within-group self-join with a strict `<` on
    * the payload (r17 optimization, guide §2.3/§4: the previous
    * collect_list + sorted-array-HOF pairing ran as a non-codegen
    * ObjectHashAggregate followed by an INTERPRETED nested-transform pair
    * expansion — measured ~0.7 s of every shinglePairs consumer at sf0.1;
    * the self-join keeps the whole pipeline in whole-stage codegen).
    *
    * Output equivalence with the sorted-array pairing it replaced: every
    * call site feeds payloads that are DISTINCT and non-NULL within a
    * group (band buckets emit one row per doc per band; winnow/shingle
    * explodes are array_distinct'ed per doc), so "all unordered pairs with
    * a < b" is exactly the multiset the sorted-array expansion emitted —
    * struct payloads compare lexicographically field-by-field under both
    * spellings. PairGenSpec pins equality against the old spelling.
    * NULL payloads (which no call site produces) behave identically too:
    * both spellings count them into `__gn` (count(1) / window of the cap
    * pass) and neither ever pairs them (collect_list skipped them; the
    * coalesced `<` rejects them).
    *
    * All three ops (group count, member filter join, pair self-join)
    * shuffle on the same keys, so AQE/exchange reuse keeps this at ~one
    * effective shuffle of the candidate rows.
    */
  def groupPairs(df: DataFrame, keys: Seq[String], payload: Column,
      maxGroup: Int): DataFrame = {
    val keyCols = keys.map(col)
    // the pruneGuard no-op keeps this count branch reading the SAME columns
    // as the pair branches below, so all three consume one ReusedExchange
    // instead of re-running the upstream candidate pipeline (see
    // Dedup.pruneGuard)
    val smallGroups = df.groupBy(keyCols: _*)
      .agg((count(lit(1)) + Dedup.pruneGuard(payload)).as("__gn"))
      .where(col("__gn") >= 2 && col("__gn") <= maxGroup)
      .select(keyCols: _*)
    val members = df.join(smallGroups, keys)
      .select(keyCols :+ payload.as("__p"): _*)
    // the strict < rides inside a coalesce on purpose: a bare `__p < __q`
    // is null-intolerant, so InferFiltersFromConstraints adds
    // payload-field isnotnull filters to the two JOIN copies of the
    // upstream pipeline in a late optimizer batch (the count branch's
    // equivalent filter is constraint-pruned as redundant in an EARLIER
    // batch) — the three copies then canonicalize unequal and the whole
    // candidate pipeline executes once per branch (measured: an extra
    // shingle-exchange execution under every embedded consumer). The
    // coalesce defeats the inference; values are identical — NULL payloads
    // never pair under either spelling (NULL < x is NULL ≡ false here).
    members.join(members.withColumnRenamed("__p", "__q"), keys)
      .where(coalesce(col("__p") < col("__q"), lit(false)))
      .select(col("__p").as("a"), col("__q").as("b"))
  }
}
