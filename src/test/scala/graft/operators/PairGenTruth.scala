package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The collect-and-sort spelling [[PairGen.groupPairs]] replaced (r17) —
  * PairGenSpec's truth side; not for hot paths.
  */
object PairGenTruth {

  /** All (a,b) pairs (a<b by sort order) from a sorted array column, via
    * HOFs — stays in codegen, no self-join.
    */
  def pairArray(ids: Column): Column =
    flatten(transform(ids, (a, i) =>
      transform(slice(ids, i + lit(2), size(ids)), b =>
        struct(a.as("a"), b.as("b")))))

  def groupPairsCollect(df: DataFrame, keys: Seq[String],
      payload: Column, maxGroup: Int): DataFrame = {
    val keyCols = keys.map(col)
    val smallGroups = df.groupBy(keyCols: _*)
      .agg((count(lit(1)) + Dedup.pruneGuard(payload)).as("__gn"))
      .where(col("__gn") >= 2 && col("__gn") <= maxGroup)
      .select(keyCols: _*)
    df.join(smallGroups, keys)
      .groupBy(keyCols: _*)
      .agg(array_sort(collect_list(payload)).as("ids"))
      .select(explode(pairArray(col("ids"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
  }
}
