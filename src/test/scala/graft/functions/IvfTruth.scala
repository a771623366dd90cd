package graft.functions

import graft.operators.Ivf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The in-memory IVF top-k the specs compare the at-rest probe
  * (`Ivf.probeClustered`) and brute force against; not a serving path.
  */
object IvfTruth {

  /** Cosine-rank only the `nProbe` clusters nearest the query. Recall < 1
    * by construction (like every IVF); nProbe/k is the knob. The final
    * orderBy+limit plans as TakeOrderedAndProject, not a global sort.
    */
  def topK(corpus: DataFrame, idCol: String, vecCol: String, model: Ivf.Model,
      query: Seq[Float], nProbe: Int, k: Int): DataFrame = {
    val probes = model.nearestClusters(query, nProbe)
    Ivf.assign(corpus, vecCol, model)
      .where(col("cluster").isin(probes: _*))
      .select(col(idCol), col("cluster"),
        VectorNative.cosine(col(vecCol), array(query.map(x => lit(x)): _*)).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(idCol))
      .limit(k)
  }
}
