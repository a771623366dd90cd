package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The declarative chain [[TextFunctions.tokens]] natively replays —
  * TokensExprSpec's truth side; not for hot paths.
  */
object TokensTruth {
  def tokensDeclarative(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)
}
