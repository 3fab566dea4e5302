package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, Descending, NullsFirst, NullsLast, SortOrder}
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{Column, DataFrame, GraftInternals}

/** DataFrame-level entry points for graft's custom plan nodes. Building
  * one touches no session state: the node plans through
  * [[TopKPerKeyStrategy]], which `graft.GraftExtensions` injects into
  * every `graft.Sessions.builder` session. */
object Plans {

  /** Top-k rows per key ordered by `orderBy` (desc flag per column).
    * Equivalent to row_number() over (partition by keys order by ...)
    * <= k, but executed with bounded per-key heaps and a map-side
    * partial pass — no full partition sort. */
  def topKPerKey(df: DataFrame, keyCols: Seq[Column],
                 orderCols: Seq[(Column, Boolean)], k: Int): DataFrame =
    build(df, keyCols, orderCols, k, rankName = None)

  /** Like `topKPerKey`, but also emits the 1-based within-key rank as a
    * long column `rankName` — the heap already produces rows in rank
    * order, so this costs nothing and keeps Window out of the plan. */
  def topKPerKeyRanked(df: DataFrame, keyCols: Seq[Column],
                       orderCols: Seq[(Column, Boolean)], k: Int,
                       rankName: String): DataFrame =
    build(df, keyCols, orderCols, k, Some(rankName))

  private def build(df: DataFrame, keyCols: Seq[Column],
                    orderCols: Seq[(Column, Boolean)], k: Int,
                    rankName: Option[String]): DataFrame = {
    val spark = df.sparkSession
    val analyzed = GraftInternals.analyzedPlan(df)
    val keys = keyCols.map(GraftInternals.expression)
    val order = orderCols.map { case (c, desc) =>
      val e = GraftInternals.expression(c)
      if (desc) SortOrder(e, Descending, NullsLast, Seq.empty)
      else SortOrder(e, Ascending, NullsFirst, Seq.empty)
    }
    val rankAttr = rankName.map(n => AttributeReference(n, LongType, nullable = false)())
    GraftInternals.ofRows(spark, TopKPerKeyNode(keys, order, k, rankAttr, analyzed))
  }
}
