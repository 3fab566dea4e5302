package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.functions.Money.cents
import graft.operators.Skew

/** The skew primitives inside the correctness gate: salting is a
  * physical redistribution, so a salted plan must produce BIT-IDENTICAL
  * results to the plain shape — which is exactly what the DuckDB
  * oracle (plain GROUP BY / plain join) checks. Values are integer
  * cents, so the two-phase re-aggregation is associative and exact.
  */
object SkewQueries extends QueryFamily {

  /** q85: two-phase salted aggregation over a 3-key groupBy —
    * l_returnflag is the canonical hot key (every reducer would
    * otherwise own a whole key); the salt spreads each key over 16
    * partial aggregates that re-combine exactly. */
  def skewAgg(s: SparkSession, dir: String): DataFrame =
    Skew.saltedSumCount(
      Tables.lineitem(s, dir).withColumn("price_cents", cents(col("l_extendedprice"))),
      "l_returnflag", "price_cents", "l_orderkey")
      .select(col("l_returnflag"), col("n_rows"), col("sum_value").as("sum_cents"))
      .orderBy(col("l_returnflag"))

  val skewAggSql: String =
    """SELECT l_returnflag, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM lineitem
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q86: ADAPTIVE salted fact⋈dim join — one counting pass finds the
    * keys a single reducer could not hold, only THOSE take the
    * replicated-dim salted shape, and the cold majority joins plain
    * (disjoint key classes, so the union is bit-identical to the
    * plain join the oracle runs). The shape AQE's skew handling
    * cannot touch (broadcast-side replication under a hot key) —
    * applied only where measured: unconditional n=16 replication of
    * the order dim was pure overhead on a key with no hot values
    * (67.8s at x256; the dim there is 38M rows). The threshold is
    * sized so a "hot" key is one whose plain-join reducer share
    * would be a straggler. */
  def skewJoin(s: SparkSession, dir: String): DataFrame = {
    val fact = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), cents(col("l_extendedprice")).as("price_cents"))
    val dim = Tables.orders(s, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    Skew.adaptiveSaltedJoin(fact, dim, "l_orderkey", "l_orderkey")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"), sum(col("price_cents")).as("sum_cents"))
      .orderBy(col("o_orderpriority"))
  }

  val skewJoinSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  val queries: Map[String, Q] = Map(
    "q85_skew_agg" -> (skewAgg _),
    "q86_skew_join" -> (skewJoin _))

  val oracles: Map[String, String] = Map(
    "q85_skew_agg" -> skewAggSql,
    "q86_skew_join" -> skewJoinSql)
}
