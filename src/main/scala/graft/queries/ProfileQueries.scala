package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables
import graft.functions.Money.cents

/** q53: dataset profiling — the per-column audit (row counts, null
  * counts, exact ranges in integer cents, distinct counts) that gates
  * ingestion in a production pipeline. One scan, all columns profiled
  * in a single aggregate per column; emitted long-form (one row per
  * column) the way profilers report. */
object ProfileQueries extends QueryFamily {

  private val Profiled = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** All 4x5 metrics in ONE aggregate over ONE scan of the fact table,
    * then a `stack` unpivot of the single metrics row into long form.
    * (The naive per-column union re-reads the fact table once per
    * profiled column — 4 full scans at 100 TB.) */
  def profile(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val aggs = Seq(count(lit(1)).as("n_rows")) ++ Profiled.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_null"),
        min(cents(col(c))).as(s"${c}_min"),
        max(cents(col(c))).as(s"${c}_max"),
        countDistinct(cents(col(c))).as(s"${c}_nd"))
    }
    val metrics = li.agg(aggs.head, aggs.tail: _*)
    val stacked = Profiled
      .map(c => s"'$c', ${c}_null, ${c}_min, ${c}_max, ${c}_nd")
      .mkString(", ")
    metrics
      .selectExpr("n_rows",
        s"stack(${Profiled.size}, $stacked) AS (column_name, n_null, min_cents, max_cents, n_distinct)")
      .select(col("column_name"), col("n_rows"), col("n_null"),
        col("min_cents"), col("max_cents"), col("n_distinct"))
      .orderBy(col("column_name"))
  }

  val profileSql: String = {
    val metricCols = Profiled.map { c =>
      s"""  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ${c}_null,
         |  MIN(CAST(ROUND($c*100) AS BIGINT)) AS ${c}_min,
         |  MAX(CAST(ROUND($c*100) AS BIGINT)) AS ${c}_max,
         |  COUNT(DISTINCT CAST(ROUND($c*100) AS BIGINT)) AS ${c}_nd""".stripMargin
    }.mkString(",\n")
    val rows = Profiled.map { c =>
      s"""SELECT '$c' AS column_name, n_rows, ${c}_null AS n_null,
         |  ${c}_min AS min_cents, ${c}_max AS max_cents, ${c}_nd AS n_distinct FROM m""".stripMargin
    }
    s"""WITH m AS (SELECT COUNT(*) AS n_rows,
       |$metricCols
       |FROM lineitem)
       |${rows.mkString("\nUNION ALL\n")}
       |ORDER BY column_name""".stripMargin
  }

  val queries: Map[String, Q] = Map("q53_profile" -> (profile _))
  val oracles: Map[String, String] = Map("q53_profile" -> profileSql)
}
