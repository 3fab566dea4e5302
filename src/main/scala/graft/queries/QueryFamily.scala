package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One family of `SparkEntry` queries: each query is built from a
  * session and an sf directory, and `oracles` holds the DuckDB SQL for
  * the names that have one. `SparkEntry.families` lists every family. */
trait QueryFamily {
  type Q = (SparkSession, String) => DataFrame
  def queries: Map[String, Q]
  def oracles: Map[String, String]
}
