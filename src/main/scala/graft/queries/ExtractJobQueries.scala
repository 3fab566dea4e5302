package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** The city-extraction job's batch loop
  * (services/publications/jobs/city_extraction_job.py:94-232): _id
  * pagination into fixed-size batches, only_missing pre-skip, compute
  * errors, unchanged-hash skip, ambiguous-mention counting on updated
  * documents, and the per-batch `batch_summary` log record.
  *
  * Scale shape: the batch assignment ranks per PORTAL (the job's
  * portal run mode) via `Curation.stratumValueRankAsc` — a plain
  * per-portal row_number serialized the whole corpus into 5 portal
  * partitions (x256 ladder: 40s for 38M orders); the two-level
  * range-bucket rank sorts ≤1/4096 of a portal per task and measured
  * 6.9s (x64: 8.5→4.1s). The rollup is one partial-agg groupBy on
  * (portal, batch). */
object ExtractJobQueries extends QueryFamily {

  val BatchSize = 100

  /** q119: per-batch counters with only_missing=true semantics.
    * Counter order mirrors the loop: an existing-hash doc is skipped
    * BEFORE processed++ (py:145-148); a compute error neither updates
    * nor skips (py:152-161); an unchanged recomputed hash skips
    * (py:164-167, force=false); the rest update, and ambiguous counts
    * unresolved mentions on updated docs only (py:169-176). */
  def extractJobBatches(s: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey")
    val docs = Tables.orders(s, dir)
      .select(k.as("o_orderkey"), concat(lit("portal-"), k % 5).as("portal"),
        (k % 6 === 0).as("has_hash"),
        (k % 6 =!= 0 && k % 19 === 0).as("err"),
        (k % 6 =!= 0 && k % 19 =!= 0 && k % 7 < 2).as("unchanged"),
        when(k % 6 =!= 0 && k % 19 =!= 0 && k % 7 >= 2, k % 5)
          .otherwise(lit(0L)).as("ambiguous"))
    graft.operators.Curation
      .stratumValueRankAsc(docs, "portal", "o_orderkey", "o_orderkey")
      .withColumn("batch_index", expr(s"CAST((rk - 1) div $BatchSize AS BIGINT)"))
      .groupBy(col("portal"), col("batch_index"))
      .agg(
        count(lit(1)).as("scanned"),
        sum(when(!col("has_hash"), 1L).otherwise(0L)).as("processed"),
        sum(when(!col("has_hash") && !col("err") && !col("unchanged"), 1L)
          .otherwise(0L)).as("updated"),
        sum(when(col("has_hash") || col("unchanged"), 1L).otherwise(0L)).as("skipped"),
        sum(col("ambiguous")).as("ambiguous"),
        sum(when(col("err"), 1L).otherwise(0L)).as("n_errors"))
      .orderBy(col("portal"), col("batch_index"))
  }

  val extractJobBatchesSql: String =
    s"""WITH docs AS (
       |  SELECT o_orderkey, 'portal-' || (o_orderkey % 5) AS portal,
       |    (o_orderkey % 6 = 0) AS has_hash,
       |    (o_orderkey % 6 <> 0 AND o_orderkey % 19 = 0) AS err,
       |    (o_orderkey % 6 <> 0 AND o_orderkey % 19 <> 0
       |     AND o_orderkey % 7 < 2) AS unchanged,
       |    CASE WHEN o_orderkey % 6 <> 0 AND o_orderkey % 19 <> 0
       |              AND o_orderkey % 7 >= 2
       |         THEN o_orderkey % 5 ELSE 0 END AS ambiguous
       |  FROM orders),
       |batched AS (
       |  SELECT *, (row_number() OVER (PARTITION BY portal ORDER BY o_orderkey) - 1)
       |    // $BatchSize AS batch_index
       |  FROM docs)
       |SELECT portal, batch_index,
       |  count(*) AS scanned,
       |  CAST(sum(CASE WHEN NOT has_hash THEN 1 ELSE 0 END) AS BIGINT) AS processed,
       |  CAST(sum(CASE WHEN NOT has_hash AND NOT err AND NOT unchanged
       |    THEN 1 ELSE 0 END) AS BIGINT) AS updated,
       |  CAST(sum(CASE WHEN has_hash OR unchanged THEN 1 ELSE 0 END) AS BIGINT)
       |    AS skipped,
       |  CAST(sum(ambiguous) AS BIGINT) AS ambiguous,
       |  CAST(sum(CASE WHEN err THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
       |FROM batched
       |GROUP BY portal, batch_index
       |ORDER BY portal, batch_index""".stripMargin

  val queries: Map[String, Q] = Map(
    "q119_extract_job_batches" -> (extractJobBatches _))

  val oracles: Map[String, String] = Map(
    "q119_extract_job_batches" -> extractJobBatchesSql)
}
