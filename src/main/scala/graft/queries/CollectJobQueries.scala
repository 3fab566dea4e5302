package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Collection-run and enrichment-job accounting: the per-day metrics
  * loop of `NewsCollectorService.collect`
  * (application/servico_coleta_noticias.py:96-180) and the counter
  * rollup of `GeoEnrichmentJob.run`
  * (services/publications/jobs/geo_enrichment_job.py:92-199).
  *
  * Scale shape: q116 is one window over (portal, url) — the natural
  * high-cardinality key — plus one partial-agg groupBy (portal, day);
  * q117 is a single hash aggregation with map-side partials. Neither
  * holds run state on the driver, unlike the reference's in-memory
  * `seen_urls` set.
  */
object CollectJobQueries extends QueryFamily {

  /** q116: the collect() day loop, set-wise. Cross-day URL dedup keeps
    * every occurrence from the url's FIRST day in the run
    * (servico_coleta_noticias.py:143-155 — `seen_urls` is only updated
    * after the day's comprehension, so same-day repeats both pass and
    * are both counted); the sink then stores occurrences whose url is
    * not already in the repository (ingestion_router.py:33-43 checks
    * exists() against the pre-batch repo, and cross-day repeats are
    * already gone, so the gate is the run-start snapshot). Per-day
    * output mirrors the status line "encontrados N, novos salvos M"
    * (py:169-173). */
  def collectAccounting(s: SparkSession, dir: String): DataFrame = {
    val stream = Tables.orders(s, dir).select(
      concat(lit("p"), col("o_custkey") % 7).as("portal"),
      to_date(col("o_orderdate")).as("day"),
      (col("o_orderkey") % 150).as("uid"))
    val firstDay = Window.partitionBy(col("portal"), col("uid"))
    stream
      .withColumn("min_day", min(col("day")).over(firstDay))
      .withColumn("kept", col("day") === col("min_day"))
      // repository snapshot at run start: uid % 13 < 2 already stored
      .withColumn("stored", col("kept") && col("uid") % 13 >= 2)
      .groupBy(col("portal"), col("day"))
      .agg(
        count(lit(1)).as("n_found"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_unique"),
        sum(when(col("stored"), 1L).otherwise(0L)).as("n_stored"))
      .orderBy(col("portal"), col("day"))
  }

  val collectAccountingSql: String =
    """WITH stream AS (
      |  SELECT 'p' || (o_custkey % 7) AS portal,
      |    CAST(o_orderdate AS DATE) AS day,
      |    o_orderkey % 150 AS uid
      |  FROM orders),
      |dedup AS (
      |  SELECT *,
      |    min(day) OVER (PARTITION BY portal, uid) AS min_day
      |  FROM stream),
      |flagged AS (
      |  SELECT portal, day,
      |    (day = min_day) AS kept,
      |    (day = min_day AND uid % 13 >= 2) AS stored
      |  FROM dedup)
      |SELECT portal, day,
      |  count(*) AS n_found,
      |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
      |  CAST(sum(CASE WHEN stored THEN 1 ELSE 0 END) AS BIGINT) AS n_stored
      |FROM flagged
      |GROUP BY portal, day
      |ORDER BY portal, day""".stripMargin

  /** q117: GeoEnrichmentJob.run counter rollup per portal. Pending
    * selection = `geo-enriquecido` missing OR false
    * (geo_enrichment_job.py:118-124); a compute failure records an
    * error and skips the counters past `scanned`
    * (py:142-157); a persist failure (no _id and no url to key the
    * update, py:284-301) counts skipped AND appends an error
    * (py:166-174); the rest are enriched. scanned = processed +
    * compute_errors, processed = enriched + skipped — the invariants
    * the reference's integration tests assert. */
  def geoJobMetrics(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    Tables.customer(s, dir).select(
      concat(lit("portal-"), k % 4).as("portal"),
      (k % 5 <= 2).as("pending"),
      (k % 5 <= 2 && k % 17 === 0).as("err_compute"),
      (k % 5 <= 2 && k % 17 =!= 0 && k % 23 === 0).as("persist_fail"))
      .groupBy(col("portal"))
      .agg(
        sum(when(col("pending"), 1L).otherwise(0L)).as("scanned"),
        sum(when(col("pending") && !col("err_compute"), 1L).otherwise(0L))
          .as("processed"),
        sum(when(col("pending") && !col("err_compute") && !col("persist_fail"), 1L)
          .otherwise(0L)).as("enriched"),
        sum(when(col("persist_fail"), 1L).otherwise(0L)).as("skipped"),
        sum(when(col("err_compute") || col("persist_fail"), 1L).otherwise(0L))
          .as("n_errors"))
      .orderBy(col("portal"))
  }

  val geoJobMetricsSql: String =
    """WITH docs AS (
      |  SELECT 'portal-' || (c_custkey % 4) AS portal,
      |    (c_custkey % 5 <= 2) AS pending,
      |    (c_custkey % 5 <= 2 AND c_custkey % 17 = 0) AS err_compute,
      |    (c_custkey % 5 <= 2 AND c_custkey % 17 <> 0
      |     AND c_custkey % 23 = 0) AS persist_fail
      |  FROM customer)
      |SELECT portal,
      |  CAST(sum(CASE WHEN pending THEN 1 ELSE 0 END) AS BIGINT) AS scanned,
      |  CAST(sum(CASE WHEN pending AND NOT err_compute THEN 1 ELSE 0 END)
      |    AS BIGINT) AS processed,
      |  CAST(sum(CASE WHEN pending AND NOT err_compute AND NOT persist_fail
      |    THEN 1 ELSE 0 END) AS BIGINT) AS enriched,
      |  CAST(sum(CASE WHEN persist_fail THEN 1 ELSE 0 END) AS BIGINT) AS skipped,
      |  CAST(sum(CASE WHEN err_compute OR persist_fail THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_errors
      |FROM docs
      |GROUP BY portal
      |ORDER BY portal""".stripMargin

  val queries: Map[String, Q] = Map(
    "q116_collect_accounting" -> (collectAccounting _),
    "q117_geo_job_metrics" -> (geoJobMetrics _))

  val oracles: Map[String, String] = Map(
    "q116_collect_accounting" -> collectAccountingSql,
    "q117_geo_job_metrics" -> geoJobMetricsSql)
}
