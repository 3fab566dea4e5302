package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** q49: cohort retention — users grouped by signup day, activity
  * counted per whole days-since-signup bucket. The standard engagement
  * matrix every event pipeline reports; one shuffle on user_id for the
  * cohort join, one aggregation on (cohort, bucket). */
object CohortQueries extends QueryFamily {

  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
    val cohorts = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("signup_us"))
    e.join(cohorts, Seq("user_id"))
      .filter(col("ts_us") >= col("signup_us"))
      .withColumn("cohort_day",
        date_trunc("day", timestamp_micros(col("signup_us"))).cast("date"))
      // integer `div`, not float division — exact bucketing either engine
      .withColumn("day_bucket", expr("(ts_us - signup_us) div 86400000000"))
      .groupBy(col("cohort_day"), col("day_bucket"))
      .agg(
        countDistinct(col("user_id")).as("active_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("cohort_day"), col("day_bucket"))
  }

  val cohortRetentionSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |cohorts AS (SELECT user_id, MIN(ts_us) AS signup_us
      |  FROM e WHERE event_type = 'signup' GROUP BY user_id)
      |SELECT CAST(date_trunc('day', make_timestamp(signup_us)) AS DATE) AS cohort_day,
      |  CAST((ts_us - signup_us) // 86400000000 AS BIGINT) AS day_bucket,
      |  COUNT(DISTINCT e.user_id) AS active_users,
      |  COUNT(*) AS n_events
      |FROM e JOIN cohorts ON e.user_id = cohorts.user_id
      |WHERE ts_us >= signup_us
      |GROUP BY 1, 2
      |ORDER BY cohort_day, day_bucket""".stripMargin

  val queries: Map[String, Q] = Map("q49_cohort_retention" -> (cohortRetention _))
  val oracles: Map[String, String] = Map("q49_cohort_retention" -> cohortRetentionSql)
}
