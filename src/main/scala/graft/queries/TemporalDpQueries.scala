package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Dynamic programming over the event time axis: two-state burst
  * labeling by exact Viterbi (q236) and day-of-week seasonality
  * profiles (q237). q208's CUSUM flags a shift the moment it happens;
  * q236 labels every day with the globally optimal burst/normal
  * segmentation in hindsight (Kleinberg's two-state automaton with
  * integer costs), and q237 factors out the weekly rhythm that both
  * detectors would otherwise chase.
  */
object TemporalDpQueries extends QueryFamily {

  // ---- q236: two-state burst labeling (integer Viterbi) ----

  /** q236: Kleinberg-style burst detection as an EXACT integer
    * two-state Viterbi recursion over each type's daily series: state
    * levels are the type's mean (normal) and twice the mean (burst),
    * per-day emission cost is the |count − level| distance in
    * milli-units, switching costs one mean (hysteresis — the
    * automaton's transition price). Output per (type, day): both
    * cumulative minimal costs and the ONLINE state estimate (argmin of
    * the cumulative costs so far, ties preferring normal) — the
    * filtered decision a monitoring system acts on at each day. The DP
    * is dim-sized (days × 2 states) and folds in-plan over the
    * collected day array.
    *
    * Scale: the corpus collapses to the (type, day) dim in one hash
    * agg; everything after is bounded by the calendar. */
  def burstViterbi(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("mean_milli", expr(
        "sum(cnt * 1000) over (partition by event_type) div count(*) over (partition by event_type)"))
    daily
      .groupBy(col("event_type"), col("mean_milli"))
      .agg(sort_array(collect_list(struct(col("day"), col("cnt")))).as("ds"))
      .select(col("event_type"), col("mean_milli"), explode(expr(
        """aggregate(
          |  ds,
          |  named_struct(
          |    'cn', CAST(0 AS BIGINT), 'cb', CAST(0 AS BIGINT),
          |    'out', CAST(array() AS ARRAY<STRUCT<day: BIGINT, cnt: BIGINT, cost_n: BIGINT, cost_b: BIGINT>>)),
          |  (acc, x) -> named_struct(
          |    'cn', least(acc.cn, acc.cb + mean_milli) + abs(x.cnt * 1000 - mean_milli),
          |    'cb', least(acc.cb, acc.cn + mean_milli) + abs(x.cnt * 1000 - 2 * mean_milli),
          |    'out', array_append(acc.out, named_struct(
          |      'day', x.day, 'cnt', x.cnt,
          |      'cost_n', least(acc.cn, acc.cb + mean_milli) + abs(x.cnt * 1000 - mean_milli),
          |      'cost_b', least(acc.cb, acc.cn + mean_milli) + abs(x.cnt * 1000 - 2 * mean_milli)))),
          |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("event_type"), col("r.day"), col("r.cnt"),
        col("r.cost_n"), col("r.cost_b"))
      .withColumn("burst",
        col("cost_b") < col("cost_n"))
      .orderBy(col("event_type"), col("day"))
  }

  val burstViterbiSql: String =
    s"""WITH RECURSIVE daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1, 2),
       |m AS (SELECT *,
       |    CAST(SUM(cnt * 1000) OVER (PARTITION BY event_type) AS BIGINT)
       |      // CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS mean_milli,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
       |  FROM daily),
       |dp AS (
       |  SELECT event_type, mean_milli, i, day, cnt,
       |    CAST(abs(cnt * 1000 - mean_milli) AS BIGINT) AS cost_n,
       |    CAST(abs(cnt * 1000 - 2 * mean_milli) AS BIGINT) AS cost_b
       |  FROM m WHERE i = 1
       |  UNION ALL
       |  SELECT m.event_type, m.mean_milli, m.i, m.day, m.cnt,
       |    LEAST(d.cost_n, d.cost_b + m.mean_milli) + abs(m.cnt * 1000 - m.mean_milli),
       |    LEAST(d.cost_b, d.cost_n + m.mean_milli) + abs(m.cnt * 1000 - 2 * m.mean_milli)
       |  FROM dp d JOIN m ON m.event_type = d.event_type AND m.i = d.i + 1)
       |SELECT event_type, day, cnt, cost_n, cost_b,
       |  cost_b < cost_n AS burst
       |FROM dp
       |ORDER BY event_type, day""".stripMargin

  // ---- q237: day-of-week seasonality profile ----

  /** q237: the weekly rhythm — per (type, day-of-week): days observed,
    * total and mean-milli events, and the seasonality index (e6 ratio
    * of the dow mean to the type's overall daily mean). The read that
    * separates "Mondays are always like this" from genuine drift
    * before q208/q226 alarm on it. Dim-sized after one hash agg. */
  def dowProfile(s: SparkSession, dir: String): DataFrame = {
    val wt = Window.partitionBy(col("event_type"))
    Tables.events(s, dir)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("dow", pmod(col("day") + 4, lit(7L))) // epoch day 0 = Thursday
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("cnt")).as("total"))
      .withColumn("dow_mean_milli", expr("total * 1000 div n_days"))
      .withColumn("overall_milli",
        expr("sum(total) over (partition by event_type) * 1000 div sum(n_days) over (partition by event_type)"))
      .withColumn("index_e6", expr("dow_mean_milli * 1000000 div overall_milli"))
      .select(col("event_type"), col("dow"), col("n_days"), col("total"),
        col("dow_mean_milli"), col("index_e6"))
      .orderBy(col("event_type"), col("dow"))
  }

  val dowProfileSql: String =
    """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |d AS (SELECT *, ((day + 4) % 7 + 7) % 7 AS dow FROM daily),
      |g AS (SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n_days,
      |    CAST(SUM(cnt) AS BIGINT) AS total
      |  FROM d GROUP BY event_type, dow)
      |SELECT event_type, dow, n_days, total,
      |  total * 1000 // n_days AS dow_mean_milli,
      |  (total * 1000 // n_days) * 1000000 //
      |    (CAST(SUM(total) OVER (PARTITION BY event_type) AS BIGINT) * 1000
      |      // CAST(SUM(n_days) OVER (PARTITION BY event_type) AS BIGINT)) AS index_e6
      |FROM g
      |ORDER BY event_type, dow""".stripMargin

  val queries: Map[String, Q] = Map(
    "q236_burst_viterbi" -> (burstViterbi _),
    "q237_dow_profile" -> (dowProfile _))

  val oracles: Map[String, String] = Map(
    "q236_burst_viterbi" -> burstViterbiSql,
    "q237_dow_profile" -> dowProfileSql)
}
