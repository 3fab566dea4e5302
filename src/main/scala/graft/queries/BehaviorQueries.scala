package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Behavioral segmentation and recency weighting: RFM quintile
  * segmentation (q234) and half-life-decayed activity counters (q235)
  * — the two standard "who matters now" reads over an event stream,
  * both in exact integer arithmetic.
  */
object BehaviorQueries extends QueryFamily {

  // ---- q234: RFM segmentation ----

  /** q234: recency/frequency/monetary segmentation — per user the
    * days-since-last-event, event count and cent volume, each scored
    * into quintiles (1..5, 5 best) and composed into the classic RFM
    * segment code. Quintile boundaries come from the VALUE-DIM
    * distribution (the q191 trick): each metric's distribution lives
    * on its (value, count) dim table, the cumulative window runs over
    * value RESOLUTION rather than user count, and boundaries
    * broadcast-join back — identical to `ntile` over users when values
    * are distinct, deterministic tie handling (equal values share a
    * quintile) when not, and NO corpus-wide window anywhere.
    * Scoring: quintile q = number of boundary values `<=` the metric
    * (recency inverted — smaller is better). */
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    val wAll = Window.partitionBy()
    val perUser = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("f"),
        sum(round(col("value") * 100).cast("long")).as("m"))
    // corpus-wide max as a 1-row broadcast rather than an
    // unpartitioned window over the user dim (fine at gate scale,
    // a single-partition sort of every user at 100 TB)
    val users = perUser
      .crossJoin(broadcast(perUser.agg(max(col("last_us")).as("max_last"))))
      .withColumn("r", expr("(max_last - last_us) div 86400000000"))
      .select(col("user_id"), col("r"), col("f"), col("m"))
    // value-dim quintile score: rank users by cumulative count over the
    // VALUE distribution; score = the 1..5 bucket of the cum share
    def score(df: DataFrame, metric: String, invert: Boolean): DataFrame = {
      val dist = df.groupBy(col(metric)).agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy(if (invert) col(metric).desc else col(metric))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dist
        .withColumn("cum", sum(col("cnt")).over(w))
        .withColumn("total", sum(col("cnt")).over(wAll))
        // the quintile of the LAST user holding this value
        .withColumn(s"${metric}_score",
          least(lit(5L), expr("(cum - 1) * 5 div total") + 1L))
        .select(col(metric), col(s"${metric}_score"))
    }
    users
      .join(broadcast(score(users, "r", invert = true)), Seq("r"))
      .join(broadcast(score(users, "f", invert = false)), Seq("f"))
      .join(broadcast(score(users, "m", invert = false)), Seq("m"))
      .withColumn("segment",
        concat(col("r_score"), col("f_score"), col("m_score")))
      .withColumn("champion", col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4)
      .select(col("user_id"), col("r"), col("f"), col("m"),
        col("r_score"), col("f_score"), col("m_score"),
        col("segment"), col("champion"))
      .orderBy(col("user_id"))
  }

  val rfmSegmentsSql: String = {
    def scoreCte(metric: String, desc: Boolean) = {
      val dir = if (desc) "DESC" else "ASC"
      s"""${metric}d AS (SELECT $metric, COUNT(*) AS cnt FROM users GROUP BY $metric),
         |${metric}s AS (SELECT $metric,
         |    LEAST(5, (SUM(cnt) OVER (ORDER BY $metric $dir
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1) * 5
         |      // (SELECT COUNT(*) FROM users) + 1) AS ${metric}_score
         |  FROM ${metric}d)""".stripMargin
    }
    s"""WITH base AS (SELECT user_id, MAX(epoch_us(ts)) AS last_us,
       |    CAST(COUNT(*) AS BIGINT) AS f,
       |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS m
       |  FROM events GROUP BY user_id),
       |users AS (SELECT user_id,
       |    ((SELECT MAX(last_us) FROM base) - last_us) // 86400000000 AS r, f, m
       |  FROM base),
       |${scoreCte("r", desc = true)},
       |${scoreCte("f", desc = false)},
       |${scoreCte("m", desc = false)}
       |SELECT u.user_id, u.r, u.f, u.m,
       |  CAST(rs.r_score AS BIGINT) AS r_score,
       |  CAST(fs.f_score AS BIGINT) AS f_score,
       |  CAST(ms.m_score AS BIGINT) AS m_score,
       |  rs.r_score || '' || fs.f_score || '' || ms.m_score AS segment,
       |  rs.r_score >= 4 AND fs.f_score >= 4 AND ms.m_score >= 4 AS champion
       |FROM users u
       |JOIN rs ON u.r = rs.r
       |JOIN fs ON u.f = fs.f
       |JOIN ms ON u.m = ms.m
       |ORDER BY u.user_id""".stripMargin
  }

  // ---- q235: half-life-decayed activity counters ----

  /** q235: exponentially decayed event counts with a one-day
    * half-life, EXACT: each event contributes `1e6 >> age_days` (the
    * integer truncation of 1e6/2^age — a shift, not a float pow), so
    * the trending score is a plain integer sum both engines compute
    * identically. Per (type): the decayed score, the raw count, the
    * e6 "freshness" ratio decayed/raw, and the hottest day. The decay
    * weight is map-side column math; one hash agg. */
  def decayedCounts(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("ts_us"))
    // global max as a 1-row broadcast (the repo convention), NOT an
    // unpartitioned window over the raw event stream — the window
    // form sorts the whole corpus on one partition at scale (caught
    // by FleetPlanAuditSpec); the extra scan is 2 pruned columns
    ev.crossJoin(broadcast(ev.agg(max(col("ts_us")).as("max_us"))))
      .withColumn("age_days", expr("(max_us - ts_us) div 86400000000"))
      .withColumn("w_e6", expr("CASE WHEN age_days >= 63 THEN 0 ELSE shiftright(1000000, CAST(age_days AS INT)) END"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("w_e6")).as("decayed_e6"),
        max(when(col("age_days") === 0, col("ts_us"))).isNotNull.as("active_today"))
      .withColumn("freshness_e6", expr("decayed_e6 div n_events"))
      .select(col("event_type"), col("n_events"), col("decayed_e6"),
        col("freshness_e6"), col("active_today"))
      .orderBy(col("event_type"))
  }

  val decayedCountsSql: String =
    """WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us,
      |    (SELECT MAX(epoch_us(ts)) FROM events) AS max_us
      |  FROM events),
      |d AS (SELECT event_type,
      |    (max_us - ts_us) // 86400000000 AS age_days, ts_us
      |  FROM e),
      |w AS (SELECT event_type, age_days,
      |    CASE WHEN age_days >= 63 THEN 0
      |         ELSE 1000000 // (1 << CAST(age_days AS INT)) END AS w_e6
      |  FROM d)
      |SELECT event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(w_e6) AS BIGINT) AS decayed_e6,
      |  CAST(SUM(w_e6) AS BIGINT) // COUNT(*) AS freshness_e6,
      |  CAST(SUM(CASE WHEN age_days = 0 THEN 1 ELSE 0 END) AS BIGINT) > 0 AS active_today
      |FROM w
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  val queries: Map[String, Q] = Map(
    "q234_rfm_segments" -> (rfmSegments _),
    "q235_decayed_counts" -> (decayedCounts _))

  val oracles: Map[String, String] = Map(
    "q234_rfm_segments" -> rfmSegmentsSql,
    "q235_decayed_counts" -> decayedCountsSql)
}
