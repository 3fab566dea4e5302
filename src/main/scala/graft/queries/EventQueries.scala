package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.operators.Sessionize

/** Layer G of SURVEY.md §2 (batch side): tumbling windows,
  * sessionization and funnels over the `events` table. The streaming
  * equivalents live in graft.streaming and are spec-gated (DuckDB has
  * no streaming surface to oracle against).
  */
object EventQueries extends QueryFamily {

  val SessionGapMicros: Long = 30L * 60 * 1000000 // 30 min

  /** q30: hourly tumbling aggregation per event type. */
  def tumblingAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("hour"), col("event_type"))

  val tumblingAggSql: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS value_cents,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events
      |GROUP BY date_trunc('hour', ts), event_type
      |ORDER BY hour, event_type""".stripMargin

  /** q31: 30-minute-gap sessions per user (lag + running sum, one
    * shuffle on user_id). */
  def sessionize(s: SparkSession, dir: String): DataFrame =
    Sessionize.rollup(
      Sessionize.assign(Tables.events(s, dir), "user_id", "ts",
        SessionGapMicros, "event_id"),
      "user_id", "value")
      .orderBy(col("user_id"), col("session_id"))

  val sessionizeSql: String =
    s"""WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us FROM events),
       |flagged AS (SELECT *,
       |    CASE WHEN lag(ts_us) OVER w IS NULL
       |         OR ts_us - lag(ts_us) OVER w > $SessionGapMicros THEN 1 ELSE 0 END AS new_session
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
       |sessioned AS (SELECT *,
       |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |  FROM flagged)
       |SELECT user_id, session_id,
       |  COUNT(*) AS n_events,
       |  MIN(ts_us) AS start_us,
       |  MAX(ts_us) AS end_us,
       |  MAX(ts_us) - MIN(ts_us) AS duration_us,
       |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS value_cents
       |FROM sessioned
       |GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin

  /** q32: signup -> purchase conversion funnel per user. */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
    val signups = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("first_signup_us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us").as("p_us"))
    signups
      .join(purchases, Seq("user_id"), "left")
      .withColumn("p_after", when(col("p_us") >= col("first_signup_us"), col("p_us")))
      .groupBy(col("user_id"), col("first_signup_us"))
      .agg(min(col("p_after")).as("first_purchase_after_us"))
      .withColumn("converted", col("first_purchase_after_us").isNotNull)
      .orderBy(col("user_id"))
  }

  val funnelSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |signups AS (SELECT user_id, MIN(ts_us) AS first_signup_us
      |  FROM e WHERE event_type = 'signup' GROUP BY user_id),
      |joined AS (SELECT s.user_id, s.first_signup_us,
      |    CASE WHEN p.ts_us >= s.first_signup_us THEN p.ts_us END AS p_after
      |  FROM signups s LEFT JOIN (SELECT user_id, ts_us FROM e WHERE event_type = 'purchase') p
      |    ON s.user_id = p.user_id)
      |SELECT user_id, first_signup_us,
      |  MIN(p_after) AS first_purchase_after_us,
      |  MIN(p_after) IS NOT NULL AS converted
      |FROM joined
      |GROUP BY user_id, first_signup_us
      |ORDER BY user_id""".stripMargin

  /** q83: per-user rolling 7-day features — the feature-engineering
    * window pattern (spend and activity over a trailing week, gap
    * aware). Day is an integer epoch-day, the frame is a RANGE over
    * that axis (missing days shrink the window, exactly as a
    * calendar-true trailing week must), and every output is an
    * integer. One shuffle on user_id, then per-user ordered frames. */
  def rollingFeatures(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("user_id"), col("day"))
      .agg(sum(col("cents")).as("daily_cents"), count(lit(1)).as("n_events"))
    val w7 = Window.partitionBy(col("user_id")).orderBy(col("day")).rangeBetween(-6, 0)
    daily
      .withColumn("ma7_cents", sum(col("daily_cents")).over(w7))
      .withColumn("days_active_7", count(lit(1)).over(w7))
      .orderBy(col("user_id"), col("day"))
  }

  val rollingFeaturesSql: String =
    """WITH daily AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS daily_cents,
      |    COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2)
      |SELECT user_id, day, daily_cents, n_events,
      |  CAST(SUM(daily_cents) OVER (PARTITION BY user_id ORDER BY day
      |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS ma7_cents,
      |  CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY day
      |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS days_active_7
      |FROM daily
      |ORDER BY user_id, day""".stripMargin

  /** q100: calendar gap-fill with forward-fill — the time-series
    * regularization every feature store runs: each user's daily
    * activity expands to a dense day grid between their first and last
    * active day (sequence + explode off a per-user MIN/MAX — map-side
    * after a tiny agg), gap days join as zeros, and
    * `days_since_active` forward-fills via a running MAX of active
    * days (a plain running-frame window; nulls lose MAX automatically,
    * no engine-variant IGNORE NULLS needed). One shuffle on user_id,
    * same as q83. */
  def gapFill(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("user_id"), col("day"))
      .agg(sum(col("cents")).as("daily_cents"), count(lit(1)).as("n_events"))
    val calendar = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    calendar.join(daily, Seq("user_id", "day"), "left")
      .withColumn("last_active_day",
        max(when(col("n_events").isNotNull, col("day"))).over(w))
      .select(col("user_id"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("daily_cents"), lit(0L)).as("daily_cents"),
        col("last_active_day"),
        (col("day") - col("last_active_day")).as("days_since_active"))
      .orderBy(col("user_id"), col("day"))
  }

  val gapFillSql: String =
    """WITH daily AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS daily_cents,
      |    COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |cal AS (SELECT user_id, unnest(range(d0, d1 + 1)) AS day FROM (
      |    SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id)),
      |f AS (SELECT c.user_id, c.day, d.n_events, d.daily_cents
      |  FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day),
      |ff AS (SELECT user_id, day,
      |    COALESCE(n_events, 0) AS n_events,
      |    COALESCE(daily_cents, 0) AS daily_cents,
      |    MAX(CASE WHEN n_events IS NOT NULL THEN day END)
      |      OVER (PARTITION BY user_id ORDER BY day) AS last_active_day
      |  FROM f)
      |SELECT user_id, day, n_events, daily_cents, last_active_day,
      |  day - last_active_day AS days_since_active
      |FROM ff ORDER BY user_id, day""".stripMargin

  // ---- q179: watermark / late-arrival audit ----

  val WatermarkDelayMicros: Long = 600L * 1000000 // 10 min allowed lateness

  /** q179: the LATE-DATA audit a streaming deployment runs before
    * picking its watermark delay — replayed batch-side so it can be
    * oracle-gated: arrival order is event_id; at each event's arrival
    * the stream's watermark is the max event-time seen BEFORE it minus
    * the allowed delay, and the event is late iff its own timestamp is
    * behind that. Per user: events, late events, the worst lateness
    * (the number that sizes the delay), and the late rate e6 — exactly
    * what `withWatermark` would drop at each candidate delay.
    *
    * The generated stream arrives perfectly ordered, so disorder is
    * synthesized deterministically (the q72 recipe): every 7th event
    * carries a timestamp a full DAY older than its arrival slot (a
    * client flushing a day-old buffer — LATE at a 10-min delay
    * whenever the user was active in the last day) and every 23rd is
    * 5 min older (inside the allowance — on time), so both branches
    * of the verdict are exercised and measurable against this
    * stream's multi-hour per-user cadence.
    *
    * Scale shape: one shuffle on user_id; the running max is a
    * per-user window ordered by arrival (bounded partitions — a user's
    * history, never the stream). Timestamps compare as exact integer
    * epoch-micros on both engines. */
  def watermarkAudit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val skew = when(col("event_id") % 7 === 0, lit(86400000000L))
      .when(col("event_id") % 23 === 0, lit(300000000L))
      .otherwise(lit(0L))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        (unix_micros(col("ts")) - skew).as("ts_us"))
      .withColumn("max_seen_us", max(col("ts_us")).over(w))
      .withColumn("late",
        col("max_seen_us").isNotNull &&
          col("ts_us") < col("max_seen_us") - WatermarkDelayMicros)
      .withColumn("lateness_us",
        when(col("late"), col("max_seen_us") - WatermarkDelayMicros - col("ts_us")))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late"),
        coalesce(max(col("lateness_us")), lit(0L)).as("max_lateness_us"))
      .withColumn("late_rate_e6",
        round(col("n_late").cast("double") / col("n_events").cast("double") *
          lit(1000000.0)).cast("long"))
      .orderBy(col("user_id"))
  }

  val watermarkAuditSql: String =
    s"""WITH e AS (SELECT user_id, event_id,
       |    epoch_us(ts) - (CASE WHEN event_id % 7 = 0 THEN 86400000000
       |                         WHEN event_id % 23 = 0 THEN 300000000
       |                         ELSE 0 END) AS ts_us
       |  FROM events),
       |m AS (SELECT user_id, event_id, ts_us,
       |    MAX(ts_us) OVER (PARTITION BY user_id ORDER BY event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_seen_us
       |  FROM e),
       |l AS (SELECT user_id, ts_us, max_seen_us,
       |    max_seen_us IS NOT NULL AND ts_us < max_seen_us - $WatermarkDelayMicros AS late
       |  FROM m)
       |SELECT user_id,
       |  COUNT(*) AS n_events,
       |  CAST(SUM(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       |  COALESCE(MAX(CASE WHEN late THEN max_seen_us - $WatermarkDelayMicros - ts_us END), 0) AS max_lateness_us,
       |  CAST(ROUND(CAST(SUM(CASE WHEN late THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS BIGINT) AS late_rate_e6
       |FROM l GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- q197: watermark-delay sizing sweep ----

  val SweepDelaysUs: Seq[Long] =
    Seq(60000000L, 600000000L, 3600000000L, 86400000000L)

  /** q197: the watermark SIZING curve — q179's late-data audit swept
    * across candidate allowed-delays (1 min / 10 min / 1 h / 1 d),
    * reporting per delay the corpus totals of the tradeoff a streaming
    * deployment actually prices: events DROPPED as too late (lost
    * data) vs out-of-order events the state store must buffer and
    * merge (state cost). Longer delays drop less and buffer more; the
    * curve says where the knee is BEFORE `withWatermark` commits.
    * Extends the operating-curve family (q160 grams, q180 bands, q194
    * k) to the streaming dimension.
    *
    * Scale shape: the expensive part — the per-user arrival-ordered
    * running max — is computed ONCE on a staged base (bounded
    * partitions, q179's shape); the four delays then fan out map-side
    * (a 4x explode of an already-aggregable row) into one
    * partial-agg-friendly 4-group aggregation. */
  def watermarkSweep(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val skew = when(col("event_id") % 7 === 0, lit(86400000000L))
      .when(col("event_id") % 23 === 0, lit(300000000L))
      .otherwise(lit(0L))
    val base = graft.operators.Dedup.stage(Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        (unix_micros(col("ts")) - skew).as("ts_us"))
      .withColumn("max_seen_us", max(col("ts_us")).over(w)))
    base
      .withColumn("delay_us", explode(array(SweepDelaysUs.map(lit): _*)))
      .withColumn("late",
        col("max_seen_us").isNotNull &&
          col("ts_us") < col("max_seen_us") - col("delay_us"))
      .withColumn("ooo_buffered",
        col("max_seen_us").isNotNull && col("ts_us") < col("max_seen_us") && !col("late"))
      .groupBy(col("delay_us"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late"),
        sum(when(col("ooo_buffered"), 1L).otherwise(0L)).as("n_ooo_buffered"),
        coalesce(max(when(col("late"),
          col("max_seen_us") - col("delay_us") - col("ts_us"))), lit(0L))
          .as("max_lateness_us"))
      .withColumn("late_rate_e6",
        round(col("n_late").cast("double") / col("n_events").cast("double") *
          lit(1000000.0)).cast("long"))
      .select(col("delay_us"), col("n_events"), col("n_late"),
        col("n_ooo_buffered"), col("max_lateness_us"), col("late_rate_e6"))
      .orderBy(col("delay_us"))
  }

  val watermarkSweepSql: String = {
    val delays = SweepDelaysUs.mkString("[", ", ", "]")
    s"""WITH e AS (SELECT user_id, event_id,
       |    epoch_us(ts) - (CASE WHEN event_id % 7 = 0 THEN 86400000000
       |                         WHEN event_id % 23 = 0 THEN 300000000
       |                         ELSE 0 END) AS ts_us
       |  FROM events),
       |m AS (SELECT user_id, event_id, ts_us,
       |    MAX(ts_us) OVER (PARTITION BY user_id ORDER BY event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_seen_us
       |  FROM e),
       |f AS (SELECT m.*, CAST(d.delay_us AS BIGINT) AS delay_us,
       |    max_seen_us IS NOT NULL AND ts_us < max_seen_us - d.delay_us AS late,
       |    max_seen_us IS NOT NULL AND ts_us < max_seen_us
       |      AND NOT (max_seen_us IS NOT NULL AND ts_us < max_seen_us - d.delay_us) AS ooo_buffered
       |  FROM m CROSS JOIN UNNEST($delays) AS d(delay_us))
       |SELECT delay_us,
       |  COUNT(*) AS n_events,
       |  CAST(SUM(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       |  CAST(SUM(CASE WHEN ooo_buffered THEN 1 ELSE 0 END) AS BIGINT) AS n_ooo_buffered,
       |  COALESCE(MAX(CASE WHEN late THEN max_seen_us - delay_us - ts_us END), 0) AS max_lateness_us,
       |  CAST(ROUND(CAST(SUM(CASE WHEN late THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS BIGINT) AS late_rate_e6
       |FROM f GROUP BY delay_us ORDER BY delay_us""".stripMargin
  }

  // ---- q198: inter-arrival SLO percentiles (HDR-style buckets) ----

  /** q198: the latency-SLO report shape over event inter-arrival
    * times: per-user gaps (arrival order ts, then event_id) land in
    * exponential (floor-log2 ms) buckets — the HDR-histogram recipe
    * every SLO system uses, because exact percentiles of raw
    * microsecond values would make the percentile pass scale with the
    * CORPUS's distinct values while log2 buckets are a fixed ~40-row
    * dim at any scale. Per event type: gap count, bucket-resolution
    * p50/p95/p99 (reported as the bucket's inclusive upper bound in
    * ms) and the exact max gap.
    *
    * Scale shape: one shuffle on user_id for the per-user lag
    * (bounded partitions); one (type, bucket) hash agg; the
    * cumulative/percentile pass windows over the BUCKET dim within
    * type (~40 rows). Integer predicates pick percentile buckets
    * (cum*2 >= n etc.), so both engines agree exactly. */
  def gapSlo(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val gaps = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
      .filter(col("prev_us").isNotNull)
      .withColumn("gap_ms", expr("(ts_us - prev_us) div 1000"))
      .withColumn("bucket", length(bin(col("gap_ms") + 1)).cast("long"))
    val cell = gaps.groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("c"), max(col("gap_ms")).as("bmax"))
    val wb = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
    val cum = cell
      .withColumn("cum", sum(col("c")).over(
        wb.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum(col("c")).over(
        Window.partitionBy(col("event_type"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    def pick(pred: org.apache.spark.sql.Column) =
      min(when(pred, expr("cast(pow(2, bucket) as bigint) - 1")))
    cum.groupBy(col("event_type"))
      .agg(max(col("n")).as("n_gaps"),
        pick(col("cum") * 2 >= col("n")).as("p50_ms_ub"),
        pick(col("cum") * 20 >= col("n") * 19).as("p95_ms_ub"),
        pick(col("cum") * 100 >= col("n") * 99).as("p99_ms_ub"),
        max(col("bmax")).as("max_gap_ms"))
      .orderBy(col("event_type"))
  }

  val gapSloSql: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
       |g AS (SELECT event_type,
       |    (ts_us - LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)) // 1000 AS gap_ms
       |  FROM e),
       |gb AS (SELECT event_type, gap_ms,
       |    CAST(length(bin(gap_ms + 1)) AS BIGINT) AS bucket
       |  FROM g WHERE gap_ms IS NOT NULL),
       |cell AS (SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS c,
       |    CAST(MAX(gap_ms) AS BIGINT) AS bmax
       |  FROM gb GROUP BY event_type, bucket),
       |cum AS (SELECT event_type, bucket, c, bmax,
       |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
       |  FROM cell)
       |SELECT event_type,
       |  MAX(n) AS n_gaps,
       |  CAST(MIN(CASE WHEN cum * 2 >= n THEN CAST(pow(2, bucket) AS BIGINT) - 1 END) AS BIGINT) AS p50_ms_ub,
       |  CAST(MIN(CASE WHEN cum * 20 >= n * 19 THEN CAST(pow(2, bucket) AS BIGINT) - 1 END) AS BIGINT) AS p95_ms_ub,
       |  CAST(MIN(CASE WHEN cum * 100 >= n * 99 THEN CAST(pow(2, bucket) AS BIGINT) - 1 END) AS BIGINT) AS p99_ms_ub,
       |  MAX(bmax) AS max_gap_ms
       |FROM cum GROUP BY event_type ORDER BY event_type""".stripMargin

  val queries: Map[String, Q] = Map(
    "q197_watermark_sweep" -> (watermarkSweep _),
    "q198_gap_slo" -> (gapSlo _),
    "q30_tumbling_agg" -> (tumblingAgg _),
    "q31_sessionize" -> (sessionize _),
    "q32_funnel" -> (funnel _),
    "q83_rolling_features" -> (rollingFeatures _),
    "q100_gap_fill" -> (gapFill _),
    "q179_watermark_audit" -> (watermarkAudit _))

  val oracles: Map[String, String] = Map(
    "q197_watermark_sweep" -> watermarkSweepSql,
    "q198_gap_slo" -> gapSloSql,
    "q30_tumbling_agg" -> tumblingAggSql,
    "q31_sessionize" -> sessionizeSql,
    "q32_funnel" -> funnelSql,
    "q83_rolling_features" -> rollingFeaturesSql,
    "q100_gap_fill" -> gapFillSql,
    "q179_watermark_audit" -> watermarkAuditSql)
}
