package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.operators.{Dedup, EventOps}

/** Event-stream operating analytics beyond windows/sessions/funnels
  * (layer G of SURVEY.md §2): trailing-window ingest dedup, CUSUM
  * change-point statistics, leaky-bucket rate-limit audit, Markov
  * transition structure and Kaplan-Meier survival. The reference's
  * collector re-visits portals continuously
  * (servico_coleta_noticias.py) and dedups re-crawls on exact identity;
  * these queries add the TIME dimension every production ingest needs:
  * when is a re-occurrence a duplicate vs a legitimate new snapshot,
  * when has a stream's rate drifted, which producers exceed their
  * budget, how do users move between event states, and how long do
  * they survive.
  *
  * The sequential recurrences (CUSUM, bucket level) run through
  * [[EventOps.reflect]]'s closed form — ordinary partitioned windows,
  * no iteration — so every query here is one shuffle on its natural
  * key plus per-key ordered scans.
  */
object EventOpsQueries extends QueryFamily {

  /** Re-occurrences of the same (user, type, props) within 3 days chain
    * into one duplicate group; a later re-occurrence starts a fresh
    * chain (a new legitimate snapshot). */
  val ChainGapMicros: Long = 3L * 86400 * 1000000

  /** Leaky bucket: each event deposits C micro-tokens; the bucket
    * drains 1 micro-token per microsecond (so one event's deposit
    * drains in 12 h); level above 3 deposits is a violation. */
  val BucketCostMicro: Long = 43_200_000_000L
  val BucketCapMicro: Long = 3 * BucketCostMicro

  /** CUSUM alarm threshold: 6x the mean absolute deviation of the
    * per-day counts of that event type. */
  val CusumMadMult = 6L

  /** Markov stationary distribution: fixed integer power-iteration
    * rounds (e6 scale, truncating division — both engines identical). */
  val MarkovRounds = 10

  /** Kaplan-Meier censoring: subjects whose last event falls within
    * the final 4 days of the observation window are censored (still
    * active), not churned. */
  val CensorWindowMicros: Long = 4L * 86400 * 1000000

  // ---- q202: trailing-window temporal dedup ----

  /** q202: chain-dedup of identical re-occurrences. Key = (user_id,
    * event_type, props); occurrences ordered in time chain together
    * while consecutive gaps stay within [[ChainGapMicros]], and each
    * chain keeps its first event as the survivor. This is ingest dedup
    * with a TIME horizon: a re-crawl 2 days later is the same article
    * (drop it), a re-crawl 3 weeks later is a new snapshot (keep it) —
    * the grain between q09's exact ingest identity and q175's
    * snapshot ledger.
    *
    * Scale: one shuffle on the content key; per-key windows touch only
    * that key's occurrence list (bounded by the duplication factor —
    * and content keys are near-unique by construction, so no skew). */
  def temporalDedup(s: SparkSession, dir: String): DataFrame =
    chainDedup(Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("props"),
        unix_micros(col("ts")).as("ts_us"), col("event_id")))

  /** The chain-dedup core over (user_id, event_type, props, ts_us,
    * event_id) rows — shared by q202 and the streaming dual's
    * batch-equivalence spec (`Streaming.temporalDedup`). */
  def chainDedup(e: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"), col("event_type"), col("props"))
      .orderBy(col("ts_us"), col("event_id"))
    e.withColumn("prev_us", lag(col("ts_us"), 1).over(w))
      .withColumn("new_chain",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > ChainGapMicros, 1L).otherwise(0L))
      .withColumn("chain_seq", sum(col("new_chain")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("event_type"), col("props"), col("chain_seq"))
      .agg(
        max(when(col("new_chain") === 1L, col("event_id"))).as("survivor_event_id"),
        count(lit(1)).as("n_events"),
        (count(lit(1)) - 1L).as("n_dups"),
        expr("(max(ts_us) - min(ts_us)) div 1000000").as("span_s"))
      .orderBy(col("survivor_event_id"))
  }

  val temporalDedupSql: String =
    s"""WITH e AS (SELECT user_id, event_type, props, epoch_us(ts) AS ts_us, event_id
       |  FROM events),
       |flagged AS (SELECT *,
       |    CASE WHEN lag(ts_us) OVER w IS NULL
       |         OR ts_us - lag(ts_us) OVER w > $ChainGapMicros THEN 1 ELSE 0 END AS new_chain
       |  FROM e WINDOW w AS (PARTITION BY user_id, event_type, props ORDER BY ts_us, event_id)),
       |chained AS (SELECT *,
       |    CAST(SUM(new_chain) OVER (PARTITION BY user_id, event_type, props
       |      ORDER BY ts_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS chain_seq
       |  FROM flagged)
       |SELECT user_id, event_type, props, chain_seq,
       |  MAX(CASE WHEN new_chain = 1 THEN event_id END) AS survivor_event_id,
       |  COUNT(*) AS n_events,
       |  COUNT(*) - 1 AS n_dups,
       |  (MAX(ts_us) - MIN(ts_us)) // 1000000 AS span_s
       |FROM chained
       |GROUP BY user_id, event_type, props, chain_seq
       |ORDER BY survivor_event_id""".stripMargin

  // ---- q208: CUSUM change-point statistics ----

  /** q208: Page's CUSUM over the per-type daily event counts. The
    * clamped recurrence S_t = max(0, S_{t-1} + dev_t) (and its mirror
    * for downward drift) is evaluated via [[EventOps.reflect]]'s
    * prefix-sum closed form — no iteration, bit-exact integers
    * (milli-units; deviation reference = the type's own mean daily
    * count, alarm threshold = [[CusumMadMult]]x its mean absolute
    * deviation, both truncating integer divisions).
    *
    * Scale: the corpus collapses to a (type x day) dim table in one
    * hash aggregation; every window below runs on that dim table. */
  def cusumChangepoint(s: SparkSession, dir: String): DataFrame = {
    val wt = Window.partitionBy(col("event_type"))
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("total", sum(col("cnt")).over(wt))
      .withColumn("ndays", count(lit(1)).over(wt))
      .withColumn("mean_milli", expr("total * 1000 div ndays"))
      .withColumn("dev_milli", col("cnt") * 1000 - col("mean_milli"))
      .withColumn("mad_milli",
        expr("sum(abs(dev_milli)) over (partition by event_type) div ndays"))
      .withColumn("neg_dev_milli", -col("dev_milli"))
    val pos = EventOps.reflect(daily, "dev_milli", "cusum_pos_milli",
      "event_type", Seq("day"))
    EventOps.reflect(pos, "neg_dev_milli", "cusum_neg_milli",
      "event_type", Seq("day"))
      .withColumn("alarm_pos", col("cusum_pos_milli") > col("mad_milli") * CusumMadMult)
      .withColumn("alarm_neg", col("cusum_neg_milli") > col("mad_milli") * CusumMadMult)
      .select(col("event_type"), col("day"), col("cnt"), col("mean_milli"),
        col("dev_milli"), col("mad_milli"), col("cusum_pos_milli"),
        col("cusum_neg_milli"), col("alarm_pos"), col("alarm_neg"))
      .orderBy(col("event_type"), col("day"))
  }

  val cusumChangepointSql: String =
    s"""WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1, 2),
       |stats AS (SELECT *,
       |    CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS total,
       |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS ndays
       |  FROM daily),
       |dev AS (SELECT *, total * 1000 // ndays AS mean_milli,
       |    cnt * 1000 - total * 1000 // ndays AS dev_milli
       |  FROM stats),
       |mad AS (SELECT *,
       |    CAST(SUM(abs(dev_milli)) OVER (PARTITION BY event_type) AS BIGINT) // ndays AS mad_milli
       |  FROM dev),
       |pre AS (SELECT *,
       |    SUM(dev_milli) OVER w AS p_pos, SUM(-dev_milli) OVER w AS p_neg
       |  FROM mad WINDOW w AS (PARTITION BY event_type ORDER BY day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |ref AS (SELECT *,
       |    p_pos - LEAST(0, MIN(p_pos) OVER w) AS cusum_pos_milli,
       |    p_neg - LEAST(0, MIN(p_neg) OVER w) AS cusum_neg_milli
       |  FROM pre WINDOW w AS (PARTITION BY event_type ORDER BY day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT event_type, day, cnt, mean_milli, dev_milli, mad_milli,
       |  CAST(cusum_pos_milli AS BIGINT) AS cusum_pos_milli,
       |  CAST(cusum_neg_milli AS BIGINT) AS cusum_neg_milli,
       |  cusum_pos_milli > $CusumMadMult * mad_milli AS alarm_pos,
       |  cusum_neg_milli > $CusumMadMult * mad_milli AS alarm_neg
       |FROM ref
       |ORDER BY event_type, day""".stripMargin

  // ---- q210: leaky-bucket rate-limit audit ----

  /** q210: per-user leaky-bucket levels at every arrival, in closed
    * form. The bucket recurrence L_i = max(0, L_{i-1} - drain) + C is
    * Lindley's recursion; with B = L - C it is exactly the clamped sum
    * [[EventOps.reflect]] solves, so per-event levels come from two
    * window aggregates over one per-user ordered scan — the shape that
    * audits a billion-user event log without any stateful loop.
    * Violations = events whose post-deposit level exceeds
    * [[BucketCapMicro]] (a burst budget of 3 deposits). */
  def leakyBucket(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val leveled = EventOps.reflect(
      Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
        .withColumn("dt", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .withColumn("d",
          when(col("dt").isNull, 0L).otherwise(lit(BucketCostMicro) - col("dt"))),
      "d", "b", "user_id", Seq("ts_us", "event_id"))
      .withColumn("lvl", col("b") + BucketCostMicro)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").desc, col("event_id").desc)))
    leveled
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        max(col("lvl")).as("max_level_micro"),
        sum(when(col("lvl") > BucketCapMicro, 1L).otherwise(0L)).as("n_over_cap"),
        max(when(col("rn") === 1, col("lvl"))).as("end_level_micro"))
      .orderBy(col("user_id"))
  }

  val leakyBucketSql: String =
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events),
       |d AS (SELECT *,
       |    CASE WHEN lag(ts_us) OVER w IS NULL THEN 0
       |         ELSE $BucketCostMicro - (ts_us - lag(ts_us) OVER w) END AS d
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
       |p AS (SELECT *, SUM(d) OVER w AS pd
       |  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |lvl AS (SELECT *,
       |    pd - LEAST(0, MIN(pd) OVER w) + $BucketCostMicro AS lvl,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn
       |  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT user_id,
       |  COUNT(*) AS n_events,
       |  CAST(MAX(lvl) AS BIGINT) AS max_level_micro,
       |  CAST(SUM(CASE WHEN lvl > $BucketCapMicro THEN 1 ELSE 0 END) AS BIGINT) AS n_over_cap,
       |  CAST(MAX(CASE WHEN rn = 1 THEN lvl END) AS BIGINT) AS end_level_micro
       |FROM lvl
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin

  // ---- q211: Markov transition structure ----

  /** q211: the event-type Markov chain — per-user consecutive-event
    * transitions, row-stochastic probabilities (e6 integers), and the
    * stationary distribution by integer power iteration. The corpus
    * stage is one per-user lead() window + one hash aggregation; the
    * 5x5 transition matrix is a bounded model (collected like the ANN
    * codebooks) and the iteration runs on it in exact integer
    * arithmetic — [[MarkovRounds]] rounds of pi'(t) = sum_s
    * pi(s)*p_e6(s,t) div 1e6, identical on both engines. */
  def markovTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val trans = Dedup.stage(
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("n_from",
          sum(col("n")).over(Window.partitionBy(col("from_type"))))
        .withColumn("p_e6", expr("n * 1000000 div n_from")))
    // bounded model: |types|^2 rows
    val m = trans.select(col("from_type"), col("to_type"), col("p_e6")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val states = m.keys.map(_._1).toSeq.distinct.sorted
    var pi: Map[String, Long] = states.map(_ -> 1000000L / states.size).toMap
    for (_ <- 1 to MarkovRounds)
      pi = states.map { t =>
        t -> states.map(f => pi(f) * m.getOrElse((f, t), 0L) / 1000000L).sum
      }.toMap
    val piDf = s.createDataFrame(states.map(t => (t, pi(t))))
      .toDF("from_type", "pi_from_e6")
    trans.join(broadcast(piDf), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"), col("p_e6"),
        col("pi_from_e6"))
      .orderBy(col("from_type"), col("to_type"))
  }

  val markovTransitionsSql: String =
    s"""WITH RECURSIVE e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
       |  FROM events),
       |pairs AS (SELECT event_type AS from_type,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS to_type
       |  FROM e),
       |trans AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |p AS (SELECT *,
       |    CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from,
       |    n * 1000000 // CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS p_e6
       |  FROM trans),
       |states AS (SELECT DISTINCT from_type AS t FROM trans),
       |it AS (
       |  SELECT 0 AS round, t,
       |    CAST(1000000 // (SELECT COUNT(*) FROM states) AS BIGINT) AS pi
       |  FROM states
       |  UNION ALL
       |  -- every state keeps a row each round (CROSS JOIN states +
       |  -- LEFT JOIN): a source-only state (never a to_type) must
       |  -- carry pi = 0 forward, matching the Spark side's dense
       |  -- states.map fold, instead of vanishing from the fixpoint
       |  SELECT it.round + 1, s.t,
       |    CAST(COALESCE(SUM(it.pi * p.p_e6 // 1000000), 0) AS BIGINT)
       |  FROM it CROSS JOIN states s
       |  LEFT JOIN p ON p.from_type = it.t AND p.to_type = s.t
       |  WHERE it.round < $MarkovRounds
       |  GROUP BY it.round + 1, s.t)
       |SELECT p.from_type, p.to_type, p.n, p.p_e6, it.pi AS pi_from_e6
       |FROM p JOIN it ON it.t = p.from_type AND it.round = $MarkovRounds
       |ORDER BY p.from_type, p.to_type""".stripMargin

  // ---- q212: Kaplan-Meier survival ----

  /** q212: Kaplan-Meier survival with right censoring. Subject =
    * (user, event_type) — how long a user keeps exercising each event
    * kind. Lifetime = days between the subject's first and last event;
    * subjects whose last event falls inside the final
    * [[CensorWindowMicros]] of the observation window are censored
    * (still active), contributing to the risk sets but not to deaths.
    * The survival curve is the classic product-limit estimator in e6
    * integers (truncating division at every step, so both engines walk
    * identical values).
    *
    * Scale: the corpus collapses to one row per user (one hash agg),
    * then one row per distinct lifetime day — the cumulative product
    * folds over that <=O(days) dim array in-plan. */
  def kaplanMeier(s: SparkSession, dir: String): DataFrame = {
    val wAll = Window.partitionBy()
    val life = Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"))
      .withColumn("max_last", max(col("last_us")).over(wAll))
      .withColumn("day", expr("(last_us - first_us) div 86400000000"))
      .withColumn("cens",
        when(col("last_us") > col("max_last") - CensorWindowMicros, 1L).otherwise(0L))
    val days = life
      .groupBy(col("day"))
      .agg(sum(lit(1L) - col("cens")).as("deaths"), sum(col("cens")).as("ncens"))
      .withColumn("total", sum(col("deaths") + col("ncens")).over(wAll))
      .withColumn("removed_before", coalesce(
        sum(col("deaths") + col("ncens")).over(
          Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("n_risk", col("total") - col("removed_before"))
      .filter(col("deaths") > 0)
    days
      .agg(sort_array(collect_list(struct(col("day"), col("n_risk"),
        col("deaths")))).as("ds"))
      .select(explode(expr(
        """aggregate(
          |  ds,
          |  named_struct('s', CAST(1000000 AS BIGINT),
          |    'out', CAST(array() AS ARRAY<STRUCT<t_day: BIGINT, n_risk: BIGINT, n_deaths: BIGINT, surv_e6: BIGINT>>)),
          |  (acc, x) -> named_struct(
          |    's', acc.s * (x.n_risk - x.deaths) div x.n_risk,
          |    'out', array_append(acc.out, named_struct(
          |      't_day', x.day, 'n_risk', x.n_risk, 'n_deaths', x.deaths,
          |      'surv_e6', acc.s * (x.n_risk - x.deaths) div x.n_risk))),
          |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("r.t_day"), col("r.n_risk"), col("r.n_deaths"), col("r.surv_e6"))
      .orderBy(col("t_day"))
  }

  val kaplanMeierSql: String =
    s"""WITH RECURSIVE life AS (SELECT user_id, event_type,
       |    MIN(epoch_us(ts)) AS first_us, MAX(epoch_us(ts)) AS last_us
       |  FROM events GROUP BY user_id, event_type),
       |lab AS (SELECT user_id,
       |    (last_us - first_us) // 86400000000 AS day,
       |    CASE WHEN last_us > (SELECT MAX(last_us) FROM life) - $CensorWindowMicros
       |      THEN 1 ELSE 0 END AS cens
       |  FROM life),
       |days AS (SELECT day,
       |    CAST(SUM(1 - cens) AS BIGINT) AS deaths,
       |    CAST(SUM(cens) AS BIGINT) AS ncens
       |  FROM lab GROUP BY day),
       |risk AS (SELECT day, deaths, ncens,
       |    (SELECT COUNT(*) FROM lab) - COALESCE(SUM(deaths + ncens) OVER (
       |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
       |  FROM days),
       |d AS (SELECT row_number() OVER (ORDER BY day) AS i, day,
       |    CAST(n_risk AS BIGINT) AS n_risk, deaths
       |  FROM risk WHERE deaths > 0),
       |km AS (
       |  SELECT 0 AS i, CAST(NULL AS BIGINT) AS day,
       |    CAST(NULL AS BIGINT) AS n_risk, CAST(NULL AS BIGINT) AS deaths,
       |    CAST(1000000 AS BIGINT) AS s
       |  UNION ALL
       |  SELECT d.i, d.day, d.n_risk, d.deaths,
       |    km.s * (d.n_risk - d.deaths) // d.n_risk
       |  FROM km JOIN d ON d.i = km.i + 1)
       |SELECT day AS t_day, n_risk, deaths AS n_deaths, s AS surv_e6
       |FROM km WHERE i > 0
       |ORDER BY t_day""".stripMargin

  // ---- q218: per-type dwell-time profile ----

  /** q218: dwell time per event type — the gap from each event to the
    * user's NEXT event, attributed to the current event's type (how
    * long does a user linger after a click vs an error?). Exact
    * integer microsecond gaps; per type: events with a successor,
    * mean dwell, max dwell, and the share of dwells under one minute.
    * One lead() over the per-user ordered pass; type-keyed rollup. */
  def dwellTime(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .withColumn("dwell_us", lead(col("ts_us"), 1).over(w) - col("ts_us"))
      .filter(col("dwell_us").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("dwell_us")).as("dwell_sum_us"),
        max(col("dwell_us")).as("max_dwell_us"),
        sum(when(col("dwell_us") < 60000000L, 1L).otherwise(0L)).as("n_under_min"))
      .withColumn("mean_dwell_us", expr("dwell_sum_us div n"))
      .withColumn("under_min_e6", expr("n_under_min * 1000000 div n"))
      .select(col("event_type"), col("n"), col("mean_dwell_us"),
        col("max_dwell_us"), col("n_under_min"), col("under_min_e6"))
      .orderBy(col("event_type"))
  }

  val dwellTimeSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events),
      |d AS (SELECT event_type,
      |    lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) - ts_us AS dwell_us
      |  FROM e),
      |g AS (SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(dwell_us) AS BIGINT) AS dwell_sum_us,
      |    CAST(MAX(dwell_us) AS BIGINT) AS max_dwell_us,
      |    CAST(SUM(CASE WHEN dwell_us < 60000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_under_min
      |  FROM d WHERE dwell_us IS NOT NULL GROUP BY event_type)
      |SELECT event_type, n,
      |  dwell_sum_us // n AS mean_dwell_us,
      |  max_dwell_us, n_under_min,
      |  n_under_min * 1000000 // n AS under_min_e6
      |FROM g
      |ORDER BY event_type""".stripMargin

  // ---- q230: last-touch marketing attribution ----

  /** Purchases attribute to the latest preceding touch within 7 days. */
  val AttribWindowMicros: Long = 7L * 86400 * 1000000

  /** q230: last-touch revenue attribution — every purchase is credited
    * to the user's most recent click/view within [[AttribWindowMicros]]
    * (else the 'direct' channel), then channels roll up purchases,
    * cents, mean latency and revenue share. The attribution lookup is
    * a BACKWARD-looking ignore-nulls `last()` window over the same
    * per-user ordered pass sessionization uses — no as-of self-join,
    * no range join, one shuffle on user_id. */
  def attribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = col("event_type") === "click" || col("event_type") === "view"
    val wAll = Window.partitionBy()
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("lt_ts", last(when(touch, col("ts_us")), ignoreNulls = true).over(w))
      .withColumn("lt_type", last(when(touch, col("event_type")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("channel",
        when(col("lt_ts").isNotNull &&
          col("ts_us") - col("lt_ts") <= AttribWindowMicros, col("lt_type"))
          .otherwise(lit("direct")))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("cents")).as("cents"),
        sum(when(col("channel") =!= "direct", col("ts_us") - col("lt_ts")))
          .as("latency_sum_us"))
      .withColumn("mean_latency_s",
        expr("latency_sum_us div (greatest(n_purchases, 1) * 1000000)"))
      .withColumn("share_e6", expr("n_purchases * 1000000 div sum(n_purchases) over ()"))
      .select(col("channel"), col("n_purchases"), col("cents"),
        col("mean_latency_s"), col("share_e6"))
      .orderBy(col("channel"))
  }

  val attributionSql: String =
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
       |    CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events),
       |t AS (SELECT *,
       |    last_value(CASE WHEN event_type IN ('click', 'view') THEN ts_us END IGNORE NULLS)
       |      OVER w AS lt_ts,
       |    last_value(CASE WHEN event_type IN ('click', 'view') THEN event_type END IGNORE NULLS)
       |      OVER w AS lt_type
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       |p AS (SELECT *,
       |    CASE WHEN lt_ts IS NOT NULL AND ts_us - lt_ts <= $AttribWindowMicros
       |      THEN lt_type ELSE 'direct' END AS channel
       |  FROM t WHERE event_type = 'purchase'),
       |g AS (SELECT channel, COUNT(*) AS n_purchases,
       |    CAST(SUM(cents) AS BIGINT) AS cents,
       |    CAST(SUM(CASE WHEN channel <> 'direct' THEN ts_us - lt_ts END) AS BIGINT) AS latency_sum_us
       |  FROM p GROUP BY channel)
       |SELECT channel, n_purchases, cents,
       |  latency_sum_us // (GREATEST(n_purchases, 1) * 1000000) AS mean_latency_s,
       |  n_purchases * 1000000 // CAST(SUM(n_purchases) OVER () AS BIGINT) AS share_e6
       |FROM g
       |ORDER BY channel""".stripMargin

  val queries: Map[String, Q] = Map(
    "q202_temporal_dedup" -> (temporalDedup _),
    "q218_dwell_time" -> (dwellTime _),
    "q230_attribution" -> (attribution _),
    "q208_cusum_changepoint" -> (cusumChangepoint _),
    "q210_leaky_bucket" -> (leakyBucket _),
    "q211_markov_transitions" -> (markovTransitions _),
    "q212_kaplan_meier" -> (kaplanMeier _))

  val oracles: Map[String, String] = Map(
    "q202_temporal_dedup" -> temporalDedupSql,
    "q218_dwell_time" -> dwellTimeSql,
    "q230_attribution" -> attributionSql,
    "q208_cusum_changepoint" -> cusumChangepointSql,
    "q210_leaky_bucket" -> leakyBucketSql,
    "q211_markov_transitions" -> markovTransitionsSql,
    "q212_kaplan_meier" -> kaplanMeierSql)
}
