package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** q243: the pending-news delivery queue's at-least-once state
  * machine (services/extraction/adapters/pending_news_queue.py:26-71)
  * replayed from an event-sourced ops log.
  *
  * The reference coordinates API and worker through an in-memory
  * queue: `enqueue` appends UNLESS the url is currently in flight
  * (duplicates in the waiting queue itself ARE allowed — only the
  * inflight dict dedups, :30-33), `pull` moves a document from the
  * queue head into the inflight dict (:35-44), `ack` confirms and
  * drops it (:46-50), `retry` returns it to the back of the queue
  * (:52-58), and `queued_count`/`inflight_count` report the two
  * depths (:60-71).
  *
  * Spark-first re-expression: the log records which url each op
  * touched (what any durable event-sourced queue persists), so the
  * fold is per-url independent and needs NO sequential driver loop —
  * inflight-at-any-point is "the most recent pull/ack/retry is a
  * pull" (one window), an enqueue is DROPPED exactly when that holds
  * (:31-32), and the final depth is kept-enqueues + retries - pulls.
  * One partition-local window + one hash aggregation; the global
  * depths are a 1-row broadcast. At 100 TB the log shuffles once on
  * url and everything else is map-side.
  */
object QueueReplayQueries extends QueryFamily {

  /** Scripted op sequences, one family per doc_id mod 6, covering:
    * clean delivery, retry-then-deliver, retry-left-queued, stuck
    * inflight, the inflight-dedup DROP of a concurrent enqueue, and
    * the duplicate-in-queue multiplicity the reference allows. */
  val OpScript: Seq[(Long, Long, String)] = Seq(
    (0L, 1L, "enqueue"), (0L, 2L, "pull"), (0L, 3L, "ack"),
    (1L, 1L, "enqueue"), (1L, 2L, "pull"), (1L, 3L, "retry"),
    (1L, 4L, "pull"), (1L, 5L, "ack"),
    (2L, 1L, "enqueue"), (2L, 2L, "pull"), (2L, 3L, "retry"),
    (3L, 1L, "enqueue"), (3L, 2L, "pull"),
    (4L, 1L, "enqueue"), (4L, 2L, "pull"), (4L, 3L, "enqueue"),
    (4L, 4L, "ack"), (4L, 5L, "enqueue"),
    (5L, 1L, "enqueue"), (5L, 2L, "enqueue"), (5L, 3L, "pull"),
    (5L, 4L, "ack"))

  def queueReplay(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val script = OpScript.toDF("fam", "seq", "op")
    val log = Tables.documents(s, dir)
      .select(col("doc_id"), (col("doc_id") % 6).as("fam"),
        concat(lit("https://"), col("source"), lit("/news/"),
          col("doc_id").cast("string")).as("url"))
      .join(broadcast(script), Seq("fam"))
    val wPrev = Window.partitionBy(col("url")).orderBy(col("seq"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val folded = log
      .withColumn("par_op",
        when(col("op").isin("pull", "ack", "retry"), col("op")))
      .withColumn("last_par", last(col("par_op"), ignoreNulls = true).over(wPrev))
      .withColumn("inflight_before", col("last_par") === "pull")
      .withColumn("dropped",
        col("op") === "enqueue" && coalesce(col("inflight_before"), lit(false)))
    val perUrl = folded.groupBy(col("url"), col("fam"))
      .agg(
        count(lit(1)).as("n_ops"),
        (sum(when(col("op") === "enqueue" && !col("dropped"), 1L).otherwise(0L))
          + sum(when(col("op") === "retry", 1L).otherwise(0L))
          - sum(when(col("op") === "pull", 1L).otherwise(0L))).as("queued_n"),
        (max(when(col("par_op").isNotNull, struct(col("seq"), col("par_op"))))
          .getField("par_op") === "pull").as("inflight_raw"),
        sum(when(col("dropped"), 1L).otherwise(0L)).as("dropped_n"),
        sum(when(col("op") === "ack", 1L).otherwise(0L)).as("acked_n"),
        sum(when(col("op") === "retry", 1L).otherwise(0L)).as("retried_n"))
      .withColumn("inflight", coalesce(col("inflight_raw"), lit(false)))
      .drop("inflight_raw")
    val totals = perUrl.agg(
      sum(col("queued_n")).as("queued_count"),
      sum(when(col("inflight"), 1L).otherwise(0L)).as("inflight_count"))
    perUrl.crossJoin(broadcast(totals))
      .select(col("url"), col("fam"), col("n_ops"), col("queued_n"),
        col("inflight"), col("dropped_n"), col("acked_n"), col("retried_n"),
        col("queued_count"), col("inflight_count"))
      .orderBy(col("url"))
  }

  val queueReplaySql: String = {
    val values = OpScript
      .map { case (f, q, o) => s"($f, $q, '$o')" }.mkString(", ")
    s"""WITH script(fam, seq, op) AS (VALUES $values),
       |log AS (SELECT d.url, d.fam, s.seq, s.op
       |  FROM (SELECT doc_id % 6 AS fam,
       |          'https://' || source || '/news/' || CAST(doc_id AS VARCHAR) AS url
       |        FROM documents) d
       |  JOIN script s ON s.fam = d.fam),
       |folded AS (SELECT *,
       |    CASE WHEN op IN ('pull', 'ack', 'retry') THEN op END AS par_op,
       |    last_value(CASE WHEN op IN ('pull', 'ack', 'retry') THEN op END IGNORE NULLS)
       |      OVER (PARTITION BY url ORDER BY seq
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_par
       |  FROM log),
       |marked AS (SELECT *,
       |    op = 'enqueue' AND COALESCE(last_par = 'pull', FALSE) AS dropped
       |  FROM folded),
       |per_url AS (SELECT url, fam,
       |    CAST(COUNT(*) AS BIGINT) AS n_ops,
       |    CAST(SUM(CASE WHEN op = 'enqueue' AND NOT dropped THEN 1 ELSE 0 END)
       |      + SUM(CASE WHEN op = 'retry' THEN 1 ELSE 0 END)
       |      - SUM(CASE WHEN op = 'pull' THEN 1 ELSE 0 END) AS BIGINT) AS queued_n,
       |    COALESCE(arg_max(par_op, seq) FILTER (WHERE par_op IS NOT NULL) = 'pull',
       |      FALSE) AS inflight,
       |    CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS dropped_n,
       |    CAST(SUM(CASE WHEN op = 'ack' THEN 1 ELSE 0 END) AS BIGINT) AS acked_n,
       |    CAST(SUM(CASE WHEN op = 'retry' THEN 1 ELSE 0 END) AS BIGINT) AS retried_n
       |  FROM marked GROUP BY url, fam),
       |tot AS (SELECT CAST(SUM(queued_n) AS BIGINT) AS queued_count,
       |    CAST(SUM(CASE WHEN inflight THEN 1 ELSE 0 END) AS BIGINT) AS inflight_count
       |  FROM per_url)
       |SELECT p.url, p.fam, p.n_ops, p.queued_n, p.inflight, p.dropped_n,
       |  p.acked_n, p.retried_n, t.queued_count, t.inflight_count
       |FROM per_url p CROSS JOIN tot t
       |ORDER BY p.url""".stripMargin
  }

  val queries: Map[String, Q] = Map("q243_queue_replay" -> (queueReplay _))
  val oracles: Map[String, String] = Map("q243_queue_replay" -> queueReplaySql)
}
