package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** q124: set-wise replay of the news repository's mutation state
  * machine — `mark_processed` / `mark_error`
  * (infrastructure/extraction.py:77-113), the third slice the round-6
  * verdict flagged as missing. Mongo semantics replayed relationally
  * over an ordered event log:
  *
  *  - mark_processed `$set`s ner_done/versions/processed_at and
  *    `$unset`s the errors ARRAY — but NOT last_error (a pinned
  *    quirk: the last failure message survives a later success);
  *  - mark_error `$set`s ner_done=false + last_error and `$push`es an
  *    error entry, with upsert=True — it CREATES the document on miss;
  *  - mark_processed has NO upsert: on a url the collector never
  *    wrote, it is a silent no-op — so processed events BEFORE the
  *    first error of an upserted url must not apply (the document did
  *    not exist yet), which the replay models as a per-url creation
  *    sequence (0 for collector-written urls, the first error's seq
  *    for upsert-created ones);
  *  - the current errors array is therefore the error events SINCE
  *    the last effective processed event.
  *
  * Final state per url: ner_done (last effective event kind),
  * versions/processed_at from the last effective processed event,
  * last_error from the last effective error event, and the surviving
  * errors array as count + first/last message. q62 covers the
  * fetch_pending staleness read and q119 the batch counters; this is
  * the store side they read from, in the q114 replay genre.
  *
  * Scale shape: one window + one aggregation, both hash-partitioned on
  * url alone — Spark reuses the single exchange; the base-url join is
  * key-co-partitioned (no broadcast assumption: the store is as large
  * as the corpus at 100 TB). */
object ErrorReplayQueries extends QueryFamily {

  private val NUrls = 150L

  def errorReplay(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.orders(s, dir).select(
      (col("o_custkey") % NUrls).as("url_id"),
      col("o_orderkey").as("seq"),
      when(col("o_orderkey") % 3 === 0, lit("processed")).otherwise(lit("error")).as("kind"),
      concat(lit("status="), col("o_orderstatus"), lit(" prio="),
        substring(col("o_orderpriority"), 1, 1)).as("message"),
      col("o_orderdate").cast("date").as("ts"),
      concat(lit("ner-"), (col("o_orderkey") % 2).cast("string")).as("nv"),
      concat(lit("gaz-"), (col("o_orderkey") % 3).cast("string")).as("gv"))
    // urls the collector wrote before extraction ran: these documents
    // exist from seq 0; everything else exists only once an error
    // upserts it
    val base = Tables.customer(s, dir)
      .select((col("c_custkey") % NUrls).as("url_id")).distinct()
      .filter(col("url_id") % 5 =!= 4)
      .withColumn("in_base", lit(true))

    val w = Window.partitionBy(col("url_id"))
    val p = col("kind") === "processed"
    val e = col("kind") === "error"
    val eff = events.join(base, Seq("url_id"), "left")
      .withColumn("creation",
        when(col("in_base"), lit(Long.MinValue))
          .otherwise(min(when(e, col("seq"))).over(w)))
      // a processed on a nonexistent document is a silent no-op
      .filter(col("creation").isNotNull && col("seq") >= col("creation"))
      // last effective processed seq: errors after it form the current
      // errors array (same partition key as the groupBy -> one exchange)
      .withColumn("lp", max(when(p, col("seq"))).over(w))
    val cur = e && (col("lp").isNull || col("seq") > col("lp"))
    val state = eff.groupBy(col("url_id"))
      .agg(
        first(col("in_base"), ignoreNulls = true).as("in_base_s"),
        max_by(col("kind"), col("seq")).as("last_kind"),
        max(when(p, struct(col("seq"), col("nv"), col("gv"), col("ts")))).as("lastp"),
        max(when(e, struct(col("seq"), col("message")))).as("laste"),
        sum(when(cur, 1L).otherwise(0L)).as("err_count"),
        min(when(cur, struct(col("seq"), col("message")))).as("ef"),
        max(when(cur, struct(col("seq"), col("message")))).as("el"))
    base.join(state, Seq("url_id"), "full_outer")
      .select(
        col("url_id"),
        concat(lit("https://news.ex/a/"), col("url_id").cast("string")).as("url"),
        (coalesce(col("in_base"), col("in_base_s"), lit(false)) === false).as("upserted"),
        when(col("last_kind").isNotNull, col("last_kind") === "processed").as("ner_done"),
        col("lastp.nv").as("ner_version"),
        col("lastp.gv").as("gazetteer_version"),
        col("lastp.ts").as("processed_at"),
        col("laste.message").as("last_error"),
        coalesce(col("err_count"), lit(0L)).as("err_count"),
        col("ef.message").as("err_first"),
        col("el.message").as("err_last"))
      .orderBy(col("url_id"))
  }

  val errorReplaySql: String =
    s"""WITH events AS (
       |  SELECT o_custkey % $NUrls AS url_id, o_orderkey AS seq,
       |         CASE WHEN o_orderkey % 3 = 0 THEN 'processed' ELSE 'error' END AS kind,
       |         'status=' || o_orderstatus || ' prio=' || substring(o_orderpriority, 1, 1) AS message,
       |         CAST(o_orderdate AS DATE) AS ts,
       |         'ner-' || CAST(o_orderkey % 2 AS VARCHAR) AS nv,
       |         'gaz-' || CAST(o_orderkey % 3 AS VARCHAR) AS gv
       |  FROM orders),
       |base AS (
       |  SELECT DISTINCT c_custkey % $NUrls AS url_id, TRUE AS in_base
       |  FROM customer WHERE (c_custkey % $NUrls) % 5 <> 4),
       |joined AS (
       |  SELECT events.*, base.in_base,
       |         CASE WHEN base.in_base THEN ${Long.MinValue}
       |              ELSE min(CASE WHEN kind = 'error' THEN seq END)
       |                     OVER (PARTITION BY events.url_id) END AS creation
       |  FROM events LEFT JOIN base ON events.url_id = base.url_id),
       |eff AS (
       |  SELECT *, max(CASE WHEN kind = 'processed' THEN seq END)
       |              OVER (PARTITION BY url_id) AS lp
       |  FROM joined WHERE creation IS NOT NULL AND seq >= creation),
       |state AS (
       |  SELECT url_id,
       |         any_value(in_base) AS in_base,
       |         arg_max(kind, seq) AS last_kind,
       |         arg_max(nv, seq) FILTER (WHERE kind = 'processed') AS p_nv,
       |         arg_max(gv, seq) FILTER (WHERE kind = 'processed') AS p_gv,
       |         arg_max(ts, seq) FILTER (WHERE kind = 'processed') AS p_ts,
       |         arg_max(message, seq) FILTER (WHERE kind = 'error') AS last_error,
       |         CAST(count(*) FILTER (WHERE kind = 'error' AND (lp IS NULL OR seq > lp)) AS BIGINT) AS err_count,
       |         arg_min(message, seq) FILTER (WHERE kind = 'error' AND (lp IS NULL OR seq > lp)) AS err_first,
       |         arg_max(message, seq) FILTER (WHERE kind = 'error' AND (lp IS NULL OR seq > lp)) AS err_last
       |  FROM eff GROUP BY url_id)
       |SELECT CAST(coalesce(base.url_id, state.url_id) AS BIGINT) AS url_id,
       |       'https://news.ex/a/' || CAST(coalesce(base.url_id, state.url_id) AS VARCHAR) AS url,
       |       coalesce(base.in_base, state.in_base, FALSE) = FALSE AS upserted,
       |       CASE WHEN last_kind IS NOT NULL THEN last_kind = 'processed' END AS ner_done,
       |       p_nv AS ner_version, p_gv AS gazetteer_version, p_ts AS processed_at,
       |       last_error, coalesce(err_count, 0) AS err_count, err_first, err_last
       |FROM base FULL OUTER JOIN state ON base.url_id = state.url_id
       |ORDER BY url_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "q124_error_replay" -> (errorReplay _))

  val oracles: Map[String, String] = Map(
    "q124_error_replay" -> errorReplaySql)
}
