package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.operators.Curation

/** Sampling and pattern-mining operators: systematic PPS sampling
  * (q215), boolean conjunctive retrieval (q219), temporal sequence
  * patterns (q220) and co-occurrence lift mining (q221). Each fills a
  * genre the inventory did not yet hold: exact
  * probability-proportional-to-size selection, the AND-semantics
  * counterpart of q134's ranked OR retrieval, CEP-style
  * "A then B within T" detection without a self-join, and
  * market-basket association strength.
  */
object PatternMiningQueries extends QueryFamily {

  // ---- q215: systematic PPS (probability-proportional-to-size) sample ----

  val PpsK = 50L
  /** Contiguous doc_id ranges per cumsum sub-shard. */
  val PpsShardWidth = 64L

  /** q215: systematic PPS sampling — the deterministic weighted sample
    * every mix pipeline wants when q74's equal-probability quota is
    * too blunt: walk the cumulative char-mass line and take one doc at
    * every `total/k` stride (offset half a stride), so selection
    * probability is exactly proportional to weight and heavy docs can
    * capture several strides. All integer arithmetic.
    *
    * Scale: the global cumulative sum is computed WITHOUT a global
    * window — doc_id-range sub-shards cumsum independently and
    * per-shard totals prefix-sum on a tiny dim (broadcast back), the
    * q74/q131 two-level trick applied to a SCAN-ORDER prefix sum. */
  def ppsSample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars").as("w"))
      .withColumn("shard", expr(s"doc_id div $PpsShardWidth"))
    val wAll = Window.partitionBy()
    val offs = docs.groupBy(col("shard")).agg(sum(col("w")).as("shard_w"))
      .withColumn("shard_off", coalesce(
        sum(col("shard_w")).over(Window.orderBy(col("shard"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("total", sum(col("shard_w")).over(wAll))
      .select(col("shard"), col("shard_off"), col("total"))
    val wShard = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("local_before", coalesce(sum(col("w")).over(wShard), lit(0L)))
      .join(broadcast(offs), Seq("shard"))
      .withColumn("cum_before", col("shard_off") + col("local_before"))
      .withColumn("step", expr(s"total div $PpsK"))
      .withColumn("off0", expr("step div 2"))
      .withColumn("i_lo", when(col("cum_before") <= col("off0"), 0L)
        .otherwise(expr("(cum_before - off0 + step - 1) div step")))
      .withColumn("i_hi_raw",
        when(col("cum_before") + col("w") <= col("off0"), -1L)
          .otherwise(expr("(cum_before + w - off0 - 1) div step")))
      .withColumn("i_hi", least(col("i_hi_raw"), lit(PpsK - 1)))
      .withColumn("n_hits", greatest(col("i_hi") - col("i_lo") + 1, lit(0L)))
      .filter(col("n_hits") > 0)
      .select(col("doc_id"), col("w"), col("cum_before"),
        col("i_lo").as("first_target"), col("n_hits"))
      .orderBy(col("doc_id"))
  }

  val ppsSampleSql: String =
    s"""WITH d AS (SELECT doc_id, n_chars AS w FROM documents),
       |c AS (SELECT doc_id, w,
       |    COALESCE(SUM(w) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
       |    CAST(SUM(w) OVER () AS BIGINT) AS total
       |  FROM d),
       |p AS (SELECT doc_id, w, CAST(cum_before AS BIGINT) AS cum_before,
       |    total // $PpsK AS step, total // $PpsK // 2 AS off0
       |  FROM c),
       |h AS (SELECT *,
       |    CASE WHEN cum_before <= off0 THEN 0
       |         ELSE (cum_before - off0 + step - 1) // step END AS i_lo,
       |    LEAST(CASE WHEN cum_before + w <= off0 THEN -1
       |         ELSE (cum_before + w - off0 - 1) // step END, ${PpsK - 1}) AS i_hi
       |  FROM p)
       |SELECT doc_id, w, cum_before,
       |  CAST(i_lo AS BIGINT) AS first_target,
       |  CAST(i_hi - i_lo + 1 AS BIGINT) AS n_hits
       |FROM h
       |WHERE i_hi - i_lo + 1 > 0
       |ORDER BY doc_id""".stripMargin

  // ---- q219: boolean conjunctive (AND) retrieval ----

  /** q219: strict boolean AND retrieval over the q134 query workload —
    * the posting-list intersection primitive (docs containing EVERY
    * query term), the set-semantics counterpart of BM25's ranked OR.
    * Per match: the scarcest term's tf and the total tf. Shape: the
    * staged (doc, tok) tf table probed by the broadcast term join,
    * then `count == |query|` does the intersection in one aggregation
    * — no iterative list-merge, no self-join. */
  def booleanAnd(s: SparkSession, dir: String): DataFrame = {
    val qt = s.createDataFrame(CorpusOpsQueries.Bm25Queries)
      .toDF("query_id", "term")
    val qSizes = qt.groupBy(col("query_id")).agg(count(lit(1)).as("q_n"))
    val (docTok, _, _, _) = Curation.bm25Stats(Tables.documents(s, dir), "text", "doc_id")
    docTok
      .join(broadcast(qt), docTok("tok") === qt("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hit"), sum(col("tf")).as("tf_sum"),
        min(col("tf")).as("tf_min"))
      .join(broadcast(qSizes), Seq("query_id"))
      .filter(col("n_hit") === col("q_n"))
      .select(col("query_id").cast("long").as("query_id"), col("doc_id"),
        col("tf_sum"), col("tf_min"))
      .orderBy(col("query_id"), col("doc_id"))
  }

  val booleanAndSql: String = {
    val values = CorpusOpsQueries.Bm25Queries
      .map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    val fold = "lower(strip_accents(translate(text, '-‐‑‒–—―­', '       ')))"
    s"""WITH toks AS (SELECT doc_id, string_split_regex(trim($fold), '\\s+') AS t FROM documents),
       |pos AS (SELECT doc_id, unnest(t) AS tok FROM toks),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM pos GROUP BY doc_id, tok),
       |q(query_id, term) AS (VALUES $values),
       |qs AS (SELECT query_id, COUNT(*) AS q_n FROM q GROUP BY query_id),
       |m AS (SELECT q.query_id, tf.doc_id, COUNT(*) AS n_hit,
       |    CAST(SUM(tf.tf) AS BIGINT) AS tf_sum, CAST(MIN(tf.tf) AS BIGINT) AS tf_min
       |  FROM tf JOIN q ON tf.tok = q.term
       |  GROUP BY q.query_id, tf.doc_id)
       |SELECT CAST(m.query_id AS BIGINT) AS query_id, m.doc_id, m.tf_sum, m.tf_min
       |FROM m JOIN qs ON m.query_id = qs.query_id
       |WHERE m.n_hit = qs.q_n
       |ORDER BY query_id, doc_id""".stripMargin
  }

  // ---- q220: temporal sequence pattern (A then B within T) ----

  val PatternWindowMicros: Long = 3600L * 1000000

  /** q220: CEP-style sequence detection — "error followed by purchase
    * within one hour" per user — WITHOUT a range self-join: the
    * forward-looking `min(purchase ts) over (rows following)` window
    * carries each event's next-purchase time in the same per-user
    * ordered pass sessionization uses, so a billion-user event log
    * pays one shuffle and no quadratic per-key pairing. Per user:
    * error count, matched count, tightest latency, match rate e6. */
  def eventPattern(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .withColumn("next_purchase_us",
        min(when(col("event_type") === "purchase", col("ts_us"))).over(w))
      .filter(col("event_type") === "error")
      .withColumn("latency_us", col("next_purchase_us") - col("ts_us"))
      .withColumn("matched",
        col("latency_us").isNotNull && col("latency_us") <= PatternWindowMicros)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_errors"),
        sum(when(col("matched"), 1L).otherwise(0L)).as("n_matched"),
        min(when(col("matched"), col("latency_us"))).as("min_latency_us"))
      .withColumn("match_rate_e6", expr("n_matched * 1000000 div n_errors"))
      .orderBy(col("user_id"))
  }

  val eventPatternSql: String =
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events),
       |n AS (SELECT *,
       |    MIN(CASE WHEN event_type = 'purchase' THEN ts_us END) OVER (
       |      PARTITION BY user_id ORDER BY ts_us, event_id
       |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_purchase_us
       |  FROM e),
       |err AS (SELECT user_id,
       |    next_purchase_us - ts_us AS latency_us,
       |    next_purchase_us IS NOT NULL
       |      AND next_purchase_us - ts_us <= $PatternWindowMicros AS matched
       |  FROM n WHERE event_type = 'error')
       |SELECT user_id,
       |  COUNT(*) AS n_errors,
       |  CAST(SUM(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       |  CAST(MIN(CASE WHEN matched THEN latency_us END) AS BIGINT) AS min_latency_us,
       |  CAST(SUM(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT) * 1000000
       |    // COUNT(*) AS match_rate_e6
       |FROM err
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin

  // ---- q221: co-purchase association lift ----

  val MinPairSupport = 2L

  /** q221: market-basket association mining over order baskets — part
    * pairs co-occurring in the same order, with exact integer lift
    * `n_ab·N / (n_a·n_b)` (e6). Pair generation is the co-partitioned
    * per-order self-join: quadratic only in BASKET size (bounded by
    * order width, ~single digits), never in the corpus — the same
    * bounded-candidate discipline as the dedup buckets. At extreme
    * part counts the lift numerator moves to the one-IEEE-tree double
    * form; at these magnitudes the integer product is exact. */
  def copurchaseLift(s: SparkSession, dir: String): DataFrame = {
    val items = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
      .distinct()
    val nOrders = Tables.orders(s, dir).select(countDistinct(col("o_orderkey")).as("n_orders"))
    val partN = items.groupBy(col("part")).agg(count(lit(1)).as("n_part"))
    val a = items.select(col("okey"), col("part").as("p1"))
    val b = items.select(col("okey"), col("part").as("p2"))
    val pairs = a.join(b, Seq("okey")).filter(col("p1") < col("p2"))
      .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= MinPairSupport)
    pairs
      .join(partN.select(col("part").as("p1"), col("n_part").as("n_a")), Seq("p1"))
      .join(partN.select(col("part").as("p2"), col("n_part").as("n_b")), Seq("p2"))
      .crossJoin(broadcast(nOrders))
      .withColumn("lift_e6", expr("n_ab * n_orders * 1000000 div (n_a * n_b)"))
      .select(col("p1"), col("p2"), col("n_ab"), col("n_a"), col("n_b"),
        col("lift_e6"))
      .orderBy(col("p1"), col("p2"))
  }

  val copurchaseLiftSql: String =
    s"""WITH items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
       |n AS (SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders FROM orders),
       |pn AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS n_part FROM items GROUP BY part),
       |pairs AS (SELECT a.part AS p1, b.part AS p2, CAST(COUNT(*) AS BIGINT) AS n_ab
       |  FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
       |  GROUP BY a.part, b.part
       |  HAVING COUNT(*) >= $MinPairSupport)
       |SELECT p.p1, p.p2, p.n_ab, pa.n_part AS n_a, pb.n_part AS n_b,
       |  p.n_ab * n.n_orders * 1000000 // (pa.n_part * pb.n_part) AS lift_e6
       |FROM pairs p
       |JOIN pn pa ON p.p1 = pa.part
       |JOIN pn pb ON p.p2 = pb.part
       |CROSS JOIN n
       |ORDER BY p.p1, p.p2""".stripMargin

  val queries: Map[String, Q] = Map(
    "q215_pps_sample" -> (ppsSample _),
    "q219_boolean_and" -> (booleanAnd _),
    "q220_event_pattern" -> (eventPattern _),
    "q221_copurchase_lift" -> (copurchaseLift _))

  val oracles: Map[String, String] = Map(
    "q215_pps_sample" -> ppsSampleSql,
    "q219_boolean_and" -> booleanAndSql,
    "q220_event_pattern" -> eventPatternSql,
    "q221_copurchase_lift" -> copurchaseLiftSql)
}
