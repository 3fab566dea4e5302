package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.operators.Gazetteer

/** Reporting surface (reference: cli.py report-articles — a
  * denormalized article x city CSV export — and the per-portal listing
  * summaries). */
object ReportQueries extends QueryFamily {

  /** q35: denormalized doc x keyword-mention report — one row per
    * (doc, mention); docs with no mentions keep one row with empty
    * mention fields (the incluir_sem_cidades=true path of
    * report-articles, cli.py:459). */
  def reportExport(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val mentions = Gazetteer
      .matches(docs, Gazetteer.variantsDf(s), "text", "doc_id")
      .select(col("doc_id"), col("keyword"), col("occurrences"), col("score_milli"))
    docs.select(col("doc_id"), col("lang"), col("source"))
      .join(mentions, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        coalesce(col("keyword"), lit("")).as("keyword"),
        coalesce(col("occurrences"), lit(0L)).as("occurrences"),
        coalesce(col("score_milli"), lit(0L)).as("score_milli"))
      .orderBy(col("doc_id"), col("keyword"))
  }

  val reportExportSql: String = {
    // mention scoring mirrors TextQueries.matchesCteSql (gram CTE over
    // multi-token variants, all-overlaps semantics — matcher.py:137)
    val fold = "lower(strip_accents(translate(text, '-‐‑‒–—―­', '       ')))"
    val toks = s"string_split_regex(trim($fold), '\\s+')"
    s"""WITH toks AS (SELECT doc_id, $toks AS t FROM documents),
       |pos AS (SELECT doc_id, t, unnest(t) AS tok, generate_subscripts(t, 1) AS i FROM toks),
       |${Gazetteer.adminCharCteSql("pos")},
       |grams AS (${Gazetteer.gramsCteSql("adm", ", tok_start, fa_s, fa_e")}),
       |sig AS (SELECT doc_id, gram,
       |    (fa_s IS NOT NULL
       |      AND fa_e <= tok_start + CAST(length(gram) AS BIGINT) + ${Gazetteer.AdminWindowChars}) AS admin_adj,
       |    i <= ${Gazetteer.TitleZoneTokens} AS in_title
       |  FROM grams),
       |m AS (SELECT doc_id, kw_id, keyword, weight_milli,
       |    COUNT(*) AS occurrences,
       |    CAST(SUM(CASE WHEN admin_adj THEN 1 ELSE 0 END) AS BIGINT) AS admin_markers,
       |    CAST(SUM(CASE WHEN in_title THEN ${Gazetteer.TitleBoostMilli} ELSE 0 END) AS BIGINT) AS title_boost_milli
       |  FROM sig JOIN ${Gazetteer.variantsValuesSql} ON gram = variant
       |  GROUP BY doc_id, kw_id, keyword, weight_milli),
       |scored AS (SELECT doc_id, keyword, occurrences,
       |    occurrences * weight_milli + admin_markers * ${Gazetteer.AdminMarkerMilli} + title_boost_milli AS score_milli
       |  FROM m)
       |SELECT d.doc_id, d.lang, d.source,
       |  coalesce(s.keyword, '') AS keyword,
       |  coalesce(s.occurrences, 0) AS occurrences,
       |  coalesce(s.score_milli, 0) AS score_milli
       |FROM documents d LEFT JOIN scored s USING (doc_id)
       |ORDER BY doc_id, keyword""".stripMargin
  }

  /** q63: per-article city-mention rollup — the article_cities payload
    * of extraction/service.py:205-278 `_aggregate_city_mentions` via
    * `update_article_cities`: occurrences grouped under their resolved
    * id, id-less occurrences (unresolved NER spans) adopted into the
    * label's resolved entry, labels that never resolve DROPPED
    * (service.py:266 `if not data.get("city_id"): continue`), with the
    * set of contributing extraction methods. Our variants catalog keys
    * labels 1:1 to ids, so the reference's label->id remap reduces to
    * one aggregation per (doc, keyword); `pos % 7 == 0` synthesizes
    * the unresolved spans, multi-token grams play the "pattern"
    * method and single tokens the "automaton" (service.py methods). */
  def cityMentionRollup(s: SparkSession, dir: String): DataFrame = {
    val m = Gazetteer
      .matchDetails(Tables.documents(s, dir), Gazetteer.variantsDf(s), "text", "doc_id")
      .withColumn("method", when(col("n_toks") > 1, "pattern").otherwise("automaton"))
      .withColumn("city_id", when(col("pos") % 7 === 0, lit(null)).otherwise(col("kw_id")))
    m.groupBy(col("doc_id"), col("keyword"))
      .agg(
        max(col("city_id")).as("city_id"),
        count(lit(1)).as("occurrences"),
        sum(when(col("city_id").isNull, 1L).otherwise(0L)).as("n_unresolved"),
        array_join(array_sort(collect_set(col("method"))), ",").as("sources"))
      .filter(col("city_id").isNotNull)
      .select(col("doc_id"), col("city_id"), col("keyword").as("label"),
        col("occurrences"), col("n_unresolved"), col("sources"))
      .orderBy(col("doc_id"), col("city_id"))
  }

  val cityMentionRollupSql: String = {
    val fold = "lower(strip_accents(translate(text, '-‐‑‒–—―­', '       ')))"
    val toks = s"string_split_regex(trim($fold), '\\s+')"
    s"""WITH toks AS (SELECT doc_id, $toks AS t FROM documents),
       |pos AS (SELECT doc_id, t, unnest(t) AS tok, generate_subscripts(t, 1) AS i FROM toks),
       |grams AS (${Gazetteer.gramsCteSql("pos")}),
       |m AS (SELECT doc_id, kw_id, keyword,
       |    CASE WHEN n > 1 THEN 'pattern' ELSE 'automaton' END AS method,
       |    CASE WHEN (i - 1) % 7 = 0 THEN NULL ELSE kw_id END AS city_id
       |  FROM grams JOIN ${Gazetteer.variantsValuesSql} ON gram = variant)
       |SELECT doc_id, MAX(city_id) AS city_id, keyword AS label,
       |  COUNT(*) AS occurrences,
       |  CAST(SUM(CASE WHEN city_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unresolved,
       |  array_to_string(list_sort(list_distinct(list(method))), ',') AS sources
       |FROM m GROUP BY doc_id, keyword
       |HAVING MAX(city_id) IS NOT NULL
       |ORDER BY doc_id, city_id""".stripMargin
  }

  /** q66: the audit of what q63 drops — mention labels whose every
    * occurrence is unresolved are suppressed with reason
    * "missing_candidate" (aggregator.py's unresolved-candidate path,
    * test_aggregator_c6: entries with city_id None are excluded from
    * primary selection and recorded in the suppression trail). */
  def unresolvedAudit(s: SparkSession, dir: String): DataFrame = {
    val m = Gazetteer
      .matchDetails(Tables.documents(s, dir), Gazetteer.variantsDf(s), "text", "doc_id")
      .withColumn("city_id", when(col("pos") % 7 === 0, lit(null)).otherwise(col("kw_id")))
    m.groupBy(col("doc_id"), col("keyword"))
      .agg(max(col("city_id")).as("any_id"), count(lit(1)).as("occurrences"))
      .filter(col("any_id").isNull)
      .select(col("doc_id"), col("keyword").as("label"), col("occurrences"),
        lit("missing_candidate").as("reason"))
      .orderBy(col("doc_id"), col("label"))
  }

  val unresolvedAuditSql: String = {
    val fold = "lower(strip_accents(translate(text, '-‐‑‒–—―­', '       ')))"
    val toks = s"string_split_regex(trim($fold), '\\s+')"
    s"""WITH toks AS (SELECT doc_id, $toks AS t FROM documents),
       |pos AS (SELECT doc_id, t, unnest(t) AS tok, generate_subscripts(t, 1) AS i FROM toks),
       |grams AS (${Gazetteer.gramsCteSql("pos")}),
       |m AS (SELECT doc_id, keyword,
       |    CASE WHEN (i - 1) % 7 = 0 THEN NULL ELSE kw_id END AS city_id
       |  FROM grams JOIN ${Gazetteer.variantsValuesSql} ON gram = variant)
       |SELECT doc_id, keyword AS label, COUNT(*) AS occurrences,
       |  'missing_candidate' AS reason
       |FROM m GROUP BY doc_id, keyword
       |HAVING MAX(city_id) IS NULL
       |ORDER BY doc_id, label""".stripMargin
  }

  /** q36: daily report matrix — orders per day with per-priority
    * conditional-aggregation columns (pivot as stable-schema SUM(CASE)). */
  def dailyReport(s: SparkSession, dir: String): DataFrame = {
    def cnt(p: String) = sum(when(col("o_orderpriority") === p, 1L).otherwise(0L))
    Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(
        count(lit(1)).as("n_total"),
        cnt("1-URGENT").as("n_urgent"),
        cnt("2-HIGH").as("n_high"),
        cnt("3-MEDIUM").as("n_medium"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
      .orderBy(col("d"))
  }

  val dailyReportSql: String =
    """SELECT CAST(o_orderdate AS DATE) AS d,
      |  COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
      |  CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
      |  CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS n_medium,
      |  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      |GROUP BY CAST(o_orderdate AS DATE)
      |ORDER BY d""".stripMargin

  /** q37: approximate distinct counting (HLL) — sketches are engine-
    * specific, so this entry ships WITHOUT an oracle (driver records a
    * rows-only check); the exact twin is q08_distinct_count. */
  def approxDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  val KmvK = 64

  /** q102: engine-exact APPROXIMATE distinct — the oracle-able
    * companion to q37's HLL (which can never be hash-compared across
    * engines): a KMV (k-minimum-values / bottom-k theta) sketch over
    * the portable polynomial hash. Per event type, the k smallest
    * distinct user hashes are kept by the bounded-heap TopKPerKeyExec
    * (mergeable, never a full sort); the estimator
    * `(k-1) * M / h_k` is pure integer arithmetic, so unlike HLL the
    * sketch AND its estimate are bit-identical on every engine. Groups
    * with fewer than k distinct values report exactly. */
  def kmvDistinct(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing
    // the affine scramble spreads the fold over [0, M): a bare
    // polyHash of a short id string stays near 0, which wrecks the
    // uniformity the order-statistic estimator needs
    val distinctUsers = Tables.events(s, dir)
      .select(col("event_type"), col("user_id")).distinct()
      .withColumn("h", Hashing.affine(
        Hashing.polyHash(concat(col("user_id").cast("string"), lit(":kmv"))), 0))
    val ranked = graft.plans.Plans.topKPerKeyRanked(distinctUsers,
      Seq(distinctUsers("event_type")),
      Seq((distinctUsers("h"), false), (distinctUsers("user_id"), false)),
      KmvK, "rk")
    val exact = distinctUsers.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_exact"))
    // ranked ascending by hash, so the kth-smallest hash is the MAX
    // over the retained top-k rows
    val kth = ranked.groupBy(col("event_type"))
      .agg(max(col("rk")).cast("long").as("k_used"), max(col("h")).as("kth_hash"))
    kth.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_exact"), col("k_used"), col("kth_hash"),
        when(col("k_used") < KmvK, col("n_exact"))
          .otherwise(expr(s"(${KmvK - 1} * ${Hashing.Mod}L) div kth_hash"))
          .as("kmv_estimate"))
      .orderBy(col("event_type"))
  }

  val kmvDistinctSql: String = {
    import graft.functions.Hashing
    s"""WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
       |h AS (SELECT event_type, user_id,
       |    ${Hashing.affineSql(Hashing.polyHashSql("CAST(user_id AS VARCHAR) || ':kmv'"), 0)} AS h
       |  FROM du),
       |rk AS (SELECT event_type, h, ROW_NUMBER() OVER (PARTITION BY event_type
       |    ORDER BY h, user_id) AS rk FROM h),
       |kth AS (SELECT event_type, CAST(MAX(rk) AS BIGINT) AS k_used,
       |    MAX(h) AS kth_hash
       |  FROM rk WHERE rk <= $KmvK GROUP BY event_type),
       |ex AS (SELECT event_type, COUNT(*) AS n_exact FROM du GROUP BY event_type)
       |SELECT k.event_type, n_exact, k_used, kth_hash,
       |  CASE WHEN k_used < $KmvK THEN n_exact
       |       ELSE (CAST(${KmvK - 1} AS BIGINT) * ${Hashing.Mod}) // kth_hash END AS kmv_estimate
       |FROM kth k JOIN ex USING (event_type)
       |ORDER BY k.event_type""".stripMargin
  }

  /** q84: multi-level subtotal report — GROUP BY ROLLUP over
    * (priority, status): leaf rows, per-priority subtotals and the
    * grand total in ONE aggregation pass (Spark expands the grouping
    * sets map-side; no second scan per level). Subtotal markers
    * coalesce to 'ALL' — both key columns are non-null by schema, so
    * the marker is unambiguous. */
  def rollupReport(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(graft.functions.Money.cents(col("o_totalprice"))).as("total_cents"))
      .select(coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("n_orders"), col("total_cents"))
      .orderBy(col("priority"), col("status"))

  val rollupReportSql: String =
    """SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
      |  COALESCE(o_orderstatus, 'ALL') AS status,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
      |FROM orders
      |GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
      |ORDER BY priority, status""".stripMargin

  /** q101: wide→long unpivot (melt) — the reshape that turns a
    * metrics matrix into tidy (key, metric, value) rows for generic
    * downstream consumers (dashboards, metric stores). The Spark side
    * is a codegen'd `stack` over the aggregated wide row — one
    * aggregation then a map-side 3x row expansion, no extra shuffle;
    * the oracle is the equivalent UNION ALL. All values are integer
    * units in one BIGINT column. */
  def metricMelt(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag").as("flag"))
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"),
        count(lit(1)).as("n_items"))
      .select(col("flag"), expr(
        "stack(3, 'sum_qty', sum_qty, 'price_cents', price_cents, 'n_items', n_items) AS (metric, value)"))
      .orderBy(col("flag"), col("metric"))

  val metricMeltSql: String =
    """WITH w AS (SELECT l_returnflag AS flag,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |    CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS price_cents,
      |    COUNT(*) AS n_items
      |  FROM lineitem GROUP BY 1)
      |SELECT flag, 'sum_qty' AS metric, sum_qty AS value FROM w
      |UNION ALL SELECT flag, 'price_cents', price_cents FROM w
      |UNION ALL SELECT flag, 'n_items', n_items FROM w
      |ORDER BY flag, metric""".stripMargin

  val queries: Map[String, Q] = Map(
    "q101_metric_melt" -> (metricMelt _),
    "q102_kmv_distinct" -> (kmvDistinct _),
    "q35_report_export" -> (reportExport _),
    "q36_daily_report" -> (dailyReport _),
    "q37_approx_distinct" -> (approxDistinct _),
    "q63_city_mention_rollup" -> (cityMentionRollup _),
    "q66_unresolved_audit" -> (unresolvedAudit _),
    "q84_rollup_report" -> (rollupReport _))

  /** q37 intentionally omitted: HLL sketches are not oracle-comparable. */
  val oracles: Map[String, String] = Map(
    "q101_metric_melt" -> metricMeltSql,
    "q102_kmv_distinct" -> kmvDistinctSql,
    "q35_report_export" -> reportExportSql,
    "q36_daily_report" -> dailyReportSql,
    "q63_city_mention_rollup" -> cityMentionRollupSql,
    "q66_unresolved_audit" -> unresolvedAuditSql,
    "q84_rollup_report" -> rollupReportSql)
}
