package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Money._

/** Layer A+B of SURVEY.md §2: the reference's query-service and
  * ingest/index semantics re-expressed as declarative Spark plans.
  *
  * Reference analogs (cited per query):
  *  - sentinela/services/publications/application/query_service.py:17
  *    (date-range listing)
  *  - sentinela/infrastructure/repositories/mongo_article_read_repository.py:23
  *    (filtered, sorted listing with optional city criterion)
  *  - sentinela/infrastructure/repositories/article_indexes.py:9 (unique
  *    (portal,url) -> dedup-on-ingest)
  *  - sentinela/services/publications/city_matching/aggregator.py:193
  *    (primary selection tie-break chain)
  *  - sentinela/application/servico_coleta_noticias.py (collect: new vs
  *    already-stored split)
  */
object RelationalQueries extends QueryFamily {

  /** q01: multi-aggregate scan+groupBy (per-portal article-stats analog;
    * TPC-H Q1 shape). Partial aggregation is map-side; the shuffle moves
    * only (flag,status) x 6 aggregates — constant size at any SF. */
  def pricingAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
        sum(discPriceE4(col("l_extendedprice"), col("l_discount"))).as("sum_disc_e4"),
        sum(chargeE6(col("l_extendedprice"), col("l_discount"), col("l_tax"))).as("sum_charge_e6"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val pricingAggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)*(100-CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS sum_disc_e4,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)*(100-CAST(ROUND(l_discount*100) AS BIGINT))*(100+CAST(ROUND(l_tax*100) AS BIGINT))) AS BIGINT) AS sum_charge_e6,
      |  SUM(l_quantity)/COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q02: key + date-range filtered, sorted listing
    * (ArticleQueryService.list_articles / list_by_period). Both
    * predicates reach the parquet scan as PushedFilters; on a
    * date-partitioned store this becomes partition pruning. */
  def dateRange(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp") &&
        col("o_orderpriority") === "1-URGENT")
      .select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("total_cents"),
        col("o_orderdate").cast("date").as("o_date"))
      .orderBy(col("o_date"), col("o_orderkey"))

  val dateRangeSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CAST(ROUND(o_totalprice*100) AS BIGINT) AS total_cents,
      |  CAST(o_orderdate AS DATE) AS o_date
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderpriority = '1-URGENT'
      |ORDER BY o_date, o_orderkey""".stripMargin

  /** q03: fact-fact-dim join + agg (article x portal enrichment analog;
    * TPC-H Q10 shape). customer/nation are broadcast; orders-lineitem is
    * the one real shuffle, keyed on orderkey (well-distributed). */
  def joinEnrich(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val l = Tables.lineitem(s, dir)
    val n = Tables.nation(s, dir)
    // customer scales with SF — no broadcast hint, AQE decides; nation
    // is bounded (25 rows) and stays hinted
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(
        sum(discPriceE4(col("l_extendedprice"), col("l_discount"))).as("revenue_e4"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue_e4").desc, col("c_custkey"))
      .limit(20)
  }

  val joinEnrichSql: String =
    """SELECT c_custkey, c_name, n_name,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)*(100-CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue_e4 DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** q04: small-dim catalog join (gazetteer-catalog analog). Both dims
    * broadcast — zero shuffle on the fact side before the final tiny
    * aggregation. */
  def dimBroadcast(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(cents(col("c_acctbal"))).as("acctbal_cents"))
      .orderBy(col("r_name"))

  val dimBroadcastSql: String =
    """SELECT r_name, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS BIGINT) AS acctbal_cents
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin

  /** q05: top-N per group (latest-page-per-portal analog). Single
    * shuffle on the partition key; per-group sort only. */
  def topnPerGroup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(cents(col("o_totalprice")).desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("c_mktsegment"), col("rn").cast("long").as("rn"), col("o_orderkey"),
        cents(col("o_totalprice")).as("total_cents"))
      .orderBy(col("c_mktsegment"), col("rn"))
  }

  val topnPerGroupSql: String =
    """SELECT c_mktsegment, rn, o_orderkey, total_cents FROM (
      |  SELECT c_mktsegment,
      |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS total_cents,
      |    o_orderkey,
      |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
      |      ORDER BY CAST(ROUND(o_totalprice*100) AS BIGINT) DESC, o_orderkey) AS rn
      |  FROM orders JOIN customer ON o_custkey = c_custkey)
      |WHERE rn <= 5
      |ORDER BY c_mktsegment, rn""".stripMargin

  /** q06: existence filter (left-semi join) — "articles having city X"
    * analog (mongo_article_read_repository list_by_period(city=...)). */
  def semijoinExists(s: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
    Tables.customer(s, dir)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val semijoinExistsSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** q07: deterministic multi-key tie-break ranking — the
    * primary_city_selection chain (aggregator.py:193: score ->
    * admin markers -> title boost -> mismatches -> occurrences -> id)
    * as one window. Selection logic that the reference runs as Python
    * list filtering becomes a single ORDER BY — no driver-side loop. */
  def tiebreakRank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perSupp = Tables.lineitem(s, dir)
      .groupBy(col("l_suppkey"))
      .agg(
        sum(discPriceE4(col("l_extendedprice"), col("l_discount"))).as("score_e4"),
        count(lit(1)).as("occurrences"))
    val w = Window.partitionBy(col("s_nationkey"))
      .orderBy(col("score_e4").desc, col("occurrences").desc, col("s_suppkey"))
    perSupp
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .withColumn("rank_in_nation", row_number().over(w))
      .filter(col("rank_in_nation") === 1)
      .select(col("s_nationkey"), col("s_suppkey"), col("s_name"),
        col("score_e4"), col("occurrences"))
      .orderBy(col("s_nationkey"))
  }

  val tiebreakRankSql: String =
    """SELECT s_nationkey, s_suppkey, s_name, score_e4, occurrences FROM (
      |  SELECT s_nationkey, s_suppkey, s_name, score_e4, occurrences,
      |    ROW_NUMBER() OVER (PARTITION BY s_nationkey
      |      ORDER BY score_e4 DESC, occurrences DESC, s_suppkey) AS rank_in_nation
      |  FROM (
      |    SELECT l_suppkey,
      |      CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)*(100-CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS score_e4,
      |      COUNT(*) AS occurrences
      |    FROM lineitem GROUP BY l_suppkey)
      |  JOIN supplier ON l_suppkey = s_suppkey)
      |WHERE rank_in_nation = 1
      |ORDER BY s_nationkey""".stripMargin

  /** q08: exact distinct counting per key (distinct portals/cities
    * analog). The approximate (HLL) variant lives in the bench set —
    * approx sketches are not oracle-comparable across engines. */
  def distinctCount(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        countDistinct(col("o_custkey")).as("n_buyers"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("c_mktsegment"))

  val distinctCountSql: String =
    """SELECT c_mktsegment,
      |  COUNT(DISTINCT o_custkey) AS n_buyers,
      |  COUNT(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** q09: dedup-on-ingest by unique content key (the (portal_name,url)
    * unique index of article_indexes.py:13). Keep the first-seen doc per
    * content hash; one shuffle on the hash (uniformly distributed). */
  def dedupIngest(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("content_key", md5(col("text")))
      .groupBy(col("content_key"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("dup_count"))
      .orderBy(col("keep_doc_id"))

  val dedupIngestSql: String =
    """SELECT md5(text) AS content_key,
      |  MIN(doc_id) AS keep_doc_id,
      |  COUNT(*) AS dup_count
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY keep_doc_id""".stripMargin

  /** q10: incremental ingest — split the corpus into an existing store
    * and an incoming batch, and emit only genuinely-new content
    * (collector's "N novas, M duplicadas"; left-anti join). */
  def incrementalUpsert(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).withColumn("content_key", md5(col("text")))
    val store = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    batch
      .join(store.select(col("content_key")), Seq("content_key"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_new"), min(col("doc_id")).as("first_doc_id"))
      .orderBy(col("lang"))
  }

  val incrementalUpsertSql: String =
    """WITH docs AS (SELECT doc_id, lang, md5(text) AS content_key FROM documents),
      |store AS (SELECT content_key FROM docs WHERE doc_id % 3 <> 0),
      |batch AS (SELECT * FROM docs WHERE doc_id % 3 = 0)
      |SELECT lang, COUNT(*) AS n_new, MIN(doc_id) AS first_doc_id
      |FROM batch
      |WHERE content_key NOT IN (SELECT content_key FROM store)
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  val NerVersion = "ner-v2"
  val GazVersion = "gaz-v3"

  /** q62: hash/version-gated incremental re-extraction
    * (city_extraction_job.py:145-166 + the extraction service's
    * fetch_pending(ner_version, gazetteer_version)): a doc is pending
    * when it has no extraction record, its recorded (ner_version,
    * gazetteer_version) differ from current, or its recorded payload
    * hash differs from the current content hash. The store is
    * synthesized deterministically per doc: %5==0 never processed,
    * %5==2 stale hash, %5==3 old NER version, %5==4 old gazetteer
    * version, %5==1 fully current (the only SKIPPED class). Reason
    * precedence mirrors the job: missing record first, then versions
    * (fetch_pending fires before the hash compare), then the hash. */
  def versionedReextract(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text"), md5(col("text")).as("content_hash"))
    val store = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 2, md5(concat(lit("stale:"), col("text"))))
          .otherwise(md5(col("text"))).as("stored_hash"),
        when(col("doc_id") % 5 === 3, lit("ner-v1")).otherwise(lit(NerVersion)).as("stored_ner"),
        when(col("doc_id") % 5 === 4, lit("gaz-v2")).otherwise(lit(GazVersion)).as("stored_gaz"))
    docs
      .join(store, Seq("doc_id"), "left")
      .filter(col("stored_hash").isNull ||
        col("stored_ner") =!= NerVersion || col("stored_gaz") =!= GazVersion ||
        col("stored_hash") =!= col("content_hash"))
      .withColumn("reason",
        when(col("stored_hash").isNull, "new")
          .when(col("stored_ner") =!= NerVersion, "ner_stale")
          .when(col("stored_gaz") =!= GazVersion, "gazetteer_stale")
          .otherwise("content_changed"))
      .select(col("doc_id"), col("lang"), col("reason"))
      .orderBy(col("doc_id"))
  }

  val versionedReextractSql: String =
    s"""WITH docs AS (SELECT doc_id, lang, text, md5(text) AS content_hash FROM documents),
       |store AS (SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 2 THEN md5('stale:' || text) ELSE md5(text) END AS stored_hash,
       |    CASE WHEN doc_id % 5 = 3 THEN 'ner-v1' ELSE '$NerVersion' END AS stored_ner,
       |    CASE WHEN doc_id % 5 = 4 THEN 'gaz-v2' ELSE '$GazVersion' END AS stored_gaz
       |  FROM docs WHERE doc_id % 5 <> 0)
       |SELECT d.doc_id, d.lang,
       |  CASE WHEN s.stored_hash IS NULL THEN 'new'
       |       WHEN s.stored_ner <> '$NerVersion' THEN 'ner_stale'
       |       WHEN s.stored_gaz <> '$GazVersion' THEN 'gazetteer_stale'
       |       ELSE 'content_changed' END AS reason
       |FROM docs d LEFT JOIN store s USING (doc_id)
       |WHERE s.stored_hash IS NULL OR s.stored_ner <> '$NerVersion'
       |   OR s.stored_gaz <> '$GazVersion' OR s.stored_hash <> d.content_hash
       |ORDER BY d.doc_id""".stripMargin

  val Scd2BatchDay = 100L

  /** q103: SCD-type-2 dimension versioning — the warehouse merge the
    * article/portal stores need when an attribute changes but history
    * must survive: an update batch (customers whose segment changed,
    * %7==0 here) CLOSES the current version (valid_to = batch day)
    * and opens a new current one; untouched rows pass through. The
    * merge is one co-keyed left join producing both output rows from
    * the matched side — no window, no second scan, upsert-shaped like
    * q10. */
  def scd2Merge(s: SparkSession, dir: String): DataFrame = {
    val current = Tables.customer(s, dir)
      .select(col("c_custkey").as("custkey"), col("c_mktsegment").as("segment"),
        lit(0L).as("valid_from"))
    val updates = Tables.customer(s, dir)
      .filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey").as("custkey"),
        concat(col("c_mktsegment"), lit("_v2")).as("new_segment"))
    val joined = current.join(broadcast(updates), Seq("custkey"), "left")
    val closedOrKept = joined.select(col("custkey"), col("segment"), col("valid_from"),
      when(col("new_segment").isNotNull, lit(Scd2BatchDay)).otherwise(lit(null).cast("long")).as("valid_to"),
      col("new_segment").isNull.as("is_current"))
    val opened = joined.filter(col("new_segment").isNotNull)
      .select(col("custkey"), col("new_segment").as("segment"),
        lit(Scd2BatchDay).as("valid_from"), lit(null).cast("long").as("valid_to"),
        lit(true).as("is_current"))
    closedOrKept.unionAll(opened)
      .orderBy(col("custkey"), col("valid_from"))
  }

  val scd2MergeSql: String =
    s"""WITH current AS (SELECT c_custkey AS custkey, c_mktsegment AS segment,
       |    CAST(0 AS BIGINT) AS valid_from
       |  FROM customer),
       |upd AS (SELECT c_custkey AS custkey, c_mktsegment || '_v2' AS new_segment
       |  FROM customer WHERE c_custkey % 7 = 0),
       |j AS (SELECT c.custkey, c.segment, c.valid_from, u.new_segment
       |  FROM current c LEFT JOIN upd u ON c.custkey = u.custkey)
       |SELECT custkey, segment, valid_from,
       |  CASE WHEN new_segment IS NOT NULL THEN CAST($Scd2BatchDay AS BIGINT) END AS valid_to,
       |  new_segment IS NULL AS is_current
       |FROM j
       |UNION ALL
       |SELECT custkey, new_segment AS segment, CAST($Scd2BatchDay AS BIGINT) AS valid_from,
       |  CAST(NULL AS BIGINT) AS valid_to, TRUE AS is_current
       |FROM j WHERE new_segment IS NOT NULL
       |ORDER BY custkey, valid_from""".stripMargin

  val queries: Map[String, Q] = Map(
    "q103_scd2_merge" -> (scd2Merge _),
    "q01_pricing_agg" -> (pricingAgg _),
    "q02_date_range" -> (dateRange _),
    "q03_join_enrich" -> (joinEnrich _),
    "q04_dim_broadcast" -> (dimBroadcast _),
    "q05_topn_per_group" -> (topnPerGroup _),
    "q06_semijoin_exists" -> (semijoinExists _),
    "q07_tiebreak_rank" -> (tiebreakRank _),
    "q08_distinct_count" -> (distinctCount _),
    "q09_dedup_ingest" -> (dedupIngest _),
    "q10_incremental_upsert" -> (incrementalUpsert _),
    "q62_versioned_reextract" -> (versionedReextract _))

  val oracles: Map[String, String] = Map(
    "q01_pricing_agg" -> pricingAggSql,
    "q02_date_range" -> dateRangeSql,
    "q03_join_enrich" -> joinEnrichSql,
    "q04_dim_broadcast" -> dimBroadcastSql,
    "q05_topn_per_group" -> topnPerGroupSql,
    "q06_semijoin_exists" -> semijoinExistsSql,
    "q07_tiebreak_rank" -> tiebreakRankSql,
    "q08_distinct_count" -> distinctCountSql,
    "q09_dedup_ingest" -> dedupIngestSql,
    "q10_incremental_upsert" -> incrementalUpsertSql,
    "q62_versioned_reextract" -> versionedReextractSql,
    "q103_scd2_merge" -> scd2MergeSql)
}
