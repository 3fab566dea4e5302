package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables

/** The two serialization boundaries every collected article crosses on
  * its way OUT of the news service, replayed set-wise:
  *
  *  - q141 — the publications sink round-trip
  *    (services/news/clients/publications_api_sink.py:49-104 +
  *    services/publications/adapters/ingestion_router.py:36-47):
  *    `_article_to_payload` serializes `published_at.isoformat()` and
  *    each mention via `CityMention.to_mapping`
  *    (domain/entities/article.py:105-124 — city_id/label keys are
  *    OMITTED when null, sources deduped keep-first); the router drops
  *    articles whose (portal, url) already exists and returns only the
  *    stored subset; `_article_from_payload` parses the ISO datetime
  *    back and rebuilds mentions with `CityMention.parse_many` — and
  *    never reads `classification`, so the field is LOST on the client
  *    copy even though the server serializes it. Mentions whose
  *    to_mapping carried no city_id key are dropped server-side by
  *    `ArticlePayload.to_domain`'s truthy-city_id filter
  *    (schemas/article_payload.py:93-94).
  *
  *  - q142 — the portal-service payload coercions
  *    (services/news/clients/portal_service_client.py:74-107) + the
  *    legacy string-city validation branch of the publications schema
  *    (domain/entities/article.py:20-33 `from_legacy`, reached via
  *    schemas/article_payload.py:88-94): selector `attribute` defaults
  *    through `.get` (present-but-null stays null — only a MISSING key
  *    falls back), `listing_summary` is built only when the payload
  *    value is TRUTHY (an empty dict is skipped, not an error),
  *    `headers` defaults to empty and `date_format` to '%Y-%m-%d' on
  *    missing keys, and a legacy string city strips whitespace, maps
  *    all-digit text to city_id (else label), and drops empty text.
  *
  * Scale shape: both are map-side column math over one fact scan; the
  * only join is q141's accepted-subset anti-join on the store's
  * natural (portal, url) key — the repository-exists probe, keyed so
  * it co-partitions with any article store at any scale.
  */
object SinkPayloadQueries extends QueryFamily {

  private val IsoFmt = "yyyy-MM-dd'T'HH:mm:ss"

  /** The synthesized outbox: one article per order, with up to three
    * inline mention slots (absent slot / slot without city_id / full
    * slot) and the optional article fields exercising every default. */
  private def outbox(s: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey")
    Tables.orders(s, dir).select(
      k.as("article_key"),
      concat(lit("portal-"), col("o_custkey") % 7).as("portal"),
      concat(lit("https://p"), k % 1000, lit("/a"), k).as("url"),
      concat(col("o_orderstatus"), lit(": "), col("o_orderpriority")).as("title"),
      when(k % 3 === 1, lit(""))
        .when(k % 3 === 2, substring(col("o_orderpriority"), 1, 5))
        .otherwise(lit(null).cast("string")).as("summary"),
      when(k % 4 === 0, concat(lit("class-"), k % 3))
        .otherwise(lit(null).cast("string")).as("classification"),
      (unix_timestamp(col("o_orderdate").cast("timestamp"))
        + (k % 24) * 3600 + (k % 60) * 60).as("pub_epoch"),
      (k % 5 < 4).as("m1_present"),
      when(k % 5 === 0 || k % 5 === 1, concat(lit("c"), k % 50))
        .otherwise(lit(null).cast("string")).as("m1_city_id"),
      (lit(1L) + k % 3).as("m1_occ"),
      when(k % 4 === 0, lit(""))
        .when(k % 4 === 1, lit("web"))
        .otherwise(concat(lit("rss-"), k % 2)).as("m1_src2"),
      (k % 7 < 3).as("m2_present"),
      when(k % 7 === 0 || k % 7 === 2, concat(lit("c"), k % 31))
        .otherwise(lit(null).cast("string")).as("m2_city_id"),
      (lit(1L) + k % 4).as("m2_occ"),
      (k % 11 < 2).as("m3_present"),
      when(k % 11 === 0, concat(lit("c"), k % 19))
        .otherwise(lit(null).cast("string")).as("m3_city_id"),
      lit(1L).as("m3_occ"))
  }

  /** q141: publish_many replayed end-to-end — serialize, accepted
    * filter, reconstruct. One row per ACCEPTED article carrying the
    * ISO round-trip (`rt_epoch` must equal the original instant), the
    * surviving-mention accounting (slots without city_id vanish), the
    * first surviving mention's deduped source list, the passthrough
    * summary ('' is NOT coerced — `payload.get("summary")` has no
    * falsy chain), and the classification-loss quirk. */
  def sinkRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val arts = outbox(s, dir)
    val existing = outbox(s, dir)
      .filter(col("article_key") % 11 === 3)
      .select(col("portal"), col("url"))
    val iso = date_format(timestamp_seconds(col("pub_epoch")), IsoFmt)
    val s1 = col("m1_present") && col("m1_city_id").isNotNull
    val s2 = col("m2_present") && col("m2_city_id").isNotNull
    val s3 = col("m3_present") && col("m3_city_id").isNotNull
    arts.join(existing, Seq("portal", "url"), "left_anti")
      .select(
        col("article_key"), col("portal"), col("url"), col("title"),
        iso.as("iso_published"),
        unix_timestamp(to_timestamp(iso, IsoFmt)).as("rt_epoch"),
        col("summary").as("summary_rt"),
        col("classification").isNotNull.as("had_classification"),
        lit(null).cast("string").as("classification_rt"),
        (col("m1_present").cast("long") + col("m2_present").cast("long")
          + col("m3_present").cast("long")).as("n_sent"),
        (s1.cast("long") + s2.cast("long") + s3.cast("long")).as("n_stored"),
        when(s1, col("m1_city_id")).when(s2, col("m2_city_id"))
          .when(s3, col("m3_city_id")).as("first_city_id"),
        (when(s1, col("m1_occ")).otherwise(0L)
          + when(s2, col("m2_occ")).otherwise(0L)
          + when(s3, col("m3_occ")).otherwise(0L)).as("total_occ"),
        when(s1, concat(lit("web"),
          when(col("m1_src2") =!= "" && col("m1_src2") =!= "web",
            concat(lit(","), col("m1_src2"))).otherwise(lit(""))))
          .as("m1_sources_csv"))
      .orderBy(col("article_key"))
  }

  val sinkRoundTripSql: String =
    """WITH arts AS (
      |  SELECT o_orderkey AS article_key,
      |    'portal-' || (o_custkey % 7) AS portal,
      |    'https://p' || (o_orderkey % 1000) || '/a' || o_orderkey AS url,
      |    o_orderstatus || ': ' || o_orderpriority AS title,
      |    CASE WHEN o_orderkey % 3 = 1 THEN ''
      |         WHEN o_orderkey % 3 = 2 THEN substring(o_orderpriority, 1, 5) END AS summary,
      |    CASE WHEN o_orderkey % 4 = 0 THEN 'class-' || (o_orderkey % 3) END AS classification,
      |    CAST(epoch(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT)
      |      + (o_orderkey % 24) * 3600 + (o_orderkey % 60) * 60 AS pub_epoch,
      |    o_orderkey % 5 < 4 AS m1_present,
      |    CASE WHEN o_orderkey % 5 IN (0, 1) THEN 'c' || (o_orderkey % 50) END AS m1_city_id,
      |    1 + o_orderkey % 3 AS m1_occ,
      |    CASE WHEN o_orderkey % 4 = 0 THEN ''
      |         WHEN o_orderkey % 4 = 1 THEN 'web'
      |         ELSE 'rss-' || (o_orderkey % 2) END AS m1_src2,
      |    o_orderkey % 7 < 3 AS m2_present,
      |    CASE WHEN o_orderkey % 7 IN (0, 2) THEN 'c' || (o_orderkey % 31) END AS m2_city_id,
      |    1 + o_orderkey % 4 AS m2_occ,
      |    o_orderkey % 11 < 2 AS m3_present,
      |    CASE WHEN o_orderkey % 11 = 0 THEN 'c' || (o_orderkey % 19) END AS m3_city_id,
      |    CAST(1 AS BIGINT) AS m3_occ
      |  FROM orders),
      |acc AS (
      |  SELECT * FROM arts a WHERE NOT EXISTS (
      |    SELECT 1 FROM arts e
      |    WHERE e.article_key % 11 = 3 AND e.portal = a.portal AND e.url = a.url)),
      |rt AS (
      |  SELECT *,
      |    strftime(make_timestamp(pub_epoch * 1000000), '%Y-%m-%dT%H:%M:%S') AS iso_published,
      |    m1_present AND m1_city_id IS NOT NULL AS s1,
      |    m2_present AND m2_city_id IS NOT NULL AS s2,
      |    m3_present AND m3_city_id IS NOT NULL AS s3
      |  FROM acc)
      |SELECT article_key, portal, url, title, iso_published,
      |  CAST(epoch(strptime(iso_published, '%Y-%m-%dT%H:%M:%S')) AS BIGINT) AS rt_epoch,
      |  summary AS summary_rt,
      |  classification IS NOT NULL AS had_classification,
      |  CAST(NULL AS VARCHAR) AS classification_rt,
      |  CAST((CASE WHEN m1_present THEN 1 ELSE 0 END)
      |    + (CASE WHEN m2_present THEN 1 ELSE 0 END)
      |    + (CASE WHEN m3_present THEN 1 ELSE 0 END) AS BIGINT) AS n_sent,
      |  CAST((CASE WHEN s1 THEN 1 ELSE 0 END) + (CASE WHEN s2 THEN 1 ELSE 0 END)
      |    + (CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n_stored,
      |  CASE WHEN s1 THEN m1_city_id WHEN s2 THEN m2_city_id
      |       WHEN s3 THEN m3_city_id END AS first_city_id,
      |  CAST((CASE WHEN s1 THEN m1_occ ELSE 0 END)
      |    + (CASE WHEN s2 THEN m2_occ ELSE 0 END)
      |    + (CASE WHEN s3 THEN m3_occ ELSE 0 END) AS BIGINT) AS total_occ,
      |  CASE WHEN s1 THEN 'web' ||
      |    (CASE WHEN m1_src2 <> '' AND m1_src2 <> 'web'
      |          THEN ',' || m1_src2 ELSE '' END) END AS m1_sources_csv
      |FROM rt ORDER BY article_key""".stripMargin

  /** q142: the portal/selector payload coercions, one synthesized
    * payload per part row. Pinned branches: selector `attribute`
    * through `.get` (present-null stays null, only a missing key is
    * the no-attribute case — both read as null downstream, the
    * distinction matters for date_format below where the default is
    * non-null); `listing_summary` only when TRUTHY (empty dict ≡
    * missing); `headers` count defaulting 0; `date_format` keeping an
    * EXPLICIT null (present-but-null beats the '%Y-%m-%d' default —
    * dict.get only falls back on missing); and the legacy string-city
    * branch: strip, all-digits → city_id (identifier = digits), else
    * label, empty after strip → dropped (and with no city_id a legacy
    * LABEL city never survives `to_domain`'s city_id filter). */
  def portalPayload(s: SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    val raw = Tables.part(s, dir).select(
      k.as("portal_key"),
      concat(lit("portal-"), k).as("name"),
      concat(lit("https://news-"), k % 97, lit(".example")).as("base_url"),
      // listing_article selector: query always present; attribute is
      // missing (k%3=0), present-null (k%3=1), or a value (k%3=2) —
      // .get collapses the first two to null
      concat(lit(".article-"), k % 13).as("la_query"),
      when(k % 3 === 2, lit("href")).otherwise(lit(null).cast("string"))
        .as("la_attr"),
      // listing_summary payload state: 0 missing, 1 empty dict, 2 present
      (k % 4).cast("int").as("ls_state"),
      concat(lit(".summary-"), k % 7).as("ls_query_raw"),
      // headers: present iff k%5<2, with k%4 entries
      when(k % 5 < 2, (k % 4).cast("long")).otherwise(lit(null).cast("long"))
        .as("headers_n_raw"),
      // date_format: 0 missing, 1 present-null, 2 present-value
      (k % 3).cast("int").as("df_state"),
      concat(lit("%d/%m/"), when(k % 2 === 0, lit("%Y")).otherwise(lit("%y")))
        .as("df_value"),
      // legacy string city: exercises strip/isdigit/empty
      when(k % 6 === 0, concat(lit("  "), k % 1000, lit(" ")))
        .when(k % 6 === 1, concat(lit(" Porto "), k % 50))
        .when(k % 6 === 2, lit("   "))
        .when(k % 6 === 3, concat(lit(""), k % 500))
        .when(k % 6 === 4, lit(""))
        .otherwise(concat(lit("Vila-"), k % 30)).as("legacy_raw"))

    val trimmed = trim(col("legacy_raw"))
    val isDigits = trimmed.rlike("^[0-9]+$")
    raw.select(
      col("portal_key"), col("name"), col("base_url"),
      col("la_query"), col("la_attr"),
      when(col("ls_state") >= 2, col("ls_query_raw"))
        .otherwise(lit(null).cast("string")).as("ls_query"),
      coalesce(col("headers_n_raw"), lit(0L)).as("n_headers"),
      when(col("df_state") === 0, lit("%Y-%m-%d"))
        .when(col("df_state") === 1, lit(null).cast("string"))
        .otherwise(col("df_value")).as("date_format"),
      when(trimmed =!= "", trimmed).as("lc_identifier"),
      when(trimmed =!= "" && isDigits, trimmed).as("lc_city_id"),
      when(trimmed =!= "" && !isDigits, trimmed).as("lc_label"),
      (trimmed =!= "" && isDigits).as("lc_survives"))
      .orderBy(col("portal_key"))
  }

  val portalPayloadSql: String =
    """WITH raw AS (
      |  SELECT p_partkey AS portal_key,
      |    'portal-' || p_partkey AS name,
      |    'https://news-' || (p_partkey % 97) || '.example' AS base_url,
      |    '.article-' || (p_partkey % 13) AS la_query,
      |    CASE WHEN p_partkey % 3 = 2 THEN 'href' END AS la_attr,
      |    p_partkey % 4 AS ls_state,
      |    '.summary-' || (p_partkey % 7) AS ls_query_raw,
      |    CASE WHEN p_partkey % 5 < 2 THEN p_partkey % 4 END AS headers_n_raw,
      |    p_partkey % 3 AS df_state,
      |    '%d/%m/' || (CASE WHEN p_partkey % 2 = 0 THEN '%Y' ELSE '%y' END) AS df_value,
      |    CASE WHEN p_partkey % 6 = 0 THEN '  ' || (p_partkey % 1000) || ' '
      |         WHEN p_partkey % 6 = 1 THEN ' Porto ' || (p_partkey % 50)
      |         WHEN p_partkey % 6 = 2 THEN '   '
      |         WHEN p_partkey % 6 = 3 THEN '' || (p_partkey % 500)
      |         WHEN p_partkey % 6 = 4 THEN ''
      |         ELSE 'Vila-' || (p_partkey % 30) END AS legacy_raw
      |  FROM part)
      |SELECT portal_key, name, base_url, la_query, la_attr,
      |  CASE WHEN ls_state >= 2 THEN ls_query_raw END AS ls_query,
      |  CAST(coalesce(headers_n_raw, 0) AS BIGINT) AS n_headers,
      |  CASE WHEN df_state = 0 THEN '%Y-%m-%d'
      |       WHEN df_state = 1 THEN NULL
      |       ELSE df_value END AS date_format,
      |  CASE WHEN trim(legacy_raw) <> '' THEN trim(legacy_raw) END AS lc_identifier,
      |  CASE WHEN trim(legacy_raw) <> '' AND regexp_matches(trim(legacy_raw), '^[0-9]+$')
      |       THEN trim(legacy_raw) END AS lc_city_id,
      |  CASE WHEN trim(legacy_raw) <> '' AND NOT regexp_matches(trim(legacy_raw), '^[0-9]+$')
      |       THEN trim(legacy_raw) END AS lc_label,
      |  trim(legacy_raw) <> '' AND regexp_matches(trim(legacy_raw), '^[0-9]+$') AS lc_survives
      |FROM raw ORDER BY portal_key""".stripMargin

  /** q143: the ArticleBatchPayload validation gate — pydantic
    * validates the WHOLE batch body before the router runs, so one
    * invalid article 422-rejects the entire batch (all-or-nothing;
    * schemas/article_batch_payload.py + api.py:256 — FastAPI rejects
    * the request body wholesale, mention-level tolerance from q141
    * never gets a chance). Required str fields accept '' (pydantic
    * str is satisfied by an empty string — only MISSING/null fails);
    * published_at must parse as a datetime. One row per batch:
    * article/invalid counts, the first failing article key (the
    * error location a client sees), the all-or-nothing verdict and
    * the stored count it implies. One scan, one partial-agg groupBy
    * on batch_id — no windows. */
  def batchValidation(s: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey")
    val raw = Tables.orders(s, dir).select(
      k.as("article_key"),
      expr("o_orderkey div 20").as("batch_id"),
      when(k % 97 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("portal-"), col("o_custkey") % 7)).as("portal"),
      when(k % 89 === 0, lit(null).cast("string"))
        .when(k % 17 === 1, lit(""))
        .otherwise(col("o_orderpriority")).as("title"),
      when(k % 101 === 0, lit(null).cast("string"))
        .otherwise(col("o_orderstatus")).as("content"),
      when(k % 103 === 0, lit("not-a-date"))
        .otherwise(date_format(col("o_orderdate").cast("timestamp"),
          "yyyy-MM-dd'T'HH:mm:ss")).as("published_raw"))
    val invalid = col("portal").isNull || col("title").isNull ||
      col("content").isNull ||
      try_to_timestamp(col("published_raw"), lit(IsoFmt)).isNull
    raw
      .withColumn("invalid", invalid)
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_articles"),
        sum(when(col("invalid"), 1L).otherwise(0L)).as("n_invalid"),
        sum(when(col("title") === "", 1L).otherwise(0L)).as("n_empty_title_ok"),
        min(when(col("invalid"), col("article_key"))).as("first_error_key"))
      .select(col("batch_id"), col("n_articles"), col("n_invalid"),
        col("n_empty_title_ok"),
        col("first_error_key"),
        (col("n_invalid") === 0).as("accepted"),
        when(col("n_invalid") === 0, col("n_articles")).otherwise(0L)
          .as("n_stored"))
      .orderBy(col("batch_id"))
  }

  val batchValidationSql: String =
    """WITH raw AS (
      |  SELECT o_orderkey AS article_key,
      |    o_orderkey // 20 AS batch_id,
      |    CASE WHEN o_orderkey % 97 = 0 THEN NULL
      |         ELSE 'portal-' || (o_custkey % 7) END AS portal,
      |    CASE WHEN o_orderkey % 89 = 0 THEN NULL
      |         WHEN o_orderkey % 17 = 1 THEN ''
      |         ELSE o_orderpriority END AS title,
      |    CASE WHEN o_orderkey % 101 = 0 THEN NULL
      |         ELSE o_orderstatus END AS content,
      |    CASE WHEN o_orderkey % 103 = 0 THEN 'not-a-date'
      |         ELSE strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S') END
      |      AS published_raw
      |  FROM orders),
      |flagged AS (
      |  SELECT *,
      |    (portal IS NULL OR title IS NULL OR content IS NULL
      |     OR try_strptime(published_raw, '%Y-%m-%dT%H:%M:%S') IS NULL) AS invalid
      |  FROM raw),
      |agg AS (
      |  SELECT batch_id,
      |    CAST(COUNT(*) AS BIGINT) AS n_articles,
      |    CAST(SUM(CASE WHEN invalid THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid,
      |    CAST(SUM(CASE WHEN title = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_title_ok,
      |    MIN(CASE WHEN invalid THEN article_key END) AS first_error_key
      |  FROM flagged GROUP BY batch_id)
      |SELECT batch_id, n_articles, n_invalid, n_empty_title_ok, first_error_key,
      |  n_invalid = 0 AS accepted,
      |  CASE WHEN n_invalid = 0 THEN n_articles ELSE 0 END AS n_stored
      |FROM agg ORDER BY batch_id""".stripMargin

  // ---- q222: Mongo article-store serialize/deserialize round-trip ----

  /** q222: `MongoArticleRepository._serialize_article` /
    * `_deserialize_article`
    * (infrastructure/repositories/mongo_article_repository.py:78-116)
    * replayed set-wise — the STORE-side boundary, the companion of
    * q141's sink side. Quirks pinned:
    *
    *  - `cities_extraction` enters the stored document ONLY when not
    *    None (`:91-93` — the key is conditionally present);
    *  - on read, `raw` is a COPY of the stored raw dict and the
    *    extraction metadata is merged into it only when the metadata
    *    exists AND raw does not already carry the key (`:103-105` —
    *    raw's own value wins over the document-level one);
    *  - `cities` reads through `data.get("cities") or ()` — a null or
    *    EMPTY stored list both collapse to no mentions (`:100`);
    *  - `summary`/`classification` read via `.get` (None default),
    *    so both survive a round-trip as nullable passthrough (unlike
    *    q141's client, which LOSES classification).
    *
    * The sibling delegation adapters carry no extra semantics and are
    * covered by the components they forward to:
    * `queue_news_repository.py` → StreamingCollector's queue,
    * `extraction_result_store_writer.py` → q114/q60's store ops,
    * `mongo_portal_repository.py` → q142's selector/portal coercions
    * (same .get defaults, same truthy-only listing_summary). */
  def articleStoreRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey")
    Tables.orders(s, dir).select(
      k.as("article_key"),
      when(k % 2 === 0, concat(lit("meta-v"), k % 5))
        .otherwise(lit(null).cast("string")).as("extraction_meta"),
      (k % 3 === 0).as("raw_had_own"),
      when(k % 3 === 0, concat(lit("raw-v"), k % 7))
        .otherwise(lit(null).cast("string")).as("raw_own_value"),
      when(k % 4 === 0, lit(0L)).otherwise(k % 4).as("n_cities_stored"),
      when(k % 5 === 0, lit(null).cast("string"))
        .when(k % 5 === 1, lit("")).otherwise(concat(lit("s"), k % 5))
        .as("summary"))
      .select(
        col("article_key"),
        // serialize: the document carries the key only when not null
        col("extraction_meta").isNotNull.as("doc_has_meta_key"),
        // deserialize: cities `or ()` — empty and null both collapse
        col("n_cities_stored").as("n_cities_rt"),
        (col("n_cities_stored") === 0).as("cities_collapsed"),
        // raw merge: own value wins; metadata fills only the gap
        when(col("raw_had_own"), col("raw_own_value"))
          .otherwise(col("extraction_meta")).as("raw_extraction_rt"),
        (!col("raw_had_own") && col("extraction_meta").isNotNull)
          .as("meta_merged"),
        // summary passthrough: '' stays '', null stays null
        col("summary").as("summary_rt"))
      .orderBy(col("article_key"))
  }

  val articleStoreRoundTripSql: String =
    """WITH a AS (SELECT o_orderkey AS article_key,
      |    CASE WHEN o_orderkey % 2 = 0 THEN 'meta-v' || o_orderkey % 5 END AS extraction_meta,
      |    o_orderkey % 3 = 0 AS raw_had_own,
      |    CASE WHEN o_orderkey % 3 = 0 THEN 'raw-v' || o_orderkey % 7 END AS raw_own_value,
      |    CASE WHEN o_orderkey % 4 = 0 THEN 0 ELSE o_orderkey % 4 END AS n_cities_stored,
      |    CASE WHEN o_orderkey % 5 = 0 THEN NULL
      |         WHEN o_orderkey % 5 = 1 THEN ''
      |         ELSE 's' || o_orderkey % 5 END AS summary
      |  FROM orders)
      |SELECT article_key,
      |  extraction_meta IS NOT NULL AS doc_has_meta_key,
      |  CAST(n_cities_stored AS BIGINT) AS n_cities_rt,
      |  n_cities_stored = 0 AS cities_collapsed,
      |  CASE WHEN raw_had_own THEN raw_own_value ELSE extraction_meta END AS raw_extraction_rt,
      |  NOT raw_had_own AND extraction_meta IS NOT NULL AS meta_merged,
      |  summary AS summary_rt
      |FROM a
      |ORDER BY article_key""".stripMargin

  val queries: Map[String, Q] = Map(
    "q141_sink_roundtrip" -> (sinkRoundTrip _),
    "q142_portal_payload" -> (portalPayload _),
    "q143_batch_validation" -> (batchValidation _),
    "q222_article_store_roundtrip" -> (articleStoreRoundTrip _))

  val oracles: Map[String, String] = Map(
    "q141_sink_roundtrip" -> sinkRoundTripSql,
    "q142_portal_payload" -> portalPayloadSql,
    "q143_batch_validation" -> batchValidationSql,
    "q222_article_store_roundtrip" -> articleStoreRoundTripSql)
}
