package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables

/** q120: the scraper's first-page fallback URL generator —
  * `_first_page_fallback_urls` (infrastructure/scraper.py:375-469).
  * When page 1 of a listing comes back empty, the scraper derives
  * candidate URLs in a fixed order: (1) the query string with common
  * pagination parameters removed (page/paged/pagina/pag/p) — only when
  * something was actually removed, twice when the remaining query is
  * empty (the reference appends the no-query form again); (2) the path
  * with a trailing '/1', '-1' or '_1' pagination suffix trimmed
  * (original query kept, '/' when the trim empties the path); (3) the
  * trimmed path with a trailing /page|/pagina|/pag|/p segment also
  * stripped; (4) the portal base URL as last resort. The list then
  * dedups keeping first-seen order, comparing with trailing slashes
  * stripped, and drops candidates equal to the original URL
  * (scraper.py:456-467).
  *
  * Pure map-side string algebra: the candidate slots are CASE columns,
  * the ordered normalized dedup a bounded fold over a 5-slot array —
  * no joins, no shuffles but the presentation sort. */
object FallbackUrlQueries extends QueryFamily {

  private def rstripSlash(c: Column): Column = rtrim(c, "/")

  def firstPageFallback(s: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey")
    val base = Tables.orders(s, dir).select(
      k.as("url_id"),
      concat(lit("https://p"), k % 7, lit(".example")).as("host"),
      // paths covering every suffix rule: '/1' (trim empties the
      // path), '/list/1', '/news/page/1' (segment strip fires),
      // '/arch-1', '/feed' (no suffix)
      when(k % 8 === 0, lit("/1"))
        .when(k % 4 === 0, lit("/list/1"))
        .when(k % 4 === 1, lit("/news/page/1"))
        .when(k % 4 === 2, lit("/arch-1"))
        .otherwise(lit("/feed")).as("path"),
      // queries covering: no pagination key (no candidate), mixed
      // pagination+real params, pagination-only (empty filtered
      // query), no query at all
      when(k % 9 === 0, lit("tag=only"))
        .when(k % 3 === 0, lit("page=2&tag=br"))
        .when(k % 3 === 1, concat(lit("p="), k % 5))
        .otherwise(lit("")).as("query"))
      .withColumn("qsuffix",
        when(col("query") =!= "", concat(lit("?"), col("query"))).otherwise(lit("")))
      .withColumn("orig", concat(col("host"), col("path"), col("qsuffix")))
      // filtered query: pagination keys removed (scraper.py:421-428)
      .withColumn("fquery",
        when(col("query") === "tag=only", lit(null).cast("string")) // unchanged -> no candidate
          .when(col("query") === "page=2&tag=br", lit("tag=br"))
          .when(col("query").startsWith("p="), lit(""))
          .otherwise(lit(null).cast("string")))
      .withColumn("trimmed",
        when(col("path") === "/1", lit("/"))
          .when(col("path") === "/list/1", lit("/list"))
          .when(col("path") === "/news/page/1", lit("/news/page"))
          .when(col("path") === "/arch-1", lit("/arch"))
          .otherwise(lit(null).cast("string")))
      .withColumn("segstrip",
        when(col("trimmed") === "/news/page", lit("/news"))
          .otherwise(lit(null).cast("string")))
    val c1 = when(col("fquery").isNotNull,
      concat(col("host"), col("path"),
        when(col("fquery") =!= "", concat(lit("?"), col("fquery"))).otherwise(lit(""))))
    val c2 = when(col("fquery") === "", concat(col("host"), col("path")))
    val c3 = when(col("trimmed").isNotNull, concat(col("host"), col("trimmed"), col("qsuffix")))
    val c4 = when(col("segstrip").isNotNull, concat(col("host"), col("segstrip"), col("qsuffix")))
    val c5 = col("host")
    // ordered dedup on the rstrip('/') normalization, skipping the
    // original URL (scraper.py:456-467) — keep flags and running
    // positions as plain CASE columns (all codegen'd; a HOF fold here
    // is interpreted per row and benches 5x slower), then one explode
    // of the 5 slots and a codegen'd filter on the keep flag.
    val slotted = base
      .withColumn("c1", c1).withColumn("c2", c2).withColumn("c3", c3)
      .withColumn("c4", c4).withColumn("c5", c5)
      .withColumn("norig", rstripSlash(col("orig")))
      .withColumn("k1",
        col("c1").isNotNull && rstripSlash(col("c1")) =!= col("norig"))
      .withColumn("k2",
        col("c2").isNotNull && rstripSlash(col("c2")) =!= col("norig") &&
          !(col("k1") && rstripSlash(col("c2")) === rstripSlash(col("c1"))))
      .withColumn("k3",
        col("c3").isNotNull && rstripSlash(col("c3")) =!= col("norig") &&
          !(col("k1") && rstripSlash(col("c3")) === rstripSlash(col("c1"))) &&
          !(col("k2") && rstripSlash(col("c3")) === rstripSlash(col("c2"))))
      .withColumn("k4",
        col("c4").isNotNull && rstripSlash(col("c4")) =!= col("norig") &&
          !(col("k1") && rstripSlash(col("c4")) === rstripSlash(col("c1"))) &&
          !(col("k2") && rstripSlash(col("c4")) === rstripSlash(col("c2"))) &&
          !(col("k3") && rstripSlash(col("c4")) === rstripSlash(col("c3"))))
      .withColumn("k5",
        rstripSlash(col("c5")) =!= col("norig") &&
          !(col("k1") && rstripSlash(col("c5")) === rstripSlash(col("c1"))) &&
          !(col("k2") && rstripSlash(col("c5")) === rstripSlash(col("c2"))) &&
          !(col("k3") && rstripSlash(col("c5")) === rstripSlash(col("c3"))) &&
          !(col("k4") && rstripSlash(col("c5")) === rstripSlash(col("c4"))))
    def cnt(ks: Column*): Column =
      ks.map(k => when(k, 1L).otherwise(0L)).reduce(_ + _)
    slotted
      .withColumn("s", explode(array(
        struct(lit(1L).as("p"), col("c1").as("candidate"), col("k1").as("keep")),
        struct((lit(1L) + cnt(col("k1"))).as("p"), col("c2").as("candidate"),
          col("k2").as("keep")),
        struct((lit(1L) + cnt(col("k1"), col("k2"))).as("p"),
          col("c3").as("candidate"), col("k3").as("keep")),
        struct((lit(1L) + cnt(col("k1"), col("k2"), col("k3"))).as("p"),
          col("c4").as("candidate"), col("k4").as("keep")),
        struct((lit(1L) + cnt(col("k1"), col("k2"), col("k3"), col("k4"))).as("p"),
          col("c5").as("candidate"), col("k5").as("keep")))))
      .filter(col("s.keep"))
      .select(col("url_id"), col("s.p").as("pos"), col("s.candidate").as("candidate"))
      .orderBy(col("url_id"), col("pos"))
  }

  /** The oracle mirrors the 5 slots with keep flags and running
    * positions — no list accumulators (DuckDB lambda accumulators
    * corrupt over dictionary vectors, see q92's oracle note). */
  val firstPageFallbackSql: String =
    """WITH base AS (
      |  SELECT o_orderkey AS url_id,
      |    'https://p' || (o_orderkey % 7) || '.example' AS host,
      |    CASE WHEN o_orderkey % 8 = 0 THEN '/1'
      |         WHEN o_orderkey % 4 = 0 THEN '/list/1'
      |         WHEN o_orderkey % 4 = 1 THEN '/news/page/1'
      |         WHEN o_orderkey % 4 = 2 THEN '/arch-1'
      |         ELSE '/feed' END AS path,
      |    CASE WHEN o_orderkey % 9 = 0 THEN 'tag=only'
      |         WHEN o_orderkey % 3 = 0 THEN 'page=2&tag=br'
      |         WHEN o_orderkey % 3 = 1 THEN 'p=' || (o_orderkey % 5)
      |         ELSE '' END AS query
      |  FROM orders),
      |derived AS (
      |  SELECT *,
      |    CASE WHEN query <> '' THEN '?' || query ELSE '' END AS qsuffix,
      |    CASE WHEN query = 'tag=only' THEN NULL
      |         WHEN query = 'page=2&tag=br' THEN 'tag=br'
      |         WHEN query LIKE 'p=%' THEN ''
      |         END AS fquery,
      |    CASE WHEN path = '/1' THEN '/'
      |         WHEN path = '/list/1' THEN '/list'
      |         WHEN path = '/news/page/1' THEN '/news/page'
      |         WHEN path = '/arch-1' THEN '/arch'
      |         END AS trimmed
      |  FROM base),
      |slots AS (
      |  SELECT url_id,
      |    host || path || qsuffix AS orig,
      |    CASE WHEN fquery IS NOT NULL THEN host || path ||
      |      CASE WHEN fquery <> '' THEN '?' || fquery ELSE '' END END AS c1,
      |    CASE WHEN fquery = '' THEN host || path END AS c2,
      |    CASE WHEN trimmed IS NOT NULL THEN host || trimmed || qsuffix END AS c3,
      |    CASE WHEN trimmed = '/news/page' THEN host || '/news' || qsuffix END AS c4,
      |    host AS c5
      |  FROM derived),
      |keeps AS (
      |  SELECT *,
      |    (c1 IS NOT NULL AND rtrim(c1, '/') <> rtrim(orig, '/')) AS k1,
      |    (c2 IS NOT NULL AND rtrim(c2, '/') <> rtrim(orig, '/')
      |     AND (c1 IS NULL OR rtrim(c2, '/') <> rtrim(c1, '/'))) AS k2
      |  FROM slots),
      |keeps2 AS (
      |  SELECT *,
      |    (c3 IS NOT NULL AND rtrim(c3, '/') <> rtrim(orig, '/')
      |     AND NOT (k1 AND rtrim(c3, '/') = rtrim(c1, '/'))
      |     AND NOT (k2 AND rtrim(c3, '/') = rtrim(c2, '/'))) AS k3
      |  FROM keeps),
      |keeps3 AS (
      |  SELECT *,
      |    (c4 IS NOT NULL AND rtrim(c4, '/') <> rtrim(orig, '/')
      |     AND NOT (k1 AND rtrim(c4, '/') = rtrim(c1, '/'))
      |     AND NOT (k2 AND rtrim(c4, '/') = rtrim(c2, '/'))
      |     AND NOT (k3 AND rtrim(c4, '/') = rtrim(c3, '/'))) AS k4
      |  FROM keeps2),
      |keeps4 AS (
      |  SELECT *,
      |    (c5 IS NOT NULL AND rtrim(c5, '/') <> rtrim(orig, '/')
      |     AND NOT (k1 AND rtrim(c5, '/') = rtrim(c1, '/'))
      |     AND NOT (k2 AND rtrim(c5, '/') = rtrim(c2, '/'))
      |     AND NOT (k3 AND rtrim(c5, '/') = rtrim(c3, '/'))
      |     AND NOT (k4 AND rtrim(c5, '/') = rtrim(c4, '/'))) AS k5
      |  FROM keeps3),
      |unioned AS (
      |  SELECT url_id, 1 AS slot, c1 AS candidate, 1 AS pos FROM keeps4 WHERE k1
      |  UNION ALL
      |  SELECT url_id, 2, c2,
      |    1 + CASE WHEN k1 THEN 1 ELSE 0 END FROM keeps4 WHERE k2
      |  UNION ALL
      |  SELECT url_id, 3, c3,
      |    1 + CASE WHEN k1 THEN 1 ELSE 0 END + CASE WHEN k2 THEN 1 ELSE 0 END
      |  FROM keeps4 WHERE k3
      |  UNION ALL
      |  SELECT url_id, 4, c4,
      |    1 + CASE WHEN k1 THEN 1 ELSE 0 END + CASE WHEN k2 THEN 1 ELSE 0 END
      |      + CASE WHEN k3 THEN 1 ELSE 0 END
      |  FROM keeps4 WHERE k4
      |  UNION ALL
      |  SELECT url_id, 5, c5,
      |    1 + CASE WHEN k1 THEN 1 ELSE 0 END + CASE WHEN k2 THEN 1 ELSE 0 END
      |      + CASE WHEN k3 THEN 1 ELSE 0 END + CASE WHEN k4 THEN 1 ELSE 0 END
      |  FROM keeps4 WHERE k5)
      |SELECT url_id, CAST(pos AS BIGINT) AS pos, candidate
      |FROM unioned
      |ORDER BY url_id, pos""".stripMargin

  val queries: Map[String, Q] = Map(
    "q120_first_page_fallback" -> (firstPageFallback _))

  val oracles: Map[String, String] = Map(
    "q120_first_page_fallback" -> firstPageFallbackSql)
}
