package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables
import graft.functions.Hashing
import graft.operators.Curation

/** Crawl-side web operations: URL canonicalization dedup (q203) and
  * politeness-scheduled frontier assignment (q204). The reference
  * dedups re-crawls on EXACT url identity
  * (servico_coleta_noticias.py via the (portal, url) unique index) and
  * its collector walks portals one listing page at a time
  * (scraper.py pagination); at fleet scale the same article arrives
  * under tracking-parameter, mirror-host and fragment variants — the
  * canonicalizer is what makes the exact index effective — and the
  * frontier must spread fetches across domains under per-domain
  * politeness delays.
  */
object WebOpsQueries extends QueryFamily {

  /** Tracking parameters dropped by the canonicalizer. */
  val TrackingRe = "^(utm_[^=]*|fbclid|gclid)="

  // ---- q203: URL canonicalization dedup ----

  /** Synthetic crawl-log URL per document — four raw variants per
    * article id (doc_id div 4), exercising every canonicalization
    * rule: case folding, default ports, www-stripping, fragments,
    * tracking params, kept params, trailing slashes. */
  private def rawUrl: Column = {
    val art = expr("doc_id div 4")
    val host = concat(lit("h"), pmod(art, lit(7)), lit(".example.com"))
    when(col("doc_id") % 4 === 0,
        concat(lit("https://"), host, lit("/a/"), art))
      .when(col("doc_id") % 4 === 1,
        concat(lit("https://"), host,
          lit("/a/"), art, lit("?utm_source=feed&page=2&utm_campaign=x")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("HTTPS://WWW."), upper(host), lit("/a/"), art, lit("#section")))
      .otherwise(
        concat(lit("https://"), host, lit(":443/a/"), art, lit("/?fbclid=abc123")))
  }

  /** Canonical form of a URL column: drop the fragment; lowercase
    * scheme and authority; strip the scheme's default port and a
    * leading `www.`; drop tracking params (keeping the rest in order,
    * and the `?` only if something survives); strip trailing slashes
    * off non-root paths. Pure codegen'd string/regexp column math —
    * embarrassingly parallel at any scale. */
  def canonicalUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([a-zA-Z]+)://", 1))
    val auth0 = lower(regexp_extract(noFrag, "^[a-zA-Z]+://([^/?#]+)", 1))
    val auth1 = when(scheme === "http", regexp_replace(auth0, ":80$", ""))
      .when(scheme === "https", regexp_replace(auth0, ":443$", ""))
      .otherwise(auth0)
    val auth = regexp_replace(auth1, "^www\\.", "")
    val path0 = regexp_extract(noFrag, "^[a-zA-Z]+://[^/?#]+([^?#]*)", 1)
    val path = when(path0 === "" || path0 === "/", lit("/"))
      .otherwise(regexp_replace(path0, "/+$", ""))
    val query = regexp_extract(noFrag, "\\?([^#]*)", 1)
    val kept = array_join(
      filter(split(query, "&"), x => !x.rlike(TrackingRe)), "&")
    concat(scheme, lit("://"), auth, path,
      when(kept === "", lit("")).otherwise(concat(lit("?"), kept)))
  }

  /** q203: canonicalization dedup over the synthetic crawl log. Groups
    * raw URLs by canonical form; each group keeps its lowest doc_id as
    * the survivor and counts the variants and how many carried
    * tracking params. The canonical map is one map-side projection;
    * the only shuffle is the canonical-key aggregation — ingest-dedup
    * shape at any scale. */
  def urlCanonical(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), rawUrl.as("raw"))
      .withColumn("canonical", canonicalUrl(col("raw")))
      .withColumn("had_tracking",
        exists(split(regexp_extract(regexp_replace(col("raw"), "#.*$", ""),
          "\\?([^#]*)", 1), "&"), x => x.rlike(TrackingRe)))
      .groupBy(col("canonical"))
      .agg(
        min(col("doc_id")).as("survivor_doc_id"),
        count(lit(1)).as("n_raw"),
        countDistinct(col("raw")).as("n_distinct_raw"),
        sum(when(coalesce(col("had_tracking"), lit(false)), 1L).otherwise(0L))
          .as("n_tracking"))
      .orderBy(col("survivor_doc_id"))

  val urlCanonicalSql: String =
    s"""WITH raw AS (SELECT doc_id,
       |    CASE WHEN doc_id % 4 = 0 THEN
       |        'https://h' || (doc_id // 4) % 7 || '.example.com/a/' || (doc_id // 4)
       |      WHEN doc_id % 4 = 1 THEN
       |        'https://h' || (doc_id // 4) % 7 || '.example.com/a/' || (doc_id // 4)
       |          || '?utm_source=feed&page=2&utm_campaign=x'
       |      WHEN doc_id % 4 = 2 THEN
       |        'HTTPS://WWW.' || upper('h' || (doc_id // 4) % 7 || '.example.com')
       |          || '/a/' || (doc_id // 4) || '#section'
       |      ELSE
       |        'https://h' || (doc_id // 4) % 7 || '.example.com:443/a/'
       |          || (doc_id // 4) || '/?fbclid=abc123'
       |    END AS raw
       |  FROM documents),
       |parts AS (SELECT doc_id, raw,
       |    regexp_replace(raw, '#.*$$', '') AS nofrag
       |  FROM raw),
       |comp AS (SELECT doc_id, raw,
       |    lower(regexp_extract(nofrag, '^([a-zA-Z]+)://', 1)) AS scheme,
       |    lower(regexp_extract(nofrag, '^[a-zA-Z]+://([^/?#]+)', 1)) AS auth0,
       |    regexp_extract(nofrag, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1) AS path0,
       |    regexp_extract(nofrag, '\\?([^#]*)', 1) AS q
       |  FROM parts),
       |norm AS (SELECT doc_id, raw, scheme, q,
       |    regexp_replace(
       |      CASE WHEN scheme = 'http' THEN regexp_replace(auth0, ':80$$', '')
       |           WHEN scheme = 'https' THEN regexp_replace(auth0, ':443$$', '')
       |           ELSE auth0 END, '^www\\.', '') AS auth,
       |    CASE WHEN path0 = '' OR path0 = '/' THEN '/'
       |         ELSE regexp_replace(path0, '/+$$', '') END AS path,
       |    array_to_string(list_filter(string_split(nullif(q, ''), '&'),
       |      x -> NOT regexp_matches(x, '$TrackingRe')), '&') AS kept,
       |    len(list_filter(string_split(nullif(q, ''), '&'),
       |      x -> regexp_matches(x, '$TrackingRe'))) > 0 AS had_tracking
       |  FROM comp),
       |canon AS (SELECT doc_id, raw, had_tracking,
       |    scheme || '://' || auth || path ||
       |      CASE WHEN kept IS NULL OR kept = '' THEN '' ELSE '?' || kept END AS canonical
       |  FROM norm)
       |SELECT canonical,
       |  MIN(doc_id) AS survivor_doc_id,
       |  COUNT(*) AS n_raw,
       |  CAST(COUNT(DISTINCT raw) AS BIGINT) AS n_distinct_raw,
       |  CAST(SUM(CASE WHEN COALESCE(had_tracking, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS n_tracking
       |FROM canon
       |GROUP BY canonical
       |ORDER BY survivor_doc_id""".stripMargin

  // ---- q204: politeness-scheduled crawl frontier ----

  val PolitenessMs = 500L
  val PriorityBuckets = 8L

  /** q204: frontier scheduling under per-domain politeness. Every URL
    * gets a deterministic priority; within each domain URLs are ranked
    * (priority desc, doc_id asc) and fetch slots assigned at
    * [[PolitenessMs]] spacing — rank r fetches at (r−1)·delay, so a
    * domain's crawl never exceeds one request per delay while domains
    * proceed in parallel.
    *
    * Scale: the rank uses [[Curation.stratumValueRank]] — value-range
    * sub-shards ranked independently plus prefix-sum offsets — so a
    * domain holding half the frontier spreads over bounded partitions
    * instead of stalling one reducer (the q74/q137 lesson, applied to
    * a PRIORITY ordering rather than a hash ordering). */
  def crawlSchedule(s: SparkSession, dir: String): DataFrame = {
    val frontier = Tables.documents(s, dir)
      .select(col("doc_id"),
        concat(lit("h"), pmod(expr("doc_id div 4"), lit(7)),
          lit(".example.com")).as("domain"),
        (Hashing.affine(col("doc_id"), 11) % 1000L).as("priority"))
    Curation.stratumValueRank(frontier, "domain", "priority", "doc_id",
      1000L / PriorityBuckets)
      .withColumn("rank_in_domain", col("rk"))
      .withColumn("sched_ms", (col("rk") - 1L) * PolitenessMs)
      .select(col("doc_id"), col("domain"), col("priority"),
        col("rank_in_domain"), col("sched_ms"))
      .orderBy(col("domain"), col("rank_in_domain"))
  }

  val crawlScheduleSql: String = {
    val prio = Hashing.affineSql("doc_id", 11)
    s"""WITH f AS (SELECT doc_id,
       |    'h' || (doc_id // 4) % 7 || '.example.com' AS domain,
       |    CAST(($prio) % 1000 AS BIGINT) AS priority
       |  FROM documents),
       |r AS (SELECT *,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY domain
       |      ORDER BY priority DESC, doc_id) AS BIGINT) AS rank_in_domain
       |  FROM f)
       |SELECT doc_id, domain, priority, rank_in_domain,
       |  (rank_in_domain - 1) * $PolitenessMs AS sched_ms
       |FROM r
       |ORDER BY domain, rank_in_domain""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q203_url_canonical" -> (urlCanonical _),
    "q204_crawl_schedule" -> (crawlSchedule _))

  val oracles: Map[String, String] = Map(
    "q203_url_canonical" -> urlCanonicalSql,
    "q204_crawl_schedule" -> crawlScheduleSql)
}
