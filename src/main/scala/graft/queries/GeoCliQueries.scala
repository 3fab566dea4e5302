package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables

/** The geo-enrichment CLI pipeline (services/publications/geo_cli.py):
  * the stage functions the CLI plugs into `enrich_geo`
  * (packages/@farol/geo-enrichment/service.py:40-68) carry real
  * per-article compute — a name-index disambiguator that fills missing
  * candidate ids from the catalog (geo_cli.py:206-272) and the
  * GeoOutput metadata assembly with its catalog-version coalesce
  * cascade and id-fallback resolution (geo_cli.py:282-350).
  *
  * Scale shape: the city catalog is a fixed dimension — q112
  * pre-aggregates it per lookup key and broadcasts the tiny per-key
  * stats, so the match stream resolves map-only with NO shuffle of
  * the fact. q113's matches_total is the only shuffle (partial-agg
  * count per article).
  */
object GeoCliQueries extends QueryFamily {

  /** `_normalize_name` (geo_cli.py:196-197): lower + whitespace
    * collapse via split/join — leading/trailing runs vanish too. */
  private def normName(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** The synthesized city catalog — a FIXED 150-entry dimension
    * (c_custkey < 150 selects the same rows at every SF, so the dim
    * stays a dim while the match stream scales). Branch coverage:
    * empty names (entry skipped from the index entirely, alt included
    * — geo_cli.py:213-216 `continue` fires before alts), missing/empty
    * ibge ids (a unique candidate with a falsy id still resolves to
    * None, geo_cli.py:253-255), null UFs (upper(coalesce(uf,''))
    * never equals a context UF), alt names indexed under the same
    * entry (geo_cli.py:219-224), ck%10==7 entries carry globally
    * UNIQUE names (the len(candidates)==1 fast path), and shared
    * 'City N' names collide in groups of 3-4 whose UFs ((ck*7)%11)
    * DIFFER inside the group, so a context UF can narrow to one. */
  private def catalogEntries(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .filter(col("c_custkey") < 150)
      .select(
        col("c_custkey").as("ck"),
        when(col("c_custkey") % 31 === 0, lit(null).cast("string"))
          .when(col("c_custkey") % 41 === 0, lit(""))
          .otherwise(concat(lit("7"), lpad(col("c_custkey").cast("string"), 6, "0")))
          .as("ibge_id"),
        when(col("c_custkey") % 29 === 0, lit(""))
          .when(col("c_custkey") % 10 === 7,
            concat(lit("City "), col("c_custkey") + 1000))
          .otherwise(concat(lit("City "), col("c_custkey") % 40)).as("name"),
        when(col("c_custkey") % 3 === 0,
          concat(lit("Alt "), col("c_custkey") % 25)).as("alt"),
        when(col("c_custkey") % 37 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("UF"), (col("c_custkey") * 7) % 11)).as("uf"))

  /** The name index (geo_cli.py:206-224): normalized primary name AND
    * every alt name keys the same entry — blank-name entries are
    * skipped before their alts are considered. */
  private def nameIndex(s: SparkSession, dir: String): DataFrame = {
    val entries = catalogEntries(s, dir).filter(col("name") =!= "")
    val byName = entries.select(normName(col("name")).as("key"), col("ibge_id"), col("uf"))
    val byAlt = entries.filter(col("alt").isNotNull)
      .select(normName(col("alt")).as("key"), col("ibge_id"), col("uf"))
    byName.unionAll(byAlt)
  }

  /** q112: `_disambiguate_matches` (geo_cli.py:239-272). Matches that
    * already carry a candidate id pass through; the rest look up the
    * normalized surface — exactly one catalog candidate resolves (when
    * its ibge id is truthy), several candidates resolve only when the
    * match's context UF narrows them to exactly one (case-insensitive
    * compare, geo_cli.py:259-266).
    *
    * Spark shape: instead of join-then-groupBy over the fact, both
    * decision inputs are PRE-AGGREGATED on the 150-row dim — per-key
    * candidate counts (carrying the sole candidate's id) and the
    * (key, UF) pairs that narrow to exactly one — and broadcast, so
    * the order stream resolves with two map-side hash probes and zero
    * fact shuffles; only the presentation sort exchanges. At 100 TB of
    * matches the plan is unchanged: the dim aggregation is constant. */
  def geoDisambiguate(s: SparkSession, dir: String): DataFrame = {
    val idx = nameIndex(s, dir)
    val keyStats = idx.groupBy(col("key"))
      .agg(count(lit(1)).as("n_cand"), max(col("ibge_id")).as("only_ibge"))
    val ufStats = idx
      .groupBy(col("key").as("ukey"), upper(coalesce(col("uf"), lit(""))).as("ufkey"))
      .agg(count(lit(1)).as("n_uf"), max(col("ibge_id")).as("uf_ibge"))
      .filter(col("n_uf") === 1)
      .drop("n_uf")

    val matches = Tables.orders(s, dir).select(
      col("o_orderkey").as("match_id"),
      // _build_raw_matches (geo_cli.py:176-178): None/"" -> no candidate
      when(col("o_orderkey") % 7 === 0, concat(lit("9"), col("o_custkey")))
        .otherwise(lit(null).cast("string")).as("candidate_id"),
      // case/spacing noise makes normalization load-bearing; %5 rows
      // target alt names, %9==2 rows target the unique names, surface
      // ids 40-44 miss the index entirely
      when(col("o_orderkey") % 5 === 0, concat(lit("alt "), col("o_orderkey") % 25))
        .when(col("o_orderkey") % 9 === 2,
          concat(lit("city "), lit(1007) + (col("o_orderkey") % 15) * 10))
        .when(col("o_orderkey") % 3 === 0, concat(lit("  City   "), col("o_orderkey") % 45))
        .when(col("o_orderkey") % 3 === 1, concat(lit("CITY "), col("o_orderkey") % 45))
        .otherwise(concat(lit("city  "), col("o_orderkey") % 45)).as("surface"),
      when(col("o_orderkey") % 4 === 0, concat(lit("uf"), col("o_orderkey") % 11))
        .when(col("o_orderkey") % 4 === 1, concat(lit("UF"), col("o_orderkey") % 11))
        .otherwise(lit(null).cast("string")).as("context_uf"))

    matches
      .withColumn("key", normName(col("surface")))
      .join(broadcast(keyStats), Seq("key"), "left")
      .join(broadcast(ufStats),
        col("ukey") === col("key") && col("ufkey") === upper(col("context_uf")), "left")
      .select(
        col("match_id"), col("surface"), col("context_uf"),
        when(col("candidate_id").isNotNull, col("candidate_id"))
          .when(col("n_cand") === 1, nullif(col("only_ibge"), lit("")))
          .when(col("n_cand") > 1 && col("context_uf").isNotNull,
            nullif(col("uf_ibge"), lit("")))
          .as("resolved_id"),
        when(col("candidate_id").isNotNull, lit("prefilled"))
          .when(col("n_cand") === 1 && nullif(col("only_ibge"), lit("")).isNotNull,
            lit("unique"))
          .when(col("n_cand") > 1 && col("context_uf").isNotNull &&
            nullif(col("uf_ibge"), lit("")).isNotNull, lit("uf_filtered"))
          .otherwise(lit("unresolved")).as("resolved_by"))
      .orderBy(col("match_id"))
  }

  /** Shared oracle CTEs for the synthesized catalog + name index. */
  private val catalogCte: String =
    """cat AS (
      |  SELECT c_custkey AS ck,
      |    CASE WHEN c_custkey % 31 = 0 THEN NULL
      |         WHEN c_custkey % 41 = 0 THEN ''
      |         ELSE '7' || lpad(CAST(c_custkey AS VARCHAR), 6, '0') END AS ibge_id,
      |    CASE WHEN c_custkey % 29 = 0 THEN ''
      |         WHEN c_custkey % 10 = 7 THEN 'City ' || (c_custkey + 1000)
      |         ELSE 'City ' || (c_custkey % 40) END AS name,
      |    CASE WHEN c_custkey % 3 = 0 THEN 'Alt ' || (c_custkey % 25) END AS alt,
      |    CASE WHEN c_custkey % 37 = 0 THEN NULL
      |         ELSE 'UF' || ((c_custkey * 7) % 11) END AS uf
      |  FROM customer WHERE c_custkey < 150),
      |idx AS (
      |  SELECT lower(trim(regexp_replace(name, '\s+', ' ', 'g'))) AS key,
      |         ibge_id, uf
      |    FROM cat WHERE name <> ''
      |  UNION ALL
      |  SELECT lower(trim(regexp_replace(alt, '\s+', ' ', 'g'))) AS key,
      |         ibge_id, uf
      |    FROM cat WHERE name <> '' AND alt IS NOT NULL)""".stripMargin

  val geoDisambiguateSql: String =
    "WITH " + catalogCte + """,
      |key_stats AS (
      |  SELECT key, count(*) AS n_cand, max(ibge_id) AS only_ibge
      |  FROM idx GROUP BY key),
      |uf_stats AS (
      |  SELECT key AS ukey, upper(coalesce(uf, '')) AS ufkey,
      |         max(ibge_id) AS uf_ibge
      |  FROM idx GROUP BY 1, 2 HAVING count(*) = 1),
      |matches AS (
      |  SELECT o_orderkey AS match_id,
      |    CASE WHEN o_orderkey % 7 = 0 THEN '9' || o_custkey END AS candidate_id,
      |    CASE WHEN o_orderkey % 5 = 0 THEN 'alt ' || (o_orderkey % 25)
      |         WHEN o_orderkey % 9 = 2 THEN 'city ' || (1007 + (o_orderkey % 15) * 10)
      |         WHEN o_orderkey % 3 = 0 THEN '  City   ' || (o_orderkey % 45)
      |         WHEN o_orderkey % 3 = 1 THEN 'CITY ' || (o_orderkey % 45)
      |         ELSE 'city  ' || (o_orderkey % 45) END AS surface,
      |    CASE WHEN o_orderkey % 4 = 0 THEN 'uf' || (o_orderkey % 11)
      |         WHEN o_orderkey % 4 = 1 THEN 'UF' || (o_orderkey % 11) END AS context_uf
      |  FROM orders),
      |keyed AS (
      |  SELECT m.*, lower(trim(regexp_replace(m.surface, '\s+', ' ', 'g'))) AS key
      |  FROM matches m)
      |SELECT k.match_id, k.surface, k.context_uf,
      |  CASE WHEN k.candidate_id IS NOT NULL THEN k.candidate_id
      |       WHEN ks.n_cand = 1 THEN nullif(ks.only_ibge, '')
      |       WHEN ks.n_cand > 1 AND k.context_uf IS NOT NULL
      |         THEN nullif(us.uf_ibge, '') END AS resolved_id,
      |  CASE WHEN k.candidate_id IS NOT NULL THEN 'prefilled'
      |       WHEN ks.n_cand = 1 AND nullif(ks.only_ibge, '') IS NOT NULL
      |         THEN 'unique'
      |       WHEN ks.n_cand > 1 AND k.context_uf IS NOT NULL
      |            AND nullif(us.uf_ibge, '') IS NOT NULL THEN 'uf_filtered'
      |       ELSE 'unresolved' END AS resolved_by
      |FROM keyed k
      |LEFT JOIN key_stats ks ON ks.key = k.key
      |LEFT JOIN uf_stats us
      |  ON us.ukey = k.key AND us.ufkey = upper(k.context_uf)
      |ORDER BY k.match_id""".stripMargin

  /** q113: the GeoOutput assembly (geo_cli.py:282-350 `_aggregate_result`
    * + `_resolve_article_id`): the article id falls back id -> url ->
    * 'unknown-article' skipping None AND '' (geo_cli.py:345-350); the
    * catalog version coalesces loader metadata -> article
    * catalog_metadata -> extraction payload metadata -> legacy
    * article.catalog_version (geo_cli.py:316-330; the loader metadata
    * is modeled as version-less, as with a `--catalog` list file
    * which carries no version); matches_total counts the article's
    * matches (geo_cli.py:313) and catalog_entries the loaded dim
    * (geo_cli.py:311). One partial-agg count per article is the only
    * shuffle; the catalog count broadcasts as a 1-row cross join. */
  def geoOutputMeta(s: SparkSession, dir: String): DataFrame = {
    val catCount = catalogEntries(s, dir).agg(count(lit(1)).as("catalog_entries"))
    val perArticle = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_matches"))
    Tables.orders(s, dir)
      .select(
        col("o_orderkey"),
        when(col("o_orderkey") % 3 === 0, lit(null).cast("string"))
          .when(col("o_orderkey") % 3 === 1, lit(""))
          .otherwise(concat(lit("art-"), col("o_orderkey"))).as("id_field"),
        when(col("o_orderkey") % 7 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("https://news.example/a/"), col("o_orderkey"))).as("url"),
        when(col("o_orderkey") % 5 === 0,
          concat(lit("art-cat-v"), col("o_orderkey") % 3)).as("art_cat_version"),
        when(col("o_orderkey") % 5 < 2,
          concat(lit("pl-v"), col("o_orderkey") % 2)).as("payload_version"),
        when(col("o_orderkey") % 11 === 0, lit("legacy-v9")).as("legacy_version"))
      .join(perArticle, col("l_orderkey") === col("o_orderkey"), "left")
      .crossJoin(broadcast(catCount))
      .select(
        col("o_orderkey").as("article_seq"),
        coalesce(nullif(col("id_field"), lit("")), nullif(col("url"), lit("")),
          lit("unknown-article")).as("article_id"),
        coalesce(col("n_matches"), lit(0L)).as("matches_total"),
        coalesce(col("art_cat_version"), col("payload_version"),
          col("legacy_version")).as("catalog_version"),
        col("catalog_entries"))
      .orderBy(col("article_seq"))
  }

  val geoOutputMetaSql: String =
    "WITH " + catalogCte + """,
      |cat_count AS (SELECT count(*) AS catalog_entries FROM cat),
      |per_article AS (
      |  SELECT l_orderkey, count(*) AS n_matches FROM lineitem GROUP BY 1),
      |articles AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      |         WHEN o_orderkey % 3 = 1 THEN ''
      |         ELSE 'art-' || o_orderkey END AS id_field,
      |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |         ELSE 'https://news.example/a/' || o_orderkey END AS url,
      |    CASE WHEN o_orderkey % 5 = 0
      |         THEN 'art-cat-v' || (o_orderkey % 3) END AS art_cat_version,
      |    CASE WHEN o_orderkey % 5 < 2
      |         THEN 'pl-v' || (o_orderkey % 2) END AS payload_version,
      |    CASE WHEN o_orderkey % 11 = 0 THEN 'legacy-v9' END AS legacy_version
      |  FROM orders)
      |SELECT a.o_orderkey AS article_seq,
      |  coalesce(nullif(a.id_field, ''), nullif(a.url, ''),
      |           'unknown-article') AS article_id,
      |  coalesce(p.n_matches, 0) AS matches_total,
      |  coalesce(a.art_cat_version, a.payload_version,
      |           a.legacy_version) AS catalog_version,
      |  c.catalog_entries
      |FROM articles a
      |LEFT JOIN per_article p ON p.l_orderkey = a.o_orderkey
      |CROSS JOIN cat_count c
      |ORDER BY article_seq""".stripMargin

  val queries: Map[String, Q] = Map(
    "q112_geo_disambiguate" -> (geoDisambiguate _),
    "q113_geo_output_meta" -> (geoOutputMeta _))

  val oracles: Map[String, String] = Map(
    "q112_geo_disambiguate" -> geoDisambiguateSql,
    "q113_geo_output_meta" -> geoOutputMetaSql)
}
