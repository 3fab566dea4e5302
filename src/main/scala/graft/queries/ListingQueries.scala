package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.operators.Gazetteer

/** q90: the read-side article listing with the CITY filter —
  * `MongoArticleReadRepository.list_by_period`
  * (infrastructure/repositories/mongo_article_read_repository.py:23):
  * portal + published_at range, and when a city is given, the `$or`
  * over THREE storage shapes (`:37-48`): legacy plain-string `cities`
  * arrays, subdocument `cities.identifier`, and subdocument
  * `cities.city_id` — the index-era and subdocument-era generations of
  * the same collection. Results sort by published_at ascending (`:52`).
  *
  * Re-expressed relationally: docs alternate generations (doc_id % 2 —
  * legacy docs expose only names, subdocument docs only
  * identifier/city_id), the mention set comes from the gazetteer match
  * chain, and the `$or` becomes an EXISTS against that mention set with
  * the generation deciding which branches can fire. Two query params
  * run side by side — a city NAME ('spark', the legacy + identifier
  * branches) and a city ID ('2', the city_id branch) — so every arm of
  * the `$or` is exercised in one result.
  *
  * Scale shape: the portal + date-range predicate lands on the scan
  * BEFORE the gram explode (mentions are computed only for the
  * filtered partition — at 100 TB the listing touches one portal's
  * slice, never the corpus); the param table is a broadcast 2-row dim;
  * the only shuffles are the per-doc mention dedup/count on doc_id.
  */
object ListingQueries extends QueryFamily {

  private val Portal = "src3"
  private val RangeStart = "1997-01-15"
  private val RangeEnd = "1997-03-15"
  /** One city NAME and one city ID — together they exercise all three
    * `$or` branches. */
  private val Params = Seq("spark", "2")

  def cityFilterListing(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pubDate = date_add(lit("1997-01-01").cast("date"), (col("doc_id") % 120).cast("int"))
    val base = Tables.documents(s, dir)
      .withColumn("pub_date", pubDate)
      .filter(col("source") === Portal &&
        col("pub_date").between(lit(RangeStart).cast("date"), lit(RangeEnd).cast("date")))
    val mentions = Gazetteer
      .matchDetails(base.select(col("doc_id"), col("text")), Gazetteer.variantsDf(s), "text", "doc_id")
      .select(col("doc_id"), col("kw_id"), col("keyword"))
      .distinct()
    val nCities = mentions.groupBy(col("doc_id"))
      .agg(countDistinct(col("kw_id")).as("n_cities"))
    val params = broadcast(Params.toDF("city_param"))
    // the $or: legacy docs match on the plain name element; subdocument
    // docs match on identifier (the name) or city_id (the id string)
    val hits = mentions.crossJoin(params)
      .filter(
        when(col("doc_id") % 2 === 0, col("keyword") === col("city_param"))
          .otherwise(col("keyword") === col("city_param") ||
            col("kw_id").cast("string") === col("city_param")))
      .select(col("city_param"), col("doc_id"))
      .distinct()
    base
      .join(hits, Seq("doc_id"))
      .join(nCities, Seq("doc_id"))
      .select(col("city_param"), col("doc_id"), col("source").as("portal"),
        col("pub_date"), col("n_cities"))
      .orderBy(col("city_param"), col("pub_date"), col("doc_id"))
  }

  val cityFilterListingSql: String = {
    val fold = "lower(strip_accents(translate(text, '-‐‑‒–—―­', '       ')))"
    val toks = s"string_split_regex(trim($fold), '\\s+')"
    val paramList = Params.map(p => s"'$p'").mkString("[", ", ", "]")
    s"""WITH base AS (SELECT doc_id, text, source,
       |    DATE '1997-01-01' + CAST(doc_id % 120 AS INT) AS pub_date
       |  FROM documents
       |  WHERE source = '$Portal'
       |    AND DATE '1997-01-01' + CAST(doc_id % 120 AS INT)
       |      BETWEEN DATE '$RangeStart' AND DATE '$RangeEnd'),
       |toks AS (SELECT doc_id, $toks AS t FROM base),
       |pos AS (SELECT doc_id, t, unnest(t) AS tok, generate_subscripts(t, 1) AS i FROM toks),
       |grams AS (${Gazetteer.gramsCteSql("pos")}),
       |m AS (SELECT DISTINCT doc_id, kw_id, keyword
       |  FROM grams JOIN ${Gazetteer.variantsValuesSql} ON gram = variant),
       |nc AS (SELECT doc_id, CAST(COUNT(DISTINCT kw_id) AS BIGINT) AS n_cities
       |  FROM m GROUP BY doc_id),
       |params AS (SELECT unnest($paramList) AS city_param),
       |hits AS (SELECT DISTINCT city_param, doc_id
       |  FROM m CROSS JOIN params
       |  WHERE CASE WHEN doc_id % 2 = 0 THEN keyword = city_param
       |        ELSE keyword = city_param OR CAST(kw_id AS VARCHAR) = city_param END)
       |SELECT h.city_param, b.doc_id, b.source AS portal, b.pub_date, nc.n_cities
       |FROM hits h JOIN base b USING (doc_id) JOIN nc USING (doc_id)
       |ORDER BY city_param, pub_date, doc_id""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q90_city_filter_listing" -> (cityFilterListing _))

  val oracles: Map[String, String] = Map(
    "q90_city_filter_listing" -> cityFilterListingSql)
}
