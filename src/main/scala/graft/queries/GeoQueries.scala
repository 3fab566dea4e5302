package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.operators.{Gazetteer, Geo}

/** Layer H of SURVEY.md §2: haversine + geo-enrichment join
  * (reference: city_matching/geoutils.py, geo_enrichment_job.py).
  * Coordinates are derived deterministically from integer keys since
  * the testdata carries none. */
object GeoQueries extends QueryFamily {

  /** q33: scalar haversine over every customer point to a fixed origin. */
  def haversine(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_custkey"),
        Geo.synthLat(col("c_custkey"), 7L).as("lat"),
        Geo.synthLon(col("c_custkey"), 13L).as("lon"))
      .withColumn("dist_m",
        Geo.metersOf(Geo.haversineKm(col("lat"), col("lon"), lit(0.5), lit(0.5))))
      .orderBy(col("c_custkey"))

  val haversineSql: String = {
    val lat = Geo.synthLatSql("c_custkey", 7L)
    val lon = Geo.synthLonSql("c_custkey", 13L)
    s"""WITH pts AS (SELECT c_custkey, $lat AS lat, $lon AS lon FROM customer)
       |SELECT c_custkey, lat, lon,
       |  CAST(ROUND((${Geo.haversineKmSql("lat", "lon", "0.5", "0.5")}) * 1000.0) AS BIGINT) AS dist_m
       |FROM pts ORDER BY c_custkey""".stripMargin
  }

  /** q34: geo-enrichment join — each customer against its nation's
    * "capital" point plus region context, mirroring
    * distance_from_state_capital_km (aggregator.py:374). */
  def geoEnrich(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"),
        Geo.synthLat(col("c_custkey"), 7L).as("c_lat"),
        Geo.synthLon(col("c_custkey"), 13L).as("c_lon"))
    val nat = Tables.nation(s, dir)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
        Geo.synthLat(col("n_nationkey"), 11L).as("n_lat"),
        Geo.synthLon(col("n_nationkey"), 17L).as("n_lon"))
    cust
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("n_name"), col("r_name"),
        Geo.metersOf(Geo.haversineKm(col("c_lat"), col("c_lon"), col("n_lat"), col("n_lon")))
          .as("capital_dist_m"))
      .orderBy(col("c_custkey"))
  }

  val geoEnrichSql: String = {
    val cLat = Geo.synthLatSql("c_custkey", 7L)
    val cLon = Geo.synthLonSql("c_custkey", 13L)
    val nLat = Geo.synthLatSql("n_nationkey", 11L)
    val nLon = Geo.synthLonSql("n_nationkey", 17L)
    s"""WITH cust AS (SELECT c_custkey, c_nationkey, $cLat AS c_lat, $cLon AS c_lon FROM customer),
       |nat AS (SELECT n_nationkey, n_name, n_regionkey, $nLat AS n_lat, $nLon AS n_lon FROM nation)
       |SELECT c_custkey, n_name, r_name,
       |  CAST(ROUND((${Geo.haversineKmSql("c_lat", "c_lon", "n_lat", "n_lon")}) * 1000.0) AS BIGINT) AS capital_dist_m
       |FROM cust
       |JOIN nat ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |ORDER BY c_custkey""".stripMargin
  }

  /** Stable integer key per UF for synthetic capital coordinates. */
  private val UfIndex: Seq[(String, Int)] =
    Gazetteer.KeywordUf.map(_._2).distinct.sorted.zipWithIndex.map { case (u, i) => (u, i + 1) }

  /** q65: the `aggregate_with_primary_city` payload
    * (aggregator.py:334-380 + test_aggregator
    * `aggregate_with_primary_city_enriches_context`): the context-chain
    * primary pick per document enriched with its home-UF geo context —
    * the distance from the primary city to its state capital
    * (aggregator.py:374 `distance_from_state_capital_km`). Composes
    * two existing operators (contextMatches/primaryWithContext + the
    * haversine column math) with two broadcast dims; the heavy side is
    * the q56 single-pass stream, the enrichment adds no shuffle. */
  def primaryEnriched(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ufIdx = broadcast(UfIndex.toDF("city_uf", "uf_idx"))
    Gazetteer
      .primaryWithContext(
        Gazetteer.contextMatches(Tables.documents(s, dir), s, "text", "doc_id"), "doc_id")
      .join(broadcast(Gazetteer.keywordUfDf(s)), Seq("kw_id"))
      .join(ufIdx, Seq("city_uf"))
      .withColumn("k_lat", Geo.synthLat(col("kw_id"), 19L))
      .withColumn("k_lon", Geo.synthLon(col("kw_id"), 23L))
      .withColumn("u_lat", Geo.synthLat(col("uf_idx"), 11L))
      .withColumn("u_lon", Geo.synthLon(col("uf_idx"), 17L))
      .select(col("doc_id"), col("kw_id"), col("keyword").as("primary_kw"),
        col("city_uf"), col("score_milli"),
        Geo.metersOf(Geo.haversineKm(col("k_lat"), col("k_lon"), col("u_lat"), col("u_lon")))
          .as("capital_dist_m"))
      .orderBy(col("doc_id"))
  }

  val primaryEnrichedSql: String = {
    val ufVals = UfIndex.map { case (u, i) => s"('$u', $i)" }
      .mkString("(VALUES ", ", ", ") AS ufidx(idx_uf, uf_idx)")
    val kLat = Geo.synthLatSql("kw_id", 19L)
    val kLon = Geo.synthLonSql("kw_id", 23L)
    val uLat = Geo.synthLatSql("uf_idx", 11L)
    val uLon = Geo.synthLonSql("uf_idx", 17L)
    s"""WITH ${ContextQueries.ctxCteSql},
       |picked AS (SELECT doc_id, kw_id, keyword, score_milli
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY score_milli DESC, admin_markers DESC, title_boost_milli DESC,
       |        context_mismatches ASC, occurrences DESC, kw_id) AS rn
       |    FROM aggd)
       |  WHERE rn = 1),
       |geo AS (SELECT p.doc_id, p.kw_id, p.keyword, p.score_milli, ufcat.city_uf, ufidx.uf_idx
       |  FROM picked p
       |  JOIN ${Gazetteer.keywordUfValuesSql} ON p.kw_id = ufcat.uf_kw_id
       |  JOIN $ufVals ON ufcat.city_uf = ufidx.idx_uf),
       |pts AS (SELECT *, $kLat AS k_lat, $kLon AS k_lon, $uLat AS u_lat, $uLon AS u_lon FROM geo)
       |SELECT doc_id, kw_id, keyword AS primary_kw, city_uf, score_milli,
       |  CAST(ROUND((${Geo.haversineKmSql("k_lat", "k_lon", "u_lat", "u_lon")}) * 1000.0) AS BIGINT) AS capital_dist_m
       |FROM pts ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q33_haversine" -> (haversine _),
    "q34_geo_enrich" -> (geoEnrich _),
    "q65_primary_enriched" -> (primaryEnriched _))

  val oracles: Map[String, String] = Map(
    "q33_haversine" -> haversineSql,
    "q34_geo_enrich" -> geoEnrichSql,
    "q65_primary_enriched" -> primaryEnrichedSql)
}
