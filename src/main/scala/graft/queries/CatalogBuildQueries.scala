package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** The city-catalog cache build (city_matching/build_cache.py): raw
  * API payloads — deeply nested JSON records — normalize into flat
  * catalog rows (`_normalize_ibge`: microrregiao.mesorregiao.UF paths),
  * drop records without id+name, dedupe by ibge_id KEEPING THE FIRST
  * in input order (dict.setdefault, build_cache.py:177-179), and order
  * by (numeric id, name). The HTTP fetch/fallback is I/O outside the
  * engine; the payload normalization at catalog scale is inside it.
  */
object CatalogBuildQueries extends QueryFamily {

  /** q98: the `_normalize_ibge` + `_normalize_records` chain over
    * synthesized nested-JSON payloads (keyed off the customer table so
    * every branch fires: null names dropped, missing `microrregiao`
    * nesting kept with null UF fields, duplicate ids keep-first).
    * Path extraction is native JSON column math in both engines; the
    * keep-first dedup is a min-position pick per id — a dimension
    * build, one small shuffle. */
  def catalogBuild(s: SparkSession, dir: String): DataFrame = {
    val nome = when(col("c_custkey") % 13 === 0, lit("null"))
      .otherwise(concat(lit("\""), col("c_name"), lit("\"")))
    val micro = when(col("c_custkey") % 17 === 0, lit("null"))
      .otherwise(concat(
        lit("{\"nome\": \"micro-"), col("c_nationkey"),
        lit("\", \"mesorregiao\": {\"nome\": \"meso-"), col("c_nationkey") % 7,
        lit("\", \"UF\": {\"sigla\": \"UF"), col("c_nationkey") % 27,
        lit("\", \"nome\": \"State "), col("c_nationkey"),
        lit("\", \"regiao\": {\"nome\": \"Region "), col("c_nationkey") % 5,
        lit("\"}}}}")))
    val payload = concat(
      lit("{\"id\": "), col("c_custkey") % 120,
      lit(", \"nome\": "), nome,
      lit(", \"microrregiao\": "), micro, lit("}"))
    val normalized = Tables.customer(s, dir)
      .select(col("c_custkey").as("src_pos"), payload.as("j"))
      .select(col("src_pos"),
        get_json_object(col("j"), "$.id").as("ibge_id"),
        get_json_object(col("j"), "$.nome").as("name"),
        get_json_object(col("j"), "$.microrregiao.mesorregiao.UF.sigla").as("uf"),
        get_json_object(col("j"), "$.microrregiao.mesorregiao.UF.nome").as("state"),
        get_json_object(col("j"), "$.microrregiao.mesorregiao.UF.regiao.nome").as("region"),
        get_json_object(col("j"), "$.microrregiao.mesorregiao.nome").as("mesoregion"),
        get_json_object(col("j"), "$.microrregiao.nome").as("microregion"))
      .filter(col("ibge_id").isNotNull && col("name").isNotNull)
    val keepFirst = Window.partitionBy(col("ibge_id")).orderBy(col("src_pos"))
    normalized
      .withColumn("rn", row_number().over(keepFirst))
      .filter(col("rn") === 1)
      .select(col("ibge_id"), col("name"), col("uf"), col("state"),
        col("region"), col("mesoregion"), col("microregion"))
      .orderBy(col("ibge_id").cast("long"), col("name"))
  }

  val catalogBuildSql: String =
    s"""WITH raw AS (SELECT c_custkey AS src_pos,
       |    '{"id": ' || (c_custkey % 120) ||
       |    ', "nome": ' || CASE WHEN c_custkey % 13 = 0 THEN 'null'
       |                         ELSE '"' || c_name || '"' END ||
       |    ', "microrregiao": ' || CASE WHEN c_custkey % 17 = 0 THEN 'null'
       |      ELSE '{"nome": "micro-' || c_nationkey ||
       |        '", "mesorregiao": {"nome": "meso-' || (c_nationkey % 7) ||
       |        '", "UF": {"sigla": "UF' || (c_nationkey % 27) ||
       |        '", "nome": "State ' || c_nationkey ||
       |        '", "regiao": {"nome": "Region ' || (c_nationkey % 5) ||
       |        '"}}}}' END || '}' AS j
       |  FROM customer),
       |norm AS (SELECT src_pos,
       |    json_extract_string(j, '$$.id') AS ibge_id,
       |    json_extract_string(j, '$$.nome') AS name,
       |    json_extract_string(j, '$$.microrregiao.mesorregiao.UF.sigla') AS uf,
       |    json_extract_string(j, '$$.microrregiao.mesorregiao.UF.nome') AS state,
       |    json_extract_string(j, '$$.microrregiao.mesorregiao.UF.regiao.nome') AS region,
       |    json_extract_string(j, '$$.microrregiao.mesorregiao.nome') AS mesoregion,
       |    json_extract_string(j, '$$.microrregiao.nome') AS microregion
       |  FROM raw),
       |valid AS (SELECT * FROM norm WHERE ibge_id IS NOT NULL AND name IS NOT NULL),
       |first AS (SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY ibge_id ORDER BY src_pos) AS rn
       |    FROM valid)
       |  WHERE rn = 1)
       |SELECT ibge_id, name, uf, state, region, mesoregion, microregion
       |FROM first ORDER BY CAST(ibge_id AS BIGINT), name""".stripMargin

  val queries: Map[String, Q] = Map(
    "q98_catalog_build" -> (catalogBuild _))

  val oracles: Map[String, String] = Map(
    "q98_catalog_build" -> catalogBuildSql)
}
