package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables

/** q123: the city-catalog ENRICHMENT layer — the slice of
  * city_matching/catalog.py the round-6 verdict flagged as not yet
  * re-expressed (q98 covers build_cache.py's normalize/validate/dedupe;
  * this covers the enrich + refresh-metadata pass that runs on every
  * catalog refresh):
  *
  *  - `_to_float` coercion (catalog.py:105): None/'' -> null, bad
  *    strings -> null (TRY_CAST semantics in both engines);
  *  - `_normalize_coords` (catalog.py:114): coords mapping (lat|
  *    latitude, lon|longitude) first, flat latitude/longitude fields
  *    as fallback, both-or-nothing;
  *  - `_normalize_bbox` (catalog.py:129): mapping path with per-corner
  *    candidate-key chains (south|min_lat|min_latitude|min_y, ...) that
  *    SKIP PAST present-but-unparseable values and admit PARTIAL
  *    bboxes; sequence path [west, south, east, north] reordered to
  *    south/west/north/east, all-or-nothing;
  *  - capital promotion (catalog.py:226): explicit flag OR the
  *    `_STATE_CAPITAL_IBGE_IDS` id match (ibge_id coerced to string
  *    first, catalog.py:216 — '' stays '', a pinned quirk);
  *  - per-UF capital summary (catalog.py:170 `_summarize_state_capital`)
  *    where the LAST capital entry in list order wins (catalog.py:233's
  *    dict overwrite), attached to every entry of the UF;
  *  - `_build_ibge_context` (catalog.py:185): non-empty region fields
  *    only; state_capital attached only when the summary is non-empty;
  *  - refresh metadata (catalog.py:85 `_should_refresh`, :264 metadata
  *    update): record_count, a canonical-serialization checksum over
  *    the raw (pre-enrichment) cities in entry order, and the
  *    below-minimum staleness decision.
  *
  * The isinstance(Mapping)/Sequence dispatch of the Python becomes
  * branch-conditioned column expressions: each synthesized entry shape
  * is keyed off p_partkey, so every path of the or-chains is exercised
  * and hash-gated. Scale shape: one scan of the entry table; the
  * capital summary is a bounded per-UF aggregate broadcast back; the
  * refresh metadata is one global aggregate cross-joined as a 1-row
  * broadcast. */
object CatalogEnrichQueries extends QueryFamily {

  val Ufs: Seq[String] =
    Seq("SP", "RJ", "MG", "BA", "RS", "PR", "PE", "CE", "PA")
  val StateNames: Seq[String] = Seq(
    "São Paulo", "Rio de Janeiro", "Minas Gerais", "Bahia",
    "Rio Grande do Sul", "Paraná", "Pernambuco", "Ceará", "Pará")
  val Regions: Seq[String] =
    Seq("Sudeste", "Nordeste", "Sul", "Norte", "Centro-Oeste")

  /** uf index -> capital ibge_id; ids chosen so id % 9 == uf index
    * (the entry's own uf) and id % 4 in {0, 1} (the entry carries a
    * usable string ibge_id). */
  val StateCapitalIds: Seq[Long] = Seq(36L, 28L, 29L, 12L, 13L, 32L, 33L, 16L, 17L)

  // fraction suffixes exactly representable as doubles, so the
  // string->double coercion is bit-identical across engines
  private val Fracs = Seq("0", "25", "5", "75")

  private def fracAt(i: Column): Column =
    element_at(array(Fracs.map(lit): _*), (i + 1).cast("int"))

  private def numStr(whole: Column, fracIdx: Column): Column =
    concat(whole.cast("string"), lit("."), fracAt(fracIdx))

  def catalogEnrich(s: SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    val ufIdx = (k % 9).cast("int")
    val raw = Tables.part(s, dir).select(k, col("p_name").as("name"))
      .withColumn("uf", element_at(array(Ufs.map(lit): _*), ufIdx + 1))
      // str(ibge_id_raw) if not None: numeric/string ids both become
      // the string form; '' stays '' (catalog.py:216 quirk)
      .withColumn("ibge_id",
        when(k % 4 === 2, lit("")).when(k % 4 === 3, lit(null).cast("string"))
          .otherwise(k.cast("string")))

    // _normalize_coords: mapping (lat|latitude, lon|longitude) first;
    // k%5==3 has a '' lat in the mapping, so the mapping path yields
    // null-lat -> fall through to the flat fields; both-or-nothing.
    val latA = numStr(k % 170 - 85, k % 4)
    val lonA = numStr(k % 360 - 180, (k + 1) % 4)
    val latB = numStr((k * 7 + 3) % 170 - 85, (k + 2) % 4)
    val lonB = numStr((k * 7 + 11) % 360 - 180, (k + 3) % 4)
    val lat = when(k % 5 === 0 || k % 5 === 1, latA.cast("double"))
      .when(k % 5 === 2 || k % 5 === 3, latB.cast("double"))
    val lon = when(k % 5 === 0 || k % 5 === 1, lonA.cast("double"))
      .when(k % 5 === 2 || k % 5 === 3, lonB.cast("double"))
    // _normalize_bbox branch key
    val b = k % 12
    val sS = numStr(k % 80 - 40, k % 4)
    val sW = numStr(k % 160 - 80, (k + 1) % 4)
    val sN = numStr(k % 80 - 38, (k + 2) % 4)
    val sE = numStr(k % 160 - 78, (k + 3) % 4)
    val sAlt = numStr(k % 60 - 30, (k + 1) % 4) // branch-4 min_lat candidate
    val mapBranch = b.isin(0L, 6L, 1L, 7L, 2L, 8L)
    // branch 4|10: {south: 'oops', min_lat: ok, west: ok, north: ok,
    // east: ''} -> south falls PAST the garbage to min_lat, east has no
    // further candidate -> partial bbox {south, west, north}
    val bboxSouth = when(mapBranch, sS.cast("double"))
      .when(b === 3, sS.cast("double"))
      .when(b === 4 || b === 10, sAlt.cast("double"))
    val bboxWest = when(mapBranch, sW.cast("double"))
      .when(b === 3, sW.cast("double"))
      .when(b === 4 || b === 10, sW.cast("double"))
    val bboxNorth = when(mapBranch, sN.cast("double"))
      .when(b === 3, sN.cast("double"))
      .when(b === 4 || b === 10, sN.cast("double"))
    val bboxEast = when(mapBranch, sE.cast("double"))
      .when(b === 3, sE.cast("double"))
    // b == 9: sequence with an unparseable element -> all-or-nothing null
    // b == 5|11: no bbox at all -> null

    val capId = element_at(array(StateCapitalIds.map(i => lit(i.toString)): _*), ufIdx + 1)
    val entries = raw
      .withColumn("lat", lat).withColumn("lon", lon)
      .withColumn("bbox_south", bboxSouth).withColumn("bbox_west", bboxWest)
      .withColumn("bbox_north", bboxNorth).withColumn("bbox_east", bboxEast)
      .withColumn("capital",
        (k % 50 === 7) || (col("ibge_id").isNotNull && col("ibge_id") === capId))
      .withColumn("ctx_region",
        when(k % 7 === 3, lit(null).cast("string"))
          .otherwise(element_at(array(Regions.map(lit): _*), (k % 5 + 1).cast("int"))))
      .withColumn("ctx_state", element_at(array(StateNames.map(lit): _*), ufIdx + 1))
      .withColumn("ctx_microregion",
        when(k % 11 === 5, lit(null).cast("string"))
          .otherwise(concat(lit("Micro "), (k % 13).cast("string"))))

    // per-UF capital summary, LAST capital entry (list order) wins
    val wUf = Window.partitionBy(col("uf")).orderBy(col("p_partkey").desc)
    val caps = entries.filter(col("capital"))
      .withColumn("rn", row_number().over(wUf)).filter(col("rn") === 1)
      .select(col("uf"),
        // summary skips None/'' values (catalog.py:172)
        when(col("ibge_id") =!= "", col("ibge_id")).as("cap_ibge_id"),
        col("name").as("cap_name"),
        col("lat").as("cap_lat"), col("lon").as("cap_lon"),
        col("bbox_south").as("cap_bbox_south"), col("bbox_west").as("cap_bbox_west"),
        col("bbox_north").as("cap_bbox_north"), col("bbox_east").as("cap_bbox_east"))

    // refresh metadata over the RAW (pre-enrichment) cities in entry order
    val canon = concat(lpad(k.cast("string"), 6, "0"), lit("|"),
      coalesce(col("ibge_id"), lit("~")), lit("|"), col("name"), lit("|"), col("uf"))
    val meta = raw.select(canon.as("c"))
      .agg(count(lit(1)).as("record_count"),
        md5(concat_ws(";", sort_array(collect_list(col("c"))))).as("checksum"))
      .withColumn("should_refresh", col("record_count") < 100)

    entries
      .join(broadcast(caps), Seq("uf"), "left")
      .withColumn("ctx_has_capital", col("cap_name").isNotNull)
      .crossJoin(broadcast(meta))
      .select(col("p_partkey"), col("ibge_id"), col("name"), col("uf"), col("capital"),
        col("lat"), col("lon"),
        col("bbox_south"), col("bbox_west"), col("bbox_north"), col("bbox_east"),
        col("cap_ibge_id"), col("cap_name"), col("cap_lat"), col("cap_lon"),
        col("cap_bbox_south"), col("cap_bbox_west"), col("cap_bbox_north"), col("cap_bbox_east"),
        col("ctx_region"), col("ctx_state"), col("ctx_microregion"), col("ctx_has_capital"),
        col("record_count"), col("checksum"), col("should_refresh"))
      .orderBy(col("p_partkey"))
  }

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  val catalogEnrichSql: String = {
    val ufs = sqlList(Ufs)
    val states = sqlList(StateNames)
    val regions = sqlList(Regions)
    val capIds = StateCapitalIds.map(i => s"'$i'").mkString("[", ", ", "]")
    val fr = sqlList(Fracs)
    def numStr(whole: String, fracIdx: String): String =
      s"CAST($whole AS VARCHAR) || '.' || ($fr)[CAST(($fracIdx) + 1 AS INT)]"
    val latA = numStr("k % 170 - 85", "k % 4")
    val lonA = numStr("k % 360 - 180", "(k + 1) % 4")
    val latB = numStr("(k * 7 + 3) % 170 - 85", "(k + 2) % 4")
    val lonB = numStr("(k * 7 + 11) % 360 - 180", "(k + 3) % 4")
    val sS = numStr("k % 80 - 40", "k % 4")
    val sW = numStr("k % 160 - 80", "(k + 1) % 4")
    val sN = numStr("k % 80 - 38", "(k + 2) % 4")
    val sE = numStr("k % 160 - 78", "(k + 3) % 4")
    val sAlt = numStr("k % 60 - 30", "(k + 1) % 4")
    s"""WITH raw AS (
       |  SELECT p_partkey AS k, p_name AS name,
       |         ($ufs)[CAST(p_partkey % 9 + 1 AS INT)] AS uf,
       |         CASE WHEN p_partkey % 4 = 2 THEN ''
       |              WHEN p_partkey % 4 = 3 THEN NULL
       |              ELSE CAST(p_partkey AS VARCHAR) END AS ibge_id
       |  FROM part),
       |entries AS (
       |  SELECT *,
       |    CASE WHEN k % 5 IN (0, 1) THEN TRY_CAST($latA AS DOUBLE)
       |         WHEN k % 5 IN (2, 3) THEN TRY_CAST($latB AS DOUBLE) END AS lat,
       |    CASE WHEN k % 5 IN (0, 1) THEN TRY_CAST($lonA AS DOUBLE)
       |         WHEN k % 5 IN (2, 3) THEN TRY_CAST($lonB AS DOUBLE) END AS lon,
       |    CASE WHEN k % 12 IN (0, 6, 1, 7, 2, 8, 3) THEN TRY_CAST($sS AS DOUBLE)
       |         WHEN k % 12 IN (4, 10) THEN TRY_CAST($sAlt AS DOUBLE) END AS bbox_south,
       |    CASE WHEN k % 12 IN (0, 6, 1, 7, 2, 8, 3, 4, 10) THEN TRY_CAST($sW AS DOUBLE) END AS bbox_west,
       |    CASE WHEN k % 12 IN (0, 6, 1, 7, 2, 8, 3, 4, 10) THEN TRY_CAST($sN AS DOUBLE) END AS bbox_north,
       |    CASE WHEN k % 12 IN (0, 6, 1, 7, 2, 8, 3) THEN TRY_CAST($sE AS DOUBLE) END AS bbox_east,
       |    (k % 50 = 7) OR (ibge_id IS NOT NULL AND ibge_id = ($capIds)[CAST(k % 9 + 1 AS INT)]) AS capital,
       |    CASE WHEN k % 7 = 3 THEN NULL ELSE ($regions)[CAST(k % 5 + 1 AS INT)] END AS ctx_region,
       |    ($states)[CAST(k % 9 + 1 AS INT)] AS ctx_state,
       |    CASE WHEN k % 11 = 5 THEN NULL ELSE 'Micro ' || CAST(k % 13 AS VARCHAR) END AS ctx_microregion
       |  FROM raw),
       |caps AS (
       |  SELECT uf, nullif(ibge_id, '') AS cap_ibge_id, name AS cap_name,
       |         lat AS cap_lat, lon AS cap_lon,
       |         bbox_south AS cap_bbox_south, bbox_west AS cap_bbox_west,
       |         bbox_north AS cap_bbox_north, bbox_east AS cap_bbox_east
       |  FROM (SELECT *, row_number() OVER (PARTITION BY uf ORDER BY k DESC) AS rn
       |        FROM entries WHERE capital)
       |  WHERE rn = 1),
       |meta AS (
       |  SELECT CAST(count(*) AS BIGINT) AS record_count,
       |         md5(string_agg(
       |           lpad(CAST(k AS VARCHAR), 6, '0') || '|' || coalesce(ibge_id, '~') || '|' || name || '|' || uf,
       |           ';' ORDER BY k)) AS checksum,
       |         count(*) < 100 AS should_refresh
       |  FROM raw)
       |SELECT CAST(k AS BIGINT) AS p_partkey, ibge_id, name, entries.uf, capital, lat, lon,
       |       bbox_south, bbox_west, bbox_north, bbox_east,
       |       cap_ibge_id, cap_name, cap_lat, cap_lon,
       |       cap_bbox_south, cap_bbox_west, cap_bbox_north, cap_bbox_east,
       |       ctx_region, ctx_state, ctx_microregion,
       |       (cap_name IS NOT NULL) AS ctx_has_capital,
       |       record_count, checksum, should_refresh
       |FROM entries LEFT JOIN caps ON entries.uf = caps.uf CROSS JOIN meta
       |ORDER BY p_partkey""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q123_catalog_enrich" -> (catalogEnrich _))

  val oracles: Map[String, String] = Map(
    "q123_catalog_enrich" -> catalogEnrichSql)
}
