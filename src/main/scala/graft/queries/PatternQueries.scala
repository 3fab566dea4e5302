package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, GraftInternals, SparkSession}

import graft.Tables
import graft.expressions.RegexSpans

/** The extraction service's deterministic pattern layer:
  *
  *  - q105: `find_city_pattern_matches` (gazetteer.py:86-107) — the
  *    three compiled patterns (`_CITY_UF_PATTERN`, `_PREFEITO_PATTERN`,
  *    `_MUNICIPIO_PATTERN`) run as `finditer` over each article, with
  *    the span-based first-wins de-duplication of service.py:138-152
  *    (`seen_spans`): a City-UF match and a prefeito/município name
  *    group covering the same span emit once, City-UF first.
  *  - q106: `_split_city_surface` (service.py:191-202) — "Name - UF" /
  *    "Name/UF" surface parsing with the strip-empty-parts,
  *    two-alpha-tail rule, '-' tried before '/'.
  *  - q107: `process_next_batch` accounting (service.py:59-100) —
  *    skipped-empty vs processed vs errored per fetch batch, plus the
  *    `combined_text` volume (models.py:21-26: strip title/body, drop
  *    empties, join with a newline).
  *
  * The corpus text itself is pattern-free word soup, so each document
  * gets deterministic doc_id-keyed decorations (same convention as
  * q58's state surfaces). All regexes are RE2-safe: no lookaround, no
  * backreferences; the span scan itself runs through [[RegexSpans]]
  * (Spark's builtin regexp functions don't expose positions) while the
  * DuckDB oracle recovers positions with a recursive leftmost-match
  * walk — a literal occurrence of a found match's text before the
  * match would itself be a match, so `strpos` from the previous match
  * end IS the span start.
  *
  * Scale posture: everything up to the span-level dedup is map-only
  * (one compiled-regex pass per document). The dedup + ordinal windows
  * share one hash partitioning on doc_id (two sorts, one exchange) and
  * every partition holds only same-document matches — bounded by
  * matches-per-doc, never corpus size.
  */
object PatternQueries extends QueryFamily {

  // ---- the reference's three patterns (gazetteer.py:86-97) ----
  // Plain numbered groups (named groups differ across engines):
  // group 1 = name, group 2 = uf (City-UF only).
  private val CityUfPattern =
    "([A-ZÁ-ÚÂÊÎÔÛÃÕÇ][\\wÀ-ÿ' .-]{2,}?)\\s*[-/]\\s*([A-Z]{2})"
  private val PrefeitoPattern =
    "prefeit[ao]a?\\s+de\\s+([A-ZÁ-ÚÂÊÎÔÛÃÕÇ][\\wÀ-ÿ' .-]+)"
  private val MunicipioPattern =
    "munic[ií]pio\\s+de\\s+([A-ZÁ-ÚÂÊÎÔÛÃÕÇ][\\wÀ-ÿ' .-]+)"
  // Python re.IGNORECASE folds Unicode; Java needs (?u) on top of (?i),
  // RE2 folds Unicode under plain (?i) and rejects (?u).
  private def javaCi(p: String) = "(?iu)" + p
  private def duckCi(p: String) = "(?i)" + p

  private def sqlQuote(s: String) = s.replace("'", "''")

  // ---- synthesized city decorations ----
  private val Cities = Seq(
    ("São Paulo", "SP"), ("Rio de Janeiro", "RJ"), ("Belo Horizonte", "MG"),
    ("Porto Alegre", "RS"), ("Nova Iguaçu", "RJ"), ("Foz do Iguaçu", "PR"),
    ("Maceió", "AL"), ("João Pessoa", "PB"), ("Santo André", "SP"),
    ("Três Lagoas", "MS"), ("Paty do Alferes", "RJ"), ("Xique-Xique", "BA"))

  private def nameAt(i: Column): Column =
    element_at(array(Cities.map(c => lit(c._1)): _*), (i + 1).cast("int"))
  private def ufAt(i: Column): Column =
    element_at(array(Cities.map(c => lit(c._2)): _*), (i + 1).cast("int"))

  private val NameListSql = Cities.map(c => s"'${c._1}'").mkString("[", ", ", "]")
  private val UfListSql = Cities.map(c => s"'${c._2}'").mkString("[", ", ", "]")

  /** Decorated article surface: a City-UF mention, a prefeito/Prefeita
    * mention (mixed case exercises the IGNORECASE keyword), a
    * município mention, and a "prefeito de Name - UF" shape whose
    * City-UF span exactly equals the prefeito name span — the
    * seen_spans collision. Terminating punctuation (',' ';') is what
    * stops the reference's greedy name class, exactly as in real text. */
  private def patternSurface: Column = {
    val d = col("doc_id")
    concat(col("text"),
      when(d % 3 =!= 0, concat(lit(" eleições em "), nameAt(d % 12),
        lit(" - "), ufAt(d % 12), lit(","))).otherwise(lit("")),
      when(d % 4 === 0, concat(lit(" visita do prefeito de "),
          nameAt((d * 7 + 3) % 12), lit(", disse.")))
        .when(d % 4 === 2, concat(lit(" A Prefeita de "),
          nameAt((d * 7 + 3) % 12), lit(", anunciou.")))
        .otherwise(lit("")),
      when(d % 5 === 0, concat(lit(" obras no município de "),
          nameAt((d * 11 + 1) % 12), lit("; fim.")))
        .when(d % 5 === 3, concat(lit(" e no Município de "),
          nameAt((d * 11 + 1) % 12), lit(" - "), ufAt((d * 11 + 1) % 12),
          lit(", cresce.")))
        .otherwise(lit("")),
      when(d % 7 === 1, concat(lit(" reunião com o prefeito de "),
        nameAt((d * 13 + 5) % 12), lit(" - "), ufAt((d * 13 + 5) % 12),
        lit(", encerrou."))).otherwise(lit("")))
  }

  private val PatternSurfaceSql: String =
    s"""text ||
       |    CASE WHEN doc_id % 3 <> 0 THEN ' eleições em ' || ($NameListSql)[CAST(doc_id % 12 + 1 AS INT)] || ' - ' || ($UfListSql)[CAST(doc_id % 12 + 1 AS INT)] || ',' ELSE '' END ||
       |    CASE WHEN doc_id % 4 = 0 THEN ' visita do prefeito de ' || ($NameListSql)[CAST((doc_id * 7 + 3) % 12 + 1 AS INT)] || ', disse.'
       |         WHEN doc_id % 4 = 2 THEN ' A Prefeita de ' || ($NameListSql)[CAST((doc_id * 7 + 3) % 12 + 1 AS INT)] || ', anunciou.'
       |         ELSE '' END ||
       |    CASE WHEN doc_id % 5 = 0 THEN ' obras no município de ' || ($NameListSql)[CAST((doc_id * 11 + 1) % 12 + 1 AS INT)] || '; fim.'
       |         WHEN doc_id % 5 = 3 THEN ' e no Município de ' || ($NameListSql)[CAST((doc_id * 11 + 1) % 12 + 1 AS INT)] || ' - ' || ($UfListSql)[CAST((doc_id * 11 + 1) % 12 + 1 AS INT)] || ', cresce.'
       |         ELSE '' END ||
       |    CASE WHEN doc_id % 7 = 1 THEN ' reunião com o prefeito de ' || ($NameListSql)[CAST((doc_id * 13 + 5) % 12 + 1 AS INT)] || ' - ' || ($UfListSql)[CAST((doc_id * 13 + 5) % 12 + 1 AS INT)] || ', encerrou.' ELSE '' END""".stripMargin

  private def regexSpans(c: Column, pat: String, grp: Int): Column =
    GraftInternals.column(RegexSpans(GraftInternals.expression(c), pat, grp))

  // ---- q105: find_city_pattern_matches ----

  def cityPatterns(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val docs = Tables.documents(s, dir).select(d, patternSurface.as("surface"))
    // one compiled-regex pass per pattern per document, map-side
    val hits = docs.select(d,
      concat(
        transform(regexSpans(col("surface"), CityUfPattern, 2), h =>
          struct(lit(1).as("prio"), lit("city_uf").as("kind"),
            trim(h("m")).as("surface"), h("g").as("uf"),
            h("m_start").cast("long").as("m_start"),
            h("m_end").cast("long").as("m_end"))),
        transform(regexSpans(col("surface"), javaCi(PrefeitoPattern), 1), h =>
          struct(lit(2).as("prio"), lit("prefeito").as("kind"),
            trim(h("g")).as("surface"), lit(null).cast("string").as("uf"),
            h("g_start").cast("long").as("m_start"),
            h("g_end").cast("long").as("m_end"))),
        transform(regexSpans(col("surface"), javaCi(MunicipioPattern), 1), h =>
          struct(lit(3).as("prio"), lit("municipio").as("kind"),
            trim(h("g")).as("surface"), lit(null).cast("string").as("uf"),
            h("g_start").cast("long").as("m_start"),
            h("g_end").cast("long").as("m_end")))).as("hits"))
      .select(d, explode_outer(col("hits")).as("h"))
      .filter(col("h").isNotNull)
      .select(d, col("h.prio").as("prio"), col("h.kind").as("kind"),
        col("h.surface").as("surface"), col("h.uf").as("uf"),
        col("h.m_start").as("m_start"), col("h.m_end").as("m_end"))
    // seen_spans first-wins dedup + list-order ordinal: both windows
    // hash-partition on doc_id alone, so one exchange serves two sorts
    val wSpan = Window.partitionBy(d)
      .orderBy(col("m_start"), col("m_end"), col("prio"))
    val wOrd = Window.partitionBy(d).orderBy(col("prio"), col("m_start"))
    val span = struct(col("m_start"), col("m_end"))
    hits
      .withColumn("first_of_span",
        lag(span.as("prev"), 1).over(wSpan).isNull ||
          lag(span.as("prev"), 1).over(wSpan) =!= span)
      .filter(col("first_of_span"))
      .withColumn("ord", row_number().over(wOrd).cast("long"))
      .select(d, col("ord"), col("kind"), col("surface"), col("uf"),
        col("m_start"), col("m_end"))
      .orderBy(d, col("ord"))
  }

  val cityPatternsSql: String = {
    val cu = sqlQuote(CityUfPattern)
    val pf = sqlQuote(duckCi(PrefeitoPattern))
    val mu = sqlQuote(duckCi(MunicipioPattern))
    s"""WITH RECURSIVE surf AS (
       |  SELECT doc_id, $PatternSurfaceSql AS surface
       |  FROM documents),
       |pats AS (
       |  SELECT doc_id, surface, 1 AS prio, 'city_uf' AS kind,
       |         regexp_extract_all(surface, '$cu') AS ms,
       |         regexp_extract_all(surface, '$cu', 2) AS gs
       |  FROM surf
       |  UNION ALL
       |  SELECT doc_id, surface, 2, 'prefeito',
       |         regexp_extract_all(surface, '$pf'),
       |         regexp_extract_all(surface, '$pf', 1)
       |  FROM surf
       |  UNION ALL
       |  SELECT doc_id, surface, 3, 'municipio',
       |         regexp_extract_all(surface, '$mu'),
       |         regexp_extract_all(surface, '$mu', 1)
       |  FROM surf),
       |scan AS (
       |  SELECT doc_id, surface, prio, kind, ms, gs,
       |         0 AS i, CAST(NULL AS VARCHAR) AS m, CAST(NULL AS VARCHAR) AS g,
       |         CAST(1 AS BIGINT) AS nxt, CAST(0 AS BIGINT) AS s1
       |  FROM pats
       |  UNION ALL
       |  SELECT doc_id, surface, prio, kind, ms, gs, i + 1,
       |         ms[i + 1], gs[i + 1],
       |         nxt + strpos(substr(surface, CAST(nxt AS INT)), ms[i + 1]) - 1 + length(ms[i + 1]),
       |         nxt + strpos(substr(surface, CAST(nxt AS INT)), ms[i + 1]) - 1
       |  FROM scan WHERE i < len(ms)),
       |hits AS (
       |  SELECT doc_id, prio, kind, m, g,
       |         s1 - 1 AS m_start, s1 - 1 + length(m) AS m_end
       |  FROM scan WHERE i >= 1),
       |shaped AS (
       |  SELECT doc_id, prio, kind,
       |         CASE WHEN prio = 1 THEN trim(m) ELSE trim(g) END AS surface,
       |         CASE WHEN prio = 1 THEN g END AS uf,
       |         CASE WHEN prio = 1 THEN m_start ELSE m_end - length(g) END AS m_start,
       |         m_end
       |  FROM hits),
       |dedup AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id, m_start, m_end ORDER BY prio) AS rn
       |  FROM shaped)
       |SELECT doc_id,
       |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY prio, m_start) AS BIGINT) AS ord,
       |  kind, surface, uf,
       |  CAST(m_start AS BIGINT) AS m_start, CAST(m_end AS BIGINT) AS m_end
       |FROM dedup WHERE rn = 1
       |ORDER BY doc_id, ord""".stripMargin
  }

  // ---- q106: _split_city_surface ----

  /** Surfaces exercising every branch: ' - UF', '/uf' (lowercase tail
    * upper-cased), a non-UF '-' tail, ' / UF' with padding, and a bare
    * name — with "Xique-Xique" hitting the '-'-rejected-then-'/' path. */
  private def splitSurface: Column = {
    val d = col("doc_id")
    val n = nameAt(d % 12)
    val u = ufAt(d % 12)
    when(d % 5 === 0, concat(n, lit(" - "), u))
      .when(d % 5 === 1, concat(n, lit("/"), lower(u)))
      .when(d % 5 === 2, concat(n, lit(" - Brasil")))
      .when(d % 5 === 3, concat(n, lit(" / "), u))
      .otherwise(n)
  }

  private val SplitSurfaceSql: String =
    s"""CASE WHEN doc_id % 5 = 0 THEN ($NameListSql)[CAST(doc_id % 12 + 1 AS INT)] || ' - ' || ($UfListSql)[CAST(doc_id % 12 + 1 AS INT)]
       |     WHEN doc_id % 5 = 1 THEN ($NameListSql)[CAST(doc_id % 12 + 1 AS INT)] || '/' || lower(($UfListSql)[CAST(doc_id % 12 + 1 AS INT)])
       |     WHEN doc_id % 5 = 2 THEN ($NameListSql)[CAST(doc_id % 12 + 1 AS INT)] || ' - Brasil'
       |     WHEN doc_id % 5 = 3 THEN ($NameListSql)[CAST(doc_id % 12 + 1 AS INT)] || ' / ' || ($UfListSql)[CAST(doc_id % 12 + 1 AS INT)]
       |     ELSE ($NameListSql)[CAST(doc_id % 12 + 1 AS INT)] END""".stripMargin

  /** The two-alpha tail test (str.isalpha + len == 2; the synthesized
    * tails are ASCII so [A-Za-z]{2} is exact). */
  private val UfTailRegex = "[A-Za-z]{2}"

  def splitCitySurface(s: SparkSession, dir: String): DataFrame = {
    def parts(sep: String): Column =
      filter(transform(split(trim(col("surface")), sep), trim(_)), p => length(p) > 0)
    def ok(arr: Column): Column =
      size(arr) >= 2 && element_at(arr, -1).rlike("^" + UfTailRegex + "$")
    def nameOf(arr: Column, sep: String): Column =
      array_join(slice(arr, lit(1), size(arr) - 1), sep)
    val hy = parts("-")
    val sl = parts("/")
    Tables.documents(s, dir)
      .select(col("doc_id"), splitSurface.as("surface"))
      .withColumn("hy", hy).withColumn("sl", sl)
      .select(col("doc_id"), col("surface"),
        when(ok(col("hy")), nameOf(col("hy"), "-"))
          .when(ok(col("sl")), nameOf(col("sl"), "/"))
          .otherwise(trim(col("surface"))).as("name"),
        when(ok(col("hy")), upper(element_at(col("hy"), -1)))
          .when(ok(col("sl")), upper(element_at(col("sl"), -1)))
          .otherwise(lit(null).cast("string")).as("uf"))
      .orderBy(col("doc_id"))
  }

  val splitCitySurfaceSql: String =
    s"""WITH surf AS (SELECT doc_id, $SplitSurfaceSql AS surface FROM documents),
       |p AS (SELECT doc_id, surface,
       |    list_filter(list_transform(string_split(trim(surface), '-'), x -> trim(x)), x -> length(x) > 0) AS hy,
       |    list_filter(list_transform(string_split(trim(surface), '/'), x -> trim(x)), x -> length(x) > 0) AS sl
       |  FROM surf),
       |c AS (SELECT doc_id, surface, hy, sl,
       |    len(hy) >= 2 AND regexp_full_match(hy[-1], '$UfTailRegex') AS ok_hy,
       |    len(sl) >= 2 AND regexp_full_match(sl[-1], '$UfTailRegex') AS ok_sl
       |  FROM p)
       |SELECT doc_id, surface,
       |  CASE WHEN ok_hy THEN array_to_string(hy[1:len(hy)-1], '-')
       |       WHEN ok_sl THEN array_to_string(sl[1:len(sl)-1], '/')
       |       ELSE trim(surface) END AS name,
       |  CASE WHEN ok_hy THEN upper(hy[-1])
       |       WHEN ok_sl THEN upper(sl[-1]) END AS uf
       |FROM c ORDER BY doc_id""".stripMargin

  // ---- q107: process_next_batch accounting ----

  /** Emptiness/error conditions keyed off doc_id; batches model the
    * fetch_pending(batch_size) pagination in fetch (= doc_id) order. */
  private val BatchSize = 125

  def batchAccounting(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val title = when(d % 7 === 0, lit("")).otherwise(concat(lit("Título "), d))
    val body = when(d % 5 < 2, lit("")).otherwise(col("text"))
    Tables.documents(s, dir)
      .select((d / BatchSize).cast("long").as("batch_id"),
        title.as("title"), body.as("body"), d)
      .withColumn("skipped", length(col("title")) === 0 && length(col("body")) === 0)
      .withColumn("errored", !col("skipped") && d % 37 === 0)
      // combined_text(): strip parts, drop empties, join with \n
      .withColumn("combined",
        concat_ws("\n", filter(transform(
          array(col("title"), col("body")), trim(_)), p => length(p) > 0)))
      .groupBy(col("batch_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(!col("skipped") && !col("errored"), 1L).otherwise(0L)).as("processed"),
        sum(when(col("skipped"), 1L).otherwise(0L)).as("skipped_empty"),
        sum(when(col("errored"), 1L).otherwise(0L)).as("n_errors"),
        sum(when(!col("skipped") && !col("errored"), length(col("combined")).cast("long"))
          .otherwise(0L)).as("combined_chars"))
      .orderBy(col("batch_id"))
  }

  val batchAccountingSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, doc_id // $BatchSize AS batch_id,
       |    CASE WHEN doc_id % 7 = 0 THEN '' ELSE 'Título ' || doc_id END AS title,
       |    CASE WHEN doc_id % 5 < 2 THEN '' ELSE text END AS body
       |  FROM documents),
       |f AS (
       |  SELECT batch_id, doc_id,
       |    length(title) = 0 AND length(body) = 0 AS skipped,
       |    NOT (length(title) = 0 AND length(body) = 0) AND doc_id % 37 = 0 AS errored,
       |    array_to_string(list_filter(list_transform([title, body], x -> trim(x)), x -> length(x) > 0), chr(10)) AS combined
       |  FROM base)
       |SELECT batch_id,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN NOT skipped AND NOT errored THEN 1 ELSE 0 END) AS BIGINT) AS processed,
       |  CAST(sum(CASE WHEN skipped THEN 1 ELSE 0 END) AS BIGINT) AS skipped_empty,
       |  CAST(sum(CASE WHEN errored THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
       |  CAST(sum(CASE WHEN NOT skipped AND NOT errored THEN length(combined) ELSE 0 END) AS BIGINT) AS combined_chars
       |FROM f GROUP BY batch_id ORDER BY batch_id""".stripMargin

  // ---- q111: the Mongo deserialize shim ----

  /** Raw `published_at` strings covering every branch of the
    * `_parse_datetime` cascade (extraction.py:134-147): offset-carrying
    * ISO, naive ISO (assumed UTC), date-only, and two unparseable
    * shapes that fall back to epoch 0. Dates vary by doc_id. */
  private def rawDateCol: Column = {
    val d = col("doc_id")
    val mm = lpad((d % 12 + 1).cast("string"), 2, "0")
    val dd = lpad((d % 28 + 1).cast("string"), 2, "0")
    when(d % 6 === 0, concat(lit("2024-"), mm, lit("-"), dd, lit("T10:20:30+00:00")))
      .when(d % 6 === 1, concat(lit("2024-"), mm, lit("-"), dd, lit("T22:45:01-03:00")))
      .when(d % 6 === 2, concat(lit("2024-"), mm, lit("-"), dd, lit("T08:05:09")))
      .when(d % 6 === 3, concat(lit("2023-"), mm, lit("-"), dd))
      .when(d % 6 === 4, lit("ontem às 10h"))
      .otherwise(concat(dd, lit("/"), mm, lit("/2024")))
  }

  private val RawDateSql: String =
    s"""CASE WHEN doc_id % 6 = 0 THEN '2024-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || 'T10:20:30+00:00'
       |     WHEN doc_id % 6 = 1 THEN '2024-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || 'T22:45:01-03:00'
       |     WHEN doc_id % 6 = 2 THEN '2024-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || 'T08:05:09'
       |     WHEN doc_id % 6 = 3 THEN '2023-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
       |     WHEN doc_id % 6 = 4 THEN 'ontem às 10h'
       |     ELSE lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || '/' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '/2024' END""".stripMargin

  /** q111: `MongoNewsRepository._deserialize` (extraction.py:115-147) —
    * the or-chain field fallback (`data.get('titulo') or data.get
    * ('title') or ''`: empty strings are falsy, so a present-but-empty
    * primary field falls through) plus the three-format datetime
    * cascade with the epoch-0 default. Naive timestamps are assumed
    * UTC, exactly as `replace(tzinfo=timezone.utc)` does. Map-only. */
  def deserializeShim(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    // primary pt-BR field / legacy field, with falsy shapes
    val titulo = when(d % 4 === 0, lit(null).cast("string"))
      .when(d % 4 === 1, lit(""))
      .otherwise(concat(lit("Título "), d.cast("string")))
    val titleAlt = when(d % 8 < 4, concat(lit("Alt "), d.cast("string")))
      .otherwise(lit(null).cast("string"))
    def orChain(cols: Seq[Column]): Column =
      cols.foldLeft(when(lit(false), lit(""))) { (acc, c) =>
        acc.when(length(coalesce(c, lit(""))) > 0, c)
      }.otherwise(lit(""))
    val parsed = coalesce(
      try_to_timestamp(col("raw"), lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
      try_to_timestamp(col("raw"), lit("yyyy-MM-dd'T'HH:mm:ss")),
      try_to_timestamp(col("raw"), lit("yyyy-MM-dd")),
      timestamp_seconds(lit(0)))
    Tables.documents(s, dir)
      .select(d, rawDateCol.as("raw"), titulo.as("titulo"), titleAlt.as("title_alt"))
      .select(d, col("raw"),
        orChain(Seq(col("titulo"), col("title_alt"))).as("title_resolved"),
        unix_timestamp(parsed).as("published_epoch"))
      .orderBy(d)
  }

  val deserializeShimSql: String =
    s"""WITH base AS (SELECT doc_id, $RawDateSql AS raw,
       |    CASE WHEN doc_id % 4 = 0 THEN NULL
       |         WHEN doc_id % 4 = 1 THEN ''
       |         ELSE 'Título ' || CAST(doc_id AS VARCHAR) END AS titulo,
       |    CASE WHEN doc_id % 8 < 4 THEN 'Alt ' || CAST(doc_id AS VARCHAR) END AS title_alt
       |  FROM documents)
       |SELECT doc_id, raw,
       |  CASE WHEN length(COALESCE(titulo, '')) > 0 THEN titulo
       |       WHEN length(COALESCE(title_alt, '')) > 0 THEN title_alt
       |       ELSE '' END AS title_resolved,
       |  CAST(COALESCE(
       |    epoch(try_strptime(raw, '%Y-%m-%dT%H:%M:%S%z')),
       |    epoch(try_strptime(raw, '%Y-%m-%dT%H:%M:%S')),
       |    epoch(try_strptime(raw, '%Y-%m-%d')),
       |    0) AS BIGINT) AS published_epoch
       |FROM base ORDER BY doc_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "q105_city_patterns" -> ((s, dir) => cityPatterns(s, dir)),
    "q106_split_surface" -> ((s, dir) => splitCitySurface(s, dir)),
    "q107_batch_accounting" -> ((s, dir) => batchAccounting(s, dir)),
    "q111_deserialize" -> ((s, dir) => deserializeShim(s, dir)))

  val oracles: Map[String, String] = Map(
    "q105_city_patterns" -> cityPatternsSql,
    "q106_split_surface" -> splitCitySurfaceSql,
    "q107_batch_accounting" -> batchAccountingSql,
    "q111_deserialize" -> deserializeShimSql)
}
