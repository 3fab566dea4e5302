package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.functions.Hashing
import graft.functions.TextFunctions._
import graft.operators.Gazetteer

/** Layer C of SURVEY.md §2: the reference's NLP/extraction pipeline as
  * declarative Spark plans over the `documents` corpus.
  *
  * Every oracle below repeats the exact Spark expression tree in DuckDB
  * SQL: identical operation order means per-row float math is
  * bit-reproducible, and all aggregates are exact integers.
  */
object TextQueries extends QueryFamily {

  // ---- shared SQL fragments (must mirror TextFunctions exactly) ----
  /** fold(): lower + strip accents + hyphen variants -> space. */
  private val FoldSql =
    "lower(strip_accents(translate(text, '-‐‑‒–—―­', '       ')))"
  private val ToksSql = s"string_split_regex(trim($FoldSql), '\\s+')"
  private val StopEn = Seq("the", "a", "of", "and", "is")
  private def inList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("(", ", ", ")")

  /** q12: boilerplate removal + whitespace collapse
    * (normalization.py:77 normalize_article_text). */
  def normalizeText(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), normalizeArticle(col("text")).as("norm_text"))
      .orderBy(col("doc_id"))

  val normalizeTextSql: String =
    """SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(text,
      |    '(?im)^[ \t]*(leia tamb[eéÉ]m|leia ainda|cr[eéÉ]dito:|reportagem:|foto:)[^\n]*(\n|$)', '', 'g'),
      |    '\s+', ' ', 'g')) AS norm_text
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q13: matching normalization (normalization.py:191
    * normalize_text_with_offsets — the text part; offsets are only
    * needed row-at-a-time, Spark-side matching works on the folded
    * text directly). */
  def foldText(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), fold(col("text")).as("folded"))
      .orderBy(col("doc_id"))

  val foldTextSql: String =
    s"SELECT doc_id, $FoldSql AS folded FROM documents ORDER BY doc_id"

  /** q14: tokenization + exact token statistics. */
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), tokens(fold(col("text"))).as("toks"))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(col("toks")).cast("long").as("n_tokens"),
        tokenLengthSum(col("toks")).as("sum_tok_len"))
      .orderBy(col("doc_id"))

  val tokenCountSql: String =
    s"""SELECT doc_id,
       |  CAST(length(text) AS BIGINT) AS n_chars,
       |  CAST(len($ToksSql) AS BIGINT) AS n_tokens,
       |  list_reduce(list_transform($ToksSql, t -> CAST(length(t) AS BIGINT)), (a, b) -> a + b) AS sum_tok_len
       |FROM documents ORDER BY doc_id""".stripMargin

  /** q15: dictionary keyword matching totals per document (the
    * CityMatcher scan, matcher.py:44). */
  def keywordMentions(s: SparkSession, dir: String): DataFrame =
    Gazetteer
      .matches(Tables.documents(s, dir), Gazetteer.variantsDf(s), "text", "doc_id")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("occurrences")).as("n_mentions"),
        count(lit(1)).as("n_keywords"),
        sum(col("score_milli")).as("total_score_milli"))
      .orderBy(col("doc_id"))

  private def matchesCteSql: String =
    s"""toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |pos AS (SELECT doc_id, t, unnest(t) AS tok, generate_subscripts(t, 1) AS i FROM toks),
       |${Gazetteer.adminCharCteSql("pos")},
       |grams AS (${Gazetteer.gramsCteSql("adm", ", tok_start, fa_s, fa_e")}),
       |sig AS (SELECT doc_id, gram,
       |    (fa_s IS NOT NULL
       |      AND fa_e <= tok_start + CAST(length(gram) AS BIGINT) + ${Gazetteer.AdminWindowChars}) AS admin_adj,
       |    i <= ${Gazetteer.TitleZoneTokens} AS in_title
       |  FROM grams),
       |m AS (SELECT doc_id, kw_id, keyword, weight_milli,
       |    COUNT(*) AS occurrences,
       |    CAST(SUM(CASE WHEN admin_adj THEN 1 ELSE 0 END) AS BIGINT) AS admin_markers,
       |    CAST(SUM(CASE WHEN in_title THEN ${Gazetteer.TitleBoostMilli} ELSE 0 END) AS BIGINT) AS title_boost_milli
       |  FROM sig JOIN ${Gazetteer.variantsValuesSql} ON gram = variant
       |  GROUP BY doc_id, kw_id, keyword, weight_milli),
       |scored AS (SELECT *,
       |    occurrences * weight_milli + admin_markers * ${Gazetteer.AdminMarkerMilli} + title_boost_milli AS score_milli
       |  FROM m)""".stripMargin

  val keywordMentionsSql: String =
    s"""WITH $matchesCteSql
       |SELECT doc_id,
       |  CAST(SUM(occurrences) AS BIGINT) AS n_mentions,
       |  COUNT(*) AS n_keywords,
       |  CAST(SUM(score_milli) AS BIGINT) AS total_score_milli
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q16: full gazetteer pipeline with signals and the primary-selection
    * tie-break chain (signals.py + aggregator.py:193). */
  def gazetteerPrimary(s: SparkSession, dir: String): DataFrame =
    Gazetteer
      .primary(
        Gazetteer.matches(Tables.documents(s, dir), Gazetteer.variantsDf(s), "text", "doc_id"),
        "doc_id")
      .select(col("doc_id"), col("keyword").as("primary_kw"), col("score_milli"),
        col("occurrences"), col("admin_markers"), col("title_boost_milli"))
      .orderBy(col("doc_id"))

  val gazetteerPrimarySql: String =
    s"""WITH $matchesCteSql
       |SELECT doc_id, keyword AS primary_kw, score_milli, occurrences, admin_markers, title_boost_milli
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |    ORDER BY score_milli DESC, admin_markers DESC, title_boost_milli DESC, occurrences DESC, kw_id) AS rn
       |  FROM scored)
       |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** q17: stopword-profile language identification (heuristic n-gram/
    * stopword scoring; LLM-pipeline mandate). */
  val StopLists: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "of", "en" -> "and", "en" -> "is",
    "de" -> "der", "de" -> "die", "de" -> "das", "de" -> "und",
    "es" -> "el", "es" -> "la", "es" -> "los", "es" -> "y",
    "pt" -> "o", "pt" -> "os", "pt" -> "e")

  def langId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stop = StopLists.toDF("cand_lang", "word")
    val docs = Tables.documents(s, dir)
    val hits = docs
      .select(col("doc_id"), explode(tokens(fold(col("text")))).as("tok"))
      .join(broadcast(stop), col("tok") === col("word"))
      .groupBy(col("doc_id"), col("cand_lang"))
      .agg(count(lit(1)).as("hits"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("hits").desc, col("cand_lang"))
    val picked = hits.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    docs.select(col("doc_id"))
      .join(picked.select(col("doc_id"), col("cand_lang"), col("hits")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cand_lang"), lit("und")).as("lang_pred"),
        coalesce(col("hits"), lit(0L)).as("stop_hits"))
      .orderBy(col("doc_id"))
  }

  val langIdSql: String = {
    val values = StopLists.map { case (l, w) => s"('$l', '$w')" }.mkString(", ")
    s"""WITH stop(cand_lang, word) AS (VALUES $values),
       |toks AS (SELECT doc_id, unnest($ToksSql) AS tok FROM documents),
       |hits AS (SELECT doc_id, cand_lang, COUNT(*) AS hits
       |  FROM toks JOIN stop ON tok = word GROUP BY doc_id, cand_lang),
       |picked AS (SELECT doc_id, cand_lang, hits,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand_lang) AS rn
       |  FROM hits)
       |SELECT d.doc_id,
       |  coalesce(p.cand_lang, 'und') AS lang_pred,
       |  coalesce(p.hits, 0) AS stop_hits
       |FROM documents d LEFT JOIN (SELECT * FROM picked WHERE rn = 1) p USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** q18: document quality scoring from length/stopword/token-shape
    * ratios. Per-row float math with an identical expression tree on
    * both engines -> bit-reproducible; aggregates stay integer. */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    val stop = StopEn.map(x => x: Any)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), tokens(fold(col("text"))).as("toks"))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(col("toks")).cast("long").as("n_tokens"),
        tokenLengthSum(col("toks")).as("sum_tok_len"),
        graft.functions.GraftFunctions.countMembers(col("toks"), StopEn).as("stop_hits"))
      .withColumn("avg_token_len", col("sum_tok_len").cast("double") / col("n_tokens").cast("double"))
      .withColumn("stop_ratio", col("stop_hits").cast("double") / col("n_tokens").cast("double"))
      .withColumn("quality_milli",
        round(lit(1000.0) * (
          lit(0.3) * least(col("n_tokens").cast("double"), lit(100.0)) / lit(100.0) +
            lit(0.4) * (lit(1.0) - least(lit(2.0) * col("stop_ratio"), lit(1.0))) +
            lit(0.3) * least(col("avg_token_len") / lit(8.0), lit(1.0)))).cast("long"))
      .orderBy(col("doc_id"))
  }

  val qualityScoreSql: String =
    s"""WITH base AS (SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(len($ToksSql) AS BIGINT) AS n_tokens,
       |    list_reduce(list_transform($ToksSql, t -> CAST(length(t) AS BIGINT)), (a, b) -> a + b) AS sum_tok_len,
       |    CAST(len(list_filter($ToksSql, t -> t IN ${inList(StopEn)})) AS BIGINT) AS stop_hits
       |  FROM documents),
       |derived AS (SELECT *,
       |    CAST(sum_tok_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len,
       |    CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio
       |  FROM base)
       |SELECT doc_id, n_chars, n_tokens, sum_tok_len, stop_hits, avg_token_len, stop_ratio,
       |  CAST(ROUND(1000.0 * (
       |    0.3 * least(CAST(n_tokens AS DOUBLE), 100.0) / 100.0 +
       |    0.4 * (1.0 - least(2.0 * stop_ratio, 1.0)) +
       |    0.3 * least(avg_token_len / 8.0, 1.0))) AS BIGINT) AS quality_milli
       |FROM derived ORDER BY doc_id""".stripMargin

  /** q19: document fingerprinting — md5 plus a portable polynomial
    * rolling hash (content keys for dedup/caching). */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), fold(col("text")).as("folded"))
      .select(col("doc_id"),
        md5(col("folded")).as("md5_hex"),
        Hashing.polyHash(col("folded")).as("poly_hash"))
      .orderBy(col("doc_id"))

  val fingerprintSql: String =
    s"""SELECT doc_id,
       |  md5($FoldSql) AS md5_hex,
       |  ${Hashing.polyHashSql(FoldSql)} AS poly_hash
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Synthesized person surfaces over part names (dr./EX-/upper
    * decorations keyed off the part key) — shared by q20 and q60. */
  private def personSurface = when(col("p_partkey") % 4 === 0, concat(lit("dr. "), col("p_name")))
    .when(col("p_partkey") % 4 === 1, concat(lit("EX-"), col("p_name")))
    .when(col("p_partkey") % 4 === 2, upper(col("p_name")))
    .otherwise(col("p_name"))

  /** CTE chain yielding canon(p_partkey, surface, canonical) — the
    * DuckDB mirror of personSurface + normalizePersonName. */
  private val personCanonCteSql: String = {
    val conn = inList(Seq("da", "de", "dos", "das", "do", "e"))
    val honor = "(?i)\\b(deputad[ao]a?|ministr[ao]a?|presidente|governador[ae]?|prefeit[ao]a?|vereador[ae]?|senador[ae]?|dra|dr|dep)\\b"
    s"""surf AS (SELECT p_partkey,
       |    CASE WHEN p_partkey % 4 = 0 THEN 'dr. ' || p_name
       |         WHEN p_partkey % 4 = 1 THEN 'EX-' || p_name
       |         WHEN p_partkey % 4 = 2 THEN upper(p_name)
       |         ELSE p_name END AS surface
       |  FROM part),
       |cleaned AS (SELECT p_partkey, surface,
       |    trim(regexp_replace(
       |      regexp_replace(regexp_replace(regexp_replace(trim(surface),
       |        '$honor', '', 'g'),
       |        '(?i)^ex[\\s-]+', '', 'g'),
       |        '^[^\\wÀ-ÿ]+', '', 'g'),
       |      '\\s+', ' ', 'g')) AS c
       |  FROM surf),
       |canon AS (SELECT p_partkey, surface,
       |  array_to_string(list_transform(string_split_regex(trim(c), '\\s+'), t ->
       |    CASE WHEN t = upper(t) AND t <> lower(t) AND length(t) <= 3 AND lower(t) NOT IN $conn THEN t
       |         ELSE array_to_string(list_transform(string_split(t, '-'),
       |                p -> upper(p[1]) || lower(p[2:])), '-') END), ' ') AS canonical
       |  FROM cleaned)""".stripMargin
  }

  /** q20: person-name canonicalization (normalization.py:118
    * normalize_person_name) exercised over synthesized surfaces. */
  def nameNormalize(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .withColumn("surface", personSurface)
      .select(col("p_partkey"), col("surface"),
        normalizePersonName(col("surface")).as("canonical"))
      .orderBy(col("p_partkey"))

  val nameNormalizeSql: String =
    s"""WITH $personCanonCteSql
       |SELECT p_partkey, surface, canonical FROM canon ORDER BY p_partkey""".stripMargin

  /** q60: person identity + occurrence aggregation (extraction/
    * service.py:111-135): a stable person id per canonical name — the
    * `ensure_person` content key (md5 of the canonical) plus the
    * first-created ordinal (min part key) — with per-person occurrence
    * and distinct-surface counts; empty canonicals are skipped exactly
    * as service.py:114 `continue`s on them. */
  def personOccurrences(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .withColumn("surface", personSurface)
      .withColumn("canonical", normalizePersonName(col("surface")))
      .filter(length(col("canonical")) > 0)
      .groupBy(col("canonical"))
      .agg(
        min(col("p_partkey")).as("person_key"),
        count(lit(1)).as("n_occurrences"),
        countDistinct(col("surface")).as("n_surfaces"),
        min(col("surface")).as("first_surface"))
      .select(md5(col("canonical")).as("person_id"), col("canonical"),
        col("person_key"), col("n_occurrences"), col("n_surfaces"), col("first_surface"))
      .orderBy(col("canonical"))

  val personOccurrencesSql: String =
    s"""WITH $personCanonCteSql
       |SELECT md5(canonical) AS person_id, canonical,
       |  MIN(p_partkey) AS person_key,
       |  COUNT(*) AS n_occurrences,
       |  CAST(COUNT(DISTINCT surface) AS BIGINT) AS n_surfaces,
       |  MIN(surface) AS first_surface
       |FROM canon WHERE length(canonical) > 0
       |GROUP BY canonical ORDER BY canonical""".stripMargin

  val queries: Map[String, Q] = Map(
    "q12_normalize_text" -> (normalizeText _),
    "q13_fold_text" -> (foldText _),
    "q14_token_count" -> (tokenCount _),
    "q15_keyword_mentions" -> (keywordMentions _),
    "q16_gazetteer_primary" -> (gazetteerPrimary _),
    "q17_lang_id" -> (langId _),
    "q18_quality_score" -> (qualityScore _),
    "q19_fingerprint" -> (fingerprint _),
    "q20_name_normalize" -> (nameNormalize _),
    "q60_person_occurrences" -> (personOccurrences _))

  val oracles: Map[String, String] = Map(
    "q12_normalize_text" -> normalizeTextSql,
    "q13_fold_text" -> foldTextSql,
    "q14_token_count" -> tokenCountSql,
    "q15_keyword_mentions" -> keywordMentionsSql,
    "q16_gazetteer_primary" -> gazetteerPrimarySql,
    "q17_lang_id" -> langIdSql,
    "q18_quality_score" -> qualityScoreSql,
    "q19_fingerprint" -> fingerprintSql,
    "q20_name_normalize" -> nameNormalizeSql,
    "q60_person_occurrences" -> personOccurrencesSql)
}
