package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.functions.GraftFunctions
import graft.functions.TextFunctions._
import graft.operators.Gazetteer

/** The reference's context-UF scoring chain, end to end:
  *
  *  - q56: gazetteer primary selection with per-sentence context-UF
  *    adjustment (signals.py `_extract_context_uf` + aggregator.py
  *    `_context_adjust` +-0.3/0.7 with the max(0,·) clamp) and the FULL
  *    6-step tie-break chain including step 4 "menor quantidade de
  *    conflitos de UF" (aggregator.py:232);
  *  - q57: the suppression audit trail — why each losing candidate was
  *    dropped (aggregator.py:173 `_register_suppression`);
  *  - q58: state (UF) mention extraction with the real Brazilian state
  *    table (normalization.py:31 `_STATE_NAMES` / `_STATE_ABBREVIATIONS`
  *    / `_ESTADO_DE_PATTERN`) over deterministically synthesized
  *    state-bearing text. The "estado do XX" pattern is subsumed by the
  *    standalone-abbreviation rule (both engines treat the UF inside it
  *    as a word-bounded token), mirroring the reference where rule 4's
  *    matches are a subset of rule 3's case-insensitive \bUF\b scan.
  */
object ContextQueries extends QueryFamily {

  // ---- shared SQL fragments (must mirror TextFunctions exactly) ----
  private val FoldSql =
    "lower(strip_accents(translate(text, '-‐‑‒–—―­', '       ')))"
  private val ToksSql = s"string_split_regex(trim($FoldSql), '\\s+')"

  /** Shared oracle CTE: tokenized docs -> sentence ids -> per-sentence
    * context UF -> anchored n-gram candidates over multi-token variants
    * -> per-match adjusted confidence -> per-(doc, keyword) aggregation.
    * Mirrors Gazetteer.contextMatches expression by expression so DuckDB
    * computes identical integers: the gram inherits sent_id / in_title /
    * ctx_uf from its ANCHOR token; admin markers use the reference's
    * +-48-CHAR window (signals.py:65-69) — each token carries its char
    * offset in the space-joined stream, and the first admin occurrence
    * starting at-or-after (match_start - 48) decides via
    * `first.end <= match_end + 48` (occurrences are disjoint+ordered,
    * so no later occurrence can fit if the first cannot). */
  private[queries] def ctxCteSql: String =
    s"""toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |pos0 AS (SELECT doc_id, t, unnest(t) AS tok, generate_subscripts(t, 1) AS i FROM toks),
       |pos AS (SELECT doc_id, t, tok, i,
       |    coalesce(SUM(CASE WHEN tok = '${Gazetteer.SentenceBreakToken}' THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sent_id
       |  FROM pos0),
       |ctx AS (SELECT doc_id, sent_id, MIN(uf) AS ctx_uf
       |  FROM pos JOIN ${Gazetteer.statesValuesSql} ON tok = state_word
       |  GROUP BY doc_id, sent_id),
       |${Gazetteer.adminCharCteSql("pos", ", sent_id")},
       |grams AS (${Gazetteer.gramsCteSql("adm", ", sent_id, tok_start, fa_s, fa_e")}),
       |sig AS (SELECT doc_id, sent_id, gram,
       |    (fa_s IS NOT NULL
       |      AND fa_e <= tok_start + CAST(length(gram) AS BIGINT) + ${Gazetteer.AdminWindowChars}) AS admin_adj,
       |    sent_id = 0 AS in_title
       |  FROM grams),
       |mr AS (SELECT s.doc_id, s.sent_id, kw_id, keyword, admin_adj, in_title, c.ctx_uf, ufcat.city_uf,
       |    weight_milli + (CASE WHEN in_title THEN ${Gazetteer.TitleBoostMilli} ELSE 0 END)
       |      + (CASE WHEN admin_adj THEN ${Gazetteer.AdminMarkerMilli} ELSE 0 END) AS conf_milli
       |  FROM sig s
       |  JOIN ${Gazetteer.variantsValuesSql} ON s.gram = variant
       |  JOIN ${Gazetteer.keywordUfValuesSql} ON kw_id = ufcat.uf_kw_id
       |  LEFT JOIN ctx c ON s.doc_id = c.doc_id AND s.sent_id = c.sent_id),
       |adj AS (SELECT *,
       |    CASE WHEN ctx_uf IS NULL THEN conf_milli
       |         WHEN ctx_uf = city_uf THEN conf_milli + ${Gazetteer.ContextMatchBonusMilli}
       |         ELSE greatest(0, conf_milli - ${Gazetteer.ContextMismatchPenaltyMilli}) END AS adjusted_milli,
       |    (ctx_uf IS NOT NULL AND ctx_uf = city_uf) AS ctx_match,
       |    (ctx_uf IS NOT NULL AND ctx_uf <> city_uf) AS ctx_mismatch
       |  FROM mr),
       |aggd AS (SELECT doc_id, kw_id, keyword,
       |    CAST(SUM(adjusted_milli) AS BIGINT) AS score_milli,
       |    COUNT(*) AS occurrences,
       |    CAST(SUM(CASE WHEN admin_adj THEN 1 ELSE 0 END) AS BIGINT) AS admin_markers,
       |    CAST(SUM(CASE WHEN in_title THEN ${Gazetteer.TitleBoostMilli} ELSE 0 END) AS BIGINT) AS title_boost_milli,
       |    CAST(SUM(CASE WHEN ctx_match THEN 1 ELSE 0 END) AS BIGINT) AS context_matches,
       |    CAST(SUM(CASE WHEN ctx_mismatch THEN 1 ELSE 0 END) AS BIGINT) AS context_mismatches
       |  FROM adj GROUP BY doc_id, kw_id, keyword)""".stripMargin

  /** q56: context-adjusted gazetteer primary pick (6-step chain). */
  def contextGazetteer(s: SparkSession, dir: String): DataFrame =
    Gazetteer
      .primaryWithContext(
        Gazetteer.contextMatches(Tables.documents(s, dir), s, "text", "doc_id"), "doc_id")
      .select(col("doc_id"), col("kw_id"), col("keyword").as("primary_kw"),
        col("score_milli"), col("occurrences"), col("admin_markers"),
        col("title_boost_milli"), col("context_matches"), col("context_mismatches"))
      .orderBy(col("doc_id"))

  val contextGazetteerSql: String =
    s"""WITH $ctxCteSql
       |SELECT doc_id, kw_id, keyword AS primary_kw, score_milli, occurrences,
       |  admin_markers, title_boost_milli, context_matches, context_mismatches
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |    ORDER BY score_milli DESC, admin_markers DESC, title_boost_milli DESC,
       |      context_mismatches ASC, occurrences DESC, kw_id) AS rn
       |  FROM aggd)
       |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** q57: suppression audit — first selection step that dropped each
    * losing candidate. */
  def suppressionAudit(s: SparkSession, dir: String): DataFrame =
    Gazetteer
      .suppressions(
        Gazetteer.contextMatches(Tables.documents(s, dir), s, "text", "doc_id"), "doc_id")
      .orderBy(col("doc_id"), col("kw_id"))

  val suppressionAuditSql: String =
    s"""WITH $ctxCteSql,
       |w1 AS (SELECT *, MAX(score_milli) OVER (PARTITION BY doc_id) AS m1 FROM aggd),
       |w2 AS (SELECT *, MAX(CASE WHEN score_milli = m1 THEN admin_markers END)
       |    OVER (PARTITION BY doc_id) AS m2 FROM w1),
       |w3 AS (SELECT *, MAX(CASE WHEN score_milli = m1 AND admin_markers = m2 THEN title_boost_milli END)
       |    OVER (PARTITION BY doc_id) AS m3 FROM w2),
       |w4 AS (SELECT *, MIN(CASE WHEN score_milli = m1 AND admin_markers = m2 AND title_boost_milli = m3
       |      THEN context_mismatches END) OVER (PARTITION BY doc_id) AS m4 FROM w3),
       |w5 AS (SELECT *, MAX(CASE WHEN score_milli = m1 AND admin_markers = m2 AND title_boost_milli = m3
       |      AND context_mismatches = m4 THEN occurrences END) OVER (PARTITION BY doc_id) AS m5 FROM w4),
       |w6 AS (SELECT *, MIN(CASE WHEN score_milli = m1 AND admin_markers = m2 AND title_boost_milli = m3
       |      AND context_mismatches = m4 AND occurrences = m5 THEN kw_id END)
       |    OVER (PARTITION BY doc_id) AS m6 FROM w5),
       |labeled AS (SELECT *,
       |    CASE WHEN score_milli <> m1 THEN 'score'
       |         WHEN admin_markers <> m2 THEN 'admin_marker'
       |         WHEN title_boost_milli <> m3 THEN 'title_boost'
       |         WHEN context_mismatches <> m4 THEN 'context_uf'
       |         WHEN occurrences <> m5 THEN 'occurrences'
       |         WHEN kw_id <> m6 THEN 'city_id' END AS rule
       |  FROM w6)
       |SELECT doc_id, kw_id, keyword, score_milli, occurrences,
       |  CASE WHEN rule = 'score' THEN 'lower_score' ELSE 'tie_break' END AS reason, rule
       |FROM labeled WHERE rule IS NOT NULL
       |ORDER BY doc_id, kw_id""".stripMargin

  // ---- q58: Brazilian state mention extraction ----

  /** (display name, folded name, UF) — the reference's `_STATE_NAMES`
    * (normalization.py:31), public IBGE data. */
  val States: Seq[(String, String, String)] = Seq(
    ("Acre", "acre", "AC"), ("Alagoas", "alagoas", "AL"),
    ("Amapá", "amapa", "AP"), ("Amazonas", "amazonas", "AM"),
    ("Bahia", "bahia", "BA"), ("Ceará", "ceara", "CE"),
    ("Distrito Federal", "distrito federal", "DF"),
    ("Espírito Santo", "espirito santo", "ES"), ("Goiás", "goias", "GO"),
    ("Maranhão", "maranhao", "MA"), ("Mato Grosso", "mato grosso", "MT"),
    ("Mato Grosso do Sul", "mato grosso do sul", "MS"),
    ("Minas Gerais", "minas gerais", "MG"), ("Pará", "para", "PA"),
    ("Paraíba", "paraiba", "PB"), ("Paraná", "parana", "PR"),
    ("Pernambuco", "pernambuco", "PE"), ("Piauí", "piaui", "PI"),
    ("Rio de Janeiro", "rio de janeiro", "RJ"),
    ("Rio Grande do Norte", "rio grande do norte", "RN"),
    ("Rio Grande do Sul", "rio grande do sul", "RS"),
    ("Rondônia", "rondonia", "RO"), ("Roraima", "roraima", "RR"),
    ("Santa Catarina", "santa catarina", "SC"), ("São Paulo", "sao paulo", "SP"),
    ("Sergipe", "sergipe", "SE"), ("Tocantins", "tocantins", "TO"))

  /** Word-boundary analog for the \bUF\b abbreviation scan: tokens of
    * the uppercased text split on anything outside A-Z/À-Ÿ/0-9. */
  private val UpperSepRegex = "[^A-ZÀ-Ÿ0-9]+"

  /** Deterministic state-bearing surface synthesized around each doc
    * (the corpus itself mentions no states): an accented state name, a
    * parenthesised abbreviation, and an "estado do XX" form, each keyed
    * off doc_id with multiplicative mixing (integer-exact on both
    * engines — no division). */
  private def surfaceCol: org.apache.spark.sql.Column = {
    val nameArr = array(States.map(t => lit(t._1)): _*)
    val ufArr = array(States.map(t => lit(t._3)): _*)
    concat(col("text"),
      when(col("doc_id") % 3 =!= 0,
        concat(lit(" visita a "), element_at(nameArr, (col("doc_id") % 27 + 1).cast("int"))))
        .otherwise(lit("")),
      when(col("doc_id") % 2 === 0,
        concat(lit(" ("), element_at(ufArr, ((col("doc_id") * 11 + 5) % 27 + 1).cast("int")), lit(")")))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        concat(lit(" no estado do "), element_at(ufArr, ((col("doc_id") * 17 + 2) % 27 + 1).cast("int"))))
        .otherwise(lit("")))
  }

  /** q58: extract_state_mentions (normalization.py:146) — folded-name
    * substring scan plus standalone-abbreviation token scan, emitted as
    * (doc_id, uf) rows. The broadcast states side is 27 rows; the doc
    * side stays embarrassingly parallel. */
  def stateMentions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val states = broadcast(States.toDF("name", "folded", "uf"))
    // fold + token-split ONCE per document BEFORE the 27x state
    // expansion — inside the join they would be recomputed per state
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), surfaceCol.as("surface"))
      .select(col("doc_id"),
        fold(col("surface")).as("folded_surface"),
        split(upper(col("surface")), UpperSepRegex).as("upper_toks"))
    docs
      .crossJoin(states)
      .filter(
        col("folded_surface").contains(col("folded")) ||
          array_contains(col("upper_toks"), col("uf")))
      .select(col("doc_id"), col("uf"))
      .distinct()
      .orderBy(col("doc_id"), col("uf"))
  }

  val stateMentionsSql: String = {
    val nameList = States.map(t => s"'${t._1}'").mkString("[", ", ", "]")
    val ufList = States.map(t => s"'${t._3}'").mkString("[", ", ", "]")
    val statesValues = States.map { case (n, f, u) => s"('$n', '$f', '$u')" }
      .mkString("(VALUES ", ", ", ") AS states(name, folded, uf)")
    s"""WITH surf AS (SELECT doc_id,
       |    text
       |    || CASE WHEN doc_id % 3 <> 0 THEN ' visita a ' || ($nameList)[CAST(doc_id % 27 + 1 AS INT)] ELSE '' END
       |    || CASE WHEN doc_id % 2 = 0 THEN ' (' || ($ufList)[CAST((doc_id * 11 + 5) % 27 + 1 AS INT)] || ')' ELSE '' END
       |    || CASE WHEN doc_id % 7 = 0 THEN ' no estado do ' || ($ufList)[CAST((doc_id * 17 + 2) % 27 + 1 AS INT)] ELSE '' END
       |    AS surface
       |  FROM documents),
       |prepped AS (SELECT doc_id,
       |    lower(strip_accents(translate(surface, '-‐‑‒–—―­', '       '))) AS folded_surface,
       |    string_split_regex(upper(surface), '$UpperSepRegex') AS upper_toks
       |  FROM surf)
       |SELECT DISTINCT doc_id, uf
       |FROM prepped CROSS JOIN $statesValues
       |WHERE contains(folded_surface, folded)
       |   OR list_contains(upper_toks, uf)
       |ORDER BY doc_id, uf""".stripMargin
  }

  // ---- q59: fold with offsets ----

  /** Accented / hyphen-variant / soft-hyphen decorations appended to a
    * text prefix so the offset mapping is exercised on every rule
    * (the corpus itself is plain ASCII). U+2011 non-breaking hyphen in
    * "pré-história", em dash in "São—Paulo", soft hyphen in "trena". */
  private val Decor = Seq(
    "Ação-Física", "coração útil", "pré‑história", "São—Paulo", "tr­ena")

  /** q59: normalize_text_with_offsets (normalization.py:191) — the
    * matching-normalized text plus the folded-char -> original-char
    * offset map (needed to project dictionary matches back onto the
    * original text). Offsets are emitted CSV-joined so the driver's
    * cell compare stays scalar. */
  def foldOffsets(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        concat(substring(col("text"), 1, 40), lit(" "),
          element_at(array(Decor.map(lit): _*), (col("doc_id") % 5 + 1).cast("int"))).as("surface"))
      .select(col("doc_id"), foldWithOffsets(col("surface")).as("fo"))
      .select(col("doc_id"),
        col("fo.folded").as("folded"),
        size(col("fo.offsets")).cast("long").as("n_out"),
        array_join(transform(col("fo.offsets"), x => x.cast("string")), ",").as("offsets_csv"))
      .orderBy(col("doc_id"))

  val foldOffsetsSql: String = {
    val decorList = Decor.map {
      case d if d.contains("­") =>
        val Array(a, b) = d.split("­", 2); s"'$a' || chr(173) || '$b'"
      case d => s"'$d'"
    }.mkString("[", ", ", "]")
    s"""WITH surf AS (SELECT doc_id,
       |    substring(text, 1, 40) || ' ' || ($decorList)[CAST(doc_id % 5 + 1 AS INT)] AS surface
       |  FROM documents),
       |m AS (SELECT doc_id, list_transform(string_split(surface, ''), c ->
       |    CASE WHEN c IN ('-', '‐', '‑', '‒', '–', '—', '―') THEN ' '
       |         WHEN c = chr(173) THEN ''
       |         ELSE lower(strip_accents(c)) END) AS mapped
       |  FROM surf),
       |o AS (SELECT doc_id, mapped,
       |    flatten(list_transform(mapped, (mm, i) ->
       |      CASE WHEN mm = '' THEN [] ELSE list_transform(string_split(mm, ''), c2 -> i - 1) END)) AS offs
       |  FROM m)
       |SELECT doc_id,
       |  array_to_string(mapped, '') AS folded,
       |  CAST(len(offs) AS BIGINT) AS n_out,
       |  array_to_string(offs, ',') AS offsets_csv
       |FROM o ORDER BY doc_id""".stripMargin
  }

  // ---- q61: match spans projected onto the original text ----

  /** Catalog-word decorations whose folding SHIFTS or REMAPS offsets:
    * accented variants, unicode hyphens folding to the space inside a
    * multi-token variant ("hash‑join" -> "hash join"), em dashes inside
    * a 3-token variant, and a soft hyphen deletion inside "filter"
    * (offsets shrink by one). The 40-char corpus prefix adds plain
    * identity-offset matches alongside. */
  private val SpanDecor = Seq(
    "Jöin spärk", "hash‑join merge", "sort—merge—join", "fil­ter scan", "Qüery wïndow")

  /** q61: dictionary matches with original-char spans
    * (matcher.py:144-146 via signals.py:55 `_get_normalized_span`'s
    * offsets array) — each match row carries (fold_start, fold_end) in
    * the folded text AND (orig_start, orig_end, orig_surface) on the
    * raw text, asserting the round-trip. */
  def matchSpans(s: SparkSession, dir: String): DataFrame =
    Gazetteer.matchSpans(
      Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(substring(col("text"), 1, 40), lit(" "),
            element_at(array(SpanDecor.map(lit): _*), (col("doc_id") % 5 + 1).cast("int"))).as("surface")),
      Gazetteer.variantsDf(s), "surface", "doc_id")
      .orderBy(col("doc_id"), col("pos"), col("kw_id"), col("n_toks"))

  val matchSpansSql: String = {
    val decorList = SpanDecor.map {
      case d if d.contains("­") =>
        val Array(a, b) = d.split("­", 2); s"'$a' || chr(173) || '$b'"
      case d => s"'$d'"
    }.mkString("[", ", ", "]")
    val gramBranches = (1 to Gazetteer.MaxKeywordTokens).map { n =>
      val parts = "tok" +: (1 until n).map(k => s"t[i+$k]")
      val guard = if (n == 1) "" else s" WHERE i + ${n - 1} <= len(t)"
      s"SELECT doc_id, src, offs, starts, t, i, $n AS n, ${parts.mkString(" || ' ' || ")} AS gram FROM pos$guard"
    }.mkString("\n  UNION ALL ")
    s"""WITH surf AS (SELECT doc_id,
       |    substring(text, 1, 40) || ' ' || ($decorList)[CAST(doc_id % 5 + 1 AS INT)] AS src
       |  FROM documents),
       |m AS (SELECT doc_id, src, list_transform(string_split(src, ''), c ->
       |    CASE WHEN c IN ('-', '‐', '‑', '‒', '–', '—', '―') THEN ' '
       |         WHEN c = chr(173) THEN ''
       |         ELSE lower(strip_accents(c)) END) AS mapped
       |  FROM surf),
       |f AS (SELECT doc_id, src,
       |    array_to_string(mapped, '') AS folded,
       |    flatten(list_transform(mapped, (mm, ix) ->
       |      CASE WHEN mm = '' THEN [] ELSE list_transform(string_split(mm, ''), c2 -> ix - 1) END)) AS offs
       |  FROM m),
       |ch AS (SELECT doc_id, src, offs,
       |    string_split(folded, '') AS chars,
       |    string_split_regex(trim(folded), '\\s+') AS t
       |  FROM f),
       |st AS (SELECT doc_id, src, offs, t,
       |    list_filter(range(0, len(chars)), p ->
       |      NOT regexp_matches(chars[p+1], '^\\s$$')
       |      AND (p = 0 OR regexp_matches(chars[p], '^\\s$$'))) AS starts
       |  FROM ch),
       |pos AS (SELECT doc_id, src, offs, starts, t, unnest(t) AS tok, generate_subscripts(t, 1) AS i FROM st),
       |grams AS ($gramBranches),
       |spans AS (SELECT doc_id, src, offs, i, n, gram,
       |    starts[i] AS fold_start,
       |    starts[i+n-1] + length(t[i+n-1]) AS fold_end
       |  FROM grams),
       |ok AS (SELECT * FROM spans WHERE fold_end - fold_start = length(gram)),
       |proj AS (SELECT doc_id, i, n, gram,
       |    fold_start, fold_end,
       |    offs[fold_start+1] AS orig_start,
       |    offs[fold_end] + 1 AS orig_end,
       |    substring(src, CAST(offs[fold_start+1] AS INT) + 1,
       |      CAST(offs[fold_end] + 1 - offs[fold_start+1] AS INT)) AS orig_surface
       |  FROM ok)
       |SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, CAST(n AS BIGINT) AS n_toks,
       |  variant, kw_id, keyword,
       |  CAST(fold_start AS BIGINT) AS fold_start, CAST(fold_end AS BIGINT) AS fold_end,
       |  CAST(orig_start AS BIGINT) AS orig_start, CAST(orig_end AS BIGINT) AS orig_end,
       |  orig_surface
       |FROM proj JOIN ${Gazetteer.variantsValuesSql} ON gram = variant
       |ORDER BY doc_id, pos, kw_id, n_toks""".stripMargin
  }

  // ---- q64: occurrence rows with their containing sentence ----

  /** q64: each dictionary match with the SENTENCE containing it — the
    * `sentence` context field the reference attaches to every
    * occurrence (normalization.py:132 `find_sentence_containing`,
    * consumed at service.py:122-131 for PersonOccurrence /
    * CityOccurrence). Single pass: sentence ids from the in-stream
    * prefix count, the sentence text as an ordered full-frame
    * collect_list over (doc, sent_id) — no second scan, no carried
    * arrays; grams via the shared lead() builder. The sentence is the
    * folded token stream of the anchor's sentence (terminator
    * included), our analog of the reference's trimmed raw sentence. */
  def occurrenceSentences(s: SparkSession, dir: String): DataFrame = {
    // sent_id, sentence text and the anchored grams all come from ONE
    // native pass over the token array (StreamSignals with sentence
    // emission) — the former formulation ran a prefix-sum window, a
    // full-frame collect_list window and the lead() gram builder over
    // the exploded stream, shuffling every token; now the chain is
    // windowless and the broadcast variant join is the only join
    val sig0 = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(fold(col("text"))).as("toks"))
      .select(col("doc_id"),
        posexplode_outer(GraftFunctions.streamSignals(col("toks"),
          Gazetteer.SentenceBreakToken, Gazetteer.AdminWords, Gazetteer.StateWords,
          Gazetteer.AdminWindowChars, Gazetteer.MaxKeywordTokens,
          emitSentence = true)).as(Seq("pos", "sg")))
    val gramCols = (1 to Gazetteer.MaxKeywordTokens).map { n =>
      struct(lit(n).as("n"), element_at(col("sg.grams"), n).as("gram"))
    }
    sig0
      .withColumn("g", explode_outer(array(gramCols: _*)))
      .filter(col("g.gram").isNotNull)
      .join(broadcast(Gazetteer.variantsDf(s)), col("g.gram") === col("variant"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("kw_id"), col("keyword"), col("sg.sent_id").as("sent_id"),
        col("sg.sentence").as("sentence"))
      .orderBy(col("doc_id"), col("pos"), col("kw_id"))
  }

  val occurrenceSentencesSql: String =
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |pos0 AS (SELECT doc_id, t, unnest(t) AS tok, generate_subscripts(t, 1) AS i FROM toks),
       |pos AS (SELECT doc_id, t, tok, i,
       |    CAST(coalesce(SUM(CASE WHEN tok = '${Gazetteer.SentenceBreakToken}' THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS sent_id
       |  FROM pos0),
       |sentxt AS (SELECT doc_id, t, tok, i, sent_id,
       |    string_agg(tok, ' ') OVER (PARTITION BY doc_id, sent_id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS sentence
       |  FROM pos),
       |grams AS (${Gazetteer.gramsCteSql("sentxt", ", sent_id, sentence")})
       |SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, kw_id, keyword, sent_id, sentence
       |FROM grams JOIN ${Gazetteer.variantsValuesSql} ON gram = variant
       |ORDER BY doc_id, pos, kw_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "q56_context_gazetteer" -> (contextGazetteer _),
    "q57_suppression_audit" -> (suppressionAudit _),
    "q58_state_mentions" -> (stateMentions _),
    "q59_fold_offsets" -> (foldOffsets _),
    "q61_match_spans" -> (matchSpans _),
    "q64_occurrence_sentences" -> (occurrenceSentences _))

  val oracles: Map[String, String] = Map(
    "q56_context_gazetteer" -> contextGazetteerSql,
    "q57_suppression_audit" -> suppressionAuditSql,
    "q58_state_mentions" -> stateMentionsSql,
    "q59_fold_offsets" -> foldOffsetsSql,
    "q61_match_spans" -> matchSpansSql,
    "q64_occurrence_sentences" -> occurrenceSentencesSql)
}
