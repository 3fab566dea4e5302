package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.Gazetteer

/** q89: the per-article field-extraction payload of
  * `extract_cities_from_article` (city_matching/extractor.py:30):
  *
  *  - fields_to_process (extractor.py:44-55): `title` whenever
  *    non-empty, then `body`; the `content` field is fetched ONLY when
  *    body is None (extractor.py:44) and substitutes with note
  *    "used_content_field" — a present-but-empty body means no content
  *    lookup at all, noted "missing_body_and_content"; the same note
  *    applies when neither field exists, and only the title (if any)
  *    is scanned;
  *  - every processed field runs the full dictionary matcher
  *    independently; match rows carry their field name and the method
  *    tag (automaton for single tokens, pattern for multi-token
  *    variants — service.py's method vocabulary);
  *  - the payload is sorted by (field, start, end) — PYTHON STRING sort
  *    on the field name (extractor.py:81), so body/content rows come
  *    before title rows.
  *
  * The corpus has no separate title/body/content columns, so the three
  * fields are deterministic substrings of `text` keyed off doc_id,
  * chosen to exercise every branch: empty titles (doc_id % 11), missing
  * bodies (doc_id % 5 < 2), missing content (doc_id % 10) — including
  * the both-missing note path.
  *
  * Scale shape: the field explode is map-side (≤2 rows per doc), the
  * gram explode stays embarrassingly parallel, and the only join is the
  * broadcast variant table — same posture as q15/q63.
  */
object ExtractorQueries extends QueryFamily {

  def fieldExtraction(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val title = when(col("doc_id") % 11 === 0, lit("")).otherwise(substring(col("text"), 1, 80))
    val body = when(col("doc_id") % 5 < 2, lit(null).cast("string"))
      .otherwise(substring(col("text"), 81, 160))
    val content = when(col("doc_id") % 10 === 0, lit(null).cast("string"))
      .otherwise(substring(col("text"), 41, 120))
    val bodyok = col("body").isNotNull && col("body") =!= ""
    val useContent = col("body").isNull &&
      col("content").isNotNull && col("content") =!= ""
    // fields_to_process: title when truthy; body, else content — but
    // content is fetched only when body is None (extractor.py:44), so
    // an empty-string body blocks the fallback. The struct's field
    // name is null when neither applies — filtered with the empty
    // title.
    val flagged = docs
      .select(col("doc_id"), title.as("title"), body.as("body"), content.as("content"))
      .withColumn("notes",
        when(bodyok, lit("")).when(useContent, lit("used_content_field"))
          .otherwise(lit("missing_body_and_content")))
      .withColumn("fields", filter(
        array(
          struct(lit("title").as("field"), col("title").as("ftext")),
          struct(
            when(bodyok, "body").when(useContent, "content").as("field"),
            when(bodyok, col("body")).when(useContent, col("content")).as("ftext"))),
        f => f.getField("field").isNotNull &&
          f.getField("ftext").isNotNull && f.getField("ftext") =!= ""))
    // outer explodes throughout — see Gazetteer.matches on inferred-
    // filter pushdown re-evaluating the derived arrays at the scan
    val toks = flagged
      .select(col("doc_id"), col("notes"), explode_outer(col("fields")).as("f"))
      .filter(col("f.field").isNotNull)
      .select(col("doc_id"), col("notes"), col("f.field").as("field"),
        tokens(fold(col("f.ftext"))).as("toks"))
      .select(col("doc_id"), col("notes"), col("field"), col("toks"),
        posexplode_outer(col("toks")).as(Seq("pos", "tok")))
    toks
      .withColumn("g", explode_outer(array(
        Gazetteer.gramStructsFor(col("toks"), col("pos"), col("tok")): _*)))
      .filter(col("g.gram").isNotNull)
      .join(broadcast(Gazetteer.variantsDf(s)), col("g.gram") === col("variant"))
      .select(col("doc_id"), col("field"), col("notes"),
        col("pos").cast("long").as("pos"), col("g.n").cast("long").as("n_toks"),
        col("kw_id"), col("keyword"),
        when(col("g.n") > 1, "pattern").otherwise("automaton").as("method"))
      .orderBy(col("doc_id"), col("field"), col("pos"), col("n_toks"), col("kw_id"))
  }

  val fieldExtractionSql: String = {
    val fold = "lower(strip_accents(translate(ftext, '-‐‑‒–—―­', '       ')))"
    s"""WITH base AS (SELECT doc_id,
       |    CASE WHEN doc_id % 11 = 0 THEN '' ELSE substring(text, 1, 80) END AS title,
       |    CASE WHEN doc_id % 5 < 2 THEN NULL ELSE substring(text, 81, 160) END AS body,
       |    CASE WHEN doc_id % 10 = 0 THEN NULL ELSE substring(text, 41, 120) END AS content
       |  FROM documents),
       |flag AS (SELECT *,
       |    (body IS NOT NULL AND body <> '') AS bodyok,
       |    (body IS NULL AND content IS NOT NULL AND content <> '') AS usecontent,
       |    CASE WHEN (body IS NOT NULL AND body <> '') THEN ''
       |         WHEN (body IS NULL AND content IS NOT NULL AND content <> '') THEN 'used_content_field'
       |         ELSE 'missing_body_and_content' END AS notes
       |  FROM base),
       |fields AS (
       |  SELECT doc_id, notes, 'title' AS field, title AS ftext FROM flag WHERE title <> ''
       |  UNION ALL
       |  SELECT doc_id, notes,
       |    CASE WHEN bodyok THEN 'body' ELSE 'content' END AS field,
       |    CASE WHEN bodyok THEN body ELSE content END AS ftext
       |  FROM flag WHERE bodyok OR usecontent),
       |toks AS (SELECT doc_id, field, notes,
       |    string_split_regex(trim($fold), '\\s+') AS t FROM fields),
       |pos AS (SELECT doc_id, field, notes, t, unnest(t) AS tok,
       |    generate_subscripts(t, 1) AS i FROM toks),
       |grams AS (${Gazetteer.gramsCteSql("pos", ", field, notes")})
       |SELECT doc_id, field, notes, CAST(i - 1 AS BIGINT) AS pos,
       |  CAST(n AS BIGINT) AS n_toks, kw_id, keyword,
       |  CASE WHEN n > 1 THEN 'pattern' ELSE 'automaton' END AS method
       |FROM grams JOIN ${Gazetteer.variantsValuesSql} ON gram = variant
       |ORDER BY doc_id, field, pos, n_toks, kw_id""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q89_field_extraction" -> (fieldExtraction _))

  val oracles: Map[String, String] = Map(
    "q89_field_extraction" -> fieldExtractionSql)
}
