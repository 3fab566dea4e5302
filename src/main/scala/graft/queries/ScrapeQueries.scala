package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.sources.PortalCatalog

/** The scraper's parse stage (infrastructure/scraper.py: fetch HTML,
  * select title/body, drop boilerplate nodes) as column expressions.
  * Fetching is I/O orchestration outside an analytics engine; parsing
  * the fetched payloads at corpus scale is squarely inside it. HTML is
  * synthesized around the document corpus so the extraction logic has
  * real markup to chew on (all regexes are RE2-safe: no lookaround, no
  * backreferences).
  */
object ScrapeQueries extends QueryFamily {

  private val ScriptRegex = "<script[^>]*>.*?</script>"
  private val TagRegex = "<[^>]+>"

  /** q39: title/body extraction from HTML payloads. */
  def htmlExtract(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("html",
        concat(lit("<html><head><title>Doc "), col("doc_id"),
          lit(" | "), col("source"),
          lit("</title></head><body><p>"), col("text"),
          lit("</p><script>var tracker = 1;</script></body></html>")))
      .select(
        col("doc_id"),
        regexp_extract(col("html"), "<title>([^<]*)</title>", 1).as("title"),
        trim(regexp_replace(
          regexp_replace(regexp_replace(col("html"), ScriptRegex, " "), TagRegex, " "),
          "\\s+", " ")).as("body_text"))
      .select(col("doc_id"), col("title"),
        length(col("body_text")).cast("long").as("body_chars"),
        md5(col("body_text")).as("body_md5"))
      .orderBy(col("doc_id"))

  val htmlExtractSql: String =
    s"""WITH h AS (SELECT doc_id,
       |    '<html><head><title>Doc ' || doc_id || ' | ' || source ||
       |    '</title></head><body><p>' || text ||
       |    '</p><script>var tracker = 1;</script></body></html>' AS html
       |  FROM documents),
       |x AS (SELECT doc_id,
       |    regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
       |    trim(regexp_replace(
       |      regexp_replace(regexp_replace(html, '$ScriptRegex', ' ', 'g'), '$TagRegex', ' ', 'g'),
       |      '\\s+', ' ', 'g')) AS body_text
       |  FROM h)
       |SELECT doc_id, title,
       |  CAST(length(body_text) AS BIGINT) AS body_chars,
       |  md5(body_text) AS body_md5
       |FROM x ORDER BY doc_id""".stripMargin

  /** q40: sentence segmentation with the reference's sentence regex
    * (normalization.py:72 `_SENTENCE_REGEX`); sentence boundaries are
    * synthesized deterministically since the corpus has no punctuation. */
  private val SentenceRegex = "[^.!?\\n]+[.!?]?"

  def sentences(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("punct", regexp_replace(col("text"), " batch ", ". "))
      .withColumn("sents", regexp_extract_all(col("punct"), lit(SentenceRegex), lit(0)))
      .select(
        col("doc_id"),
        size(col("sents")).cast("long").as("n_sentences"),
        trim(get(col("sents"), lit(0))).as("first_sentence"))
      .orderBy(col("doc_id"))

  val sentencesSql: String =
    s"""WITH p AS (SELECT doc_id, regexp_replace(text, ' batch ', '. ', 'g') AS punct FROM documents),
       |x AS (SELECT doc_id, regexp_extract_all(punct, '$SentenceRegex') AS sents FROM p)
       |SELECT doc_id,
       |  CAST(len(sents) AS BIGINT) AS n_sentences,
       |  trim(sents[1]) AS first_sentence
       |FROM x ORDER BY doc_id""".stripMargin

  /** q41: BPE-style pre-tokenization counting — the GPT-2-ish regex
    * split (letter runs | digit runs | single punctuation) that
    * training-data pipelines use to estimate token budgets before the
    * actual BPE merge table is applied. */
  private val PieceRegex = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  def bpeTokens(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.fold
    Tables.documents(s, dir)
      .withColumn("pieces", regexp_extract_all(fold(col("text")), lit(PieceRegex), lit(0)))
      .select(
        col("doc_id"),
        size(col("pieces")).cast("long").as("n_pieces"),
        size(array_distinct(col("pieces"))).cast("long").as("n_distinct_pieces"),
        graft.functions.TextFunctions.tokenLengthSum(col("pieces")).as("sum_piece_len"))
      .orderBy(col("doc_id"))
  }

  val bpeTokensSql: String = {
    val fold = "lower(strip_accents(translate(text, '-‐‑‒–—―­', '       ')))"
    s"""WITH p AS (SELECT doc_id, regexp_extract_all($fold, '$PieceRegex') AS pieces FROM documents)
       |SELECT doc_id,
       |  CAST(len(pieces) AS BIGINT) AS n_pieces,
       |  CAST(len(list_distinct(pieces)) AS BIGINT) AS n_distinct_pieces,
       |  list_reduce(list_transform(pieces, x -> CAST(length(x) AS BIGINT)), (a, b) -> a + b) AS sum_piece_len
       |FROM p ORDER BY doc_id""".stripMargin
  }

  // ---- q92: malformed-selector auto-repair ----

  /** q92: the scraper's selector auto-repair char fold
    * (scraper.py:522-554 `_normalize_selector_query`, exercised by
    * test_scraper_selector_normalization.py's four shapes) over
    * selectors synthesized from the part catalog: complete,
    * missing `]`, missing `'` + `]`, and missing `'` only. The fold
    * closes an open quote (before a following `]` when present) and
    * appends missing brackets; a well-formed selector passes through
    * unchanged. Map-only — the fold is a per-row column expression. */
  def selectorRepair(s: SparkSession, dir: String): DataFrame = {
    val base = concat(lit("meta[property='article:"),
      regexp_replace(lower(col("p_type")), " ", "-"))
    val raw = when(col("p_partkey") % 4 === 0, concat(base, lit("']")))
      .when(col("p_partkey") % 4 === 1, concat(base, lit("'")))
      .when(col("p_partkey") % 4 === 2, base)
      .otherwise(concat(base, lit("]")))
    Tables.part(s, dir)
      .select(col("p_partkey").as("sel_id"), raw.as("raw_query"))
      .withColumn("fixed_query", PortalCatalog.repairSelectorQuery(col("raw_query")))
      .withColumn("repaired", col("fixed_query") =!= col("raw_query"))
      .orderBy(col("sel_id"))
  }

  val selectorRepairSql: String = {
    // The fold is a RECURSIVE CTE advancing one char per step, NOT a
    // list_reduce lambda: DuckDB 1.0's lambda execution corrupts
    // struct accumulators over dictionary-encoded parquet vectors
    // (identical raw_query rows folded to different results).
    // chr(39) = ', chr(34) = " — avoids SQL quote-escaping of quotes.
    val isQuote = "(c = chr(39) OR c = chr(34))"
    val q1 = s"(CASE WHEN $isQuote AND q IS NULL THEN c" +
      s" WHEN $isQuote AND q = c THEN NULL ELSE q END)"
    s"""WITH RECURSIVE sels AS (SELECT p_partkey AS sel_id,
       |    'meta[property=' || chr(39) || 'article:' || replace(lower(p_type), ' ', '-') ||
       |    CASE WHEN p_partkey % 4 = 0 THEN chr(39) || ']'
       |         WHEN p_partkey % 4 = 1 THEN chr(39)
       |         WHEN p_partkey % 4 = 2 THEN ''
       |         ELSE ']' END AS raw_query
       |  FROM part),
       |step AS (
       |  SELECT sel_id, raw_query, 0 AS pos, '' AS res, 0 AS bal, CAST(NULL AS VARCHAR) AS q
       |  FROM sels
       |  UNION ALL
       |  SELECT sel_id, raw_query, pos + 1,
       |    CASE WHEN c = ']' AND q1 IS NOT NULL THEN res || q1 || c ELSE res || c END,
       |    CASE WHEN c = '[' AND q1 IS NULL THEN bal + 1
       |         WHEN c = ']' AND bal > 0 THEN bal - 1 ELSE bal END,
       |    CASE WHEN c = ']' THEN CAST(NULL AS VARCHAR) ELSE q1 END
       |  FROM (SELECT *, $q1 AS q1 FROM
       |        (SELECT *, raw_query[pos + 1] AS c FROM step WHERE pos < len(raw_query)))),
       |folded AS (SELECT * FROM step WHERE pos = len(raw_query))
       |SELECT sel_id, raw_query,
       |  res || COALESCE(q, '') || repeat(']', GREATEST(bal, 0)) AS fixed_query,
       |  res || COALESCE(q, '') || repeat(']', GREATEST(bal, 0)) <> raw_query AS repaired
       |FROM folded ORDER BY sel_id""".stripMargin
  }

  // ---- q93: listing-URL resolution (urljoin) + canonical parts ----

  /** q93: `_extract_url` (scraper.py:471-473) resolves every scraped
    * href against the portal base with `urljoin`, and a crawl pipeline
    * canonicalizes the result for URL-level dedup. The urljoin subset
    * for http(s) hrefs: absolute stays, protocol-relative takes the
    * base scheme, path-absolute replaces the path, empty keeps the
    * base, relative replaces the last path segment then resolves
    * single-level `..` dot-segments. Canonical parts: lowercase
    * authority, path, and a fragment-stripped canonical URL. Map-only
    * regex/CASE column math — identical expressions in the oracle. */
  def urlResolve(s: SparkSession, dir: String): DataFrame = {
    val base = concat(lit("https://"), col("source"), lit(".example.com/news/2024/index.html"))
    val href = when(col("doc_id") % 6 === 0,
        concat(lit("http://mirror.example.org/m/"), col("doc_id"), lit(".html")))
      .when(col("doc_id") % 6 === 1, concat(lit("//cdn.example.org/c/"), col("doc_id")))
      .when(col("doc_id") % 6 === 2, concat(lit("/arts/item"), col("doc_id"), lit(".html#top")))
      .when(col("doc_id") % 6 === 3, concat(lit("sub/item"), col("doc_id"), lit(".html")))
      .when(col("doc_id") % 6 === 4, concat(lit("../arch/item"), col("doc_id"), lit(".html")))
      .otherwise(lit(""))
    val bu = col("base_url")
    val hf = col("href")
    val authority = regexp_extract(bu, "^https?://([^/]+)", 1)
    val baseDir = regexp_replace(bu, "[^/]*$", "")
    val joined = when(hf.rlike("^https?://"), hf)
      .when(hf.startsWith("//"), concat(lit("https:"), hf))
      .when(hf.startsWith("/"), concat(lit("https://"), authority, hf))
      .when(hf === "", bu)
      .otherwise(regexp_replace(concat(baseDir, hf), "/[^/]+/\\.\\./", "/"))
    Tables.documents(s, dir)
      .select(col("doc_id"), base.as("base_url"), href.as("href"))
      .withColumn("resolved", joined)
      .withColumn("canonical", regexp_replace(lower(col("resolved")), "#.*$", ""))
      .withColumn("domain", regexp_extract(col("canonical"), "^https?://([^/]+)", 1))
      .withColumn("path", regexp_extract(col("canonical"), "^https?://[^/]+(/[^#]*)?", 1))
      .orderBy(col("doc_id"))
  }

  val urlResolveSql: String =
    s"""WITH b AS (SELECT doc_id,
       |    'https://' || source || '.example.com/news/2024/index.html' AS base_url,
       |    CASE WHEN doc_id % 6 = 0 THEN 'http://mirror.example.org/m/' || doc_id || '.html'
       |         WHEN doc_id % 6 = 1 THEN '//cdn.example.org/c/' || doc_id
       |         WHEN doc_id % 6 = 2 THEN '/arts/item' || doc_id || '.html#top'
       |         WHEN doc_id % 6 = 3 THEN 'sub/item' || doc_id || '.html'
       |         WHEN doc_id % 6 = 4 THEN '../arch/item' || doc_id || '.html'
       |         ELSE '' END AS href
       |  FROM documents),
       |r AS (SELECT doc_id, base_url, href,
       |    CASE WHEN regexp_matches(href, '^https?://') THEN href
       |         WHEN href LIKE '//%' THEN 'https:' || href
       |         WHEN href LIKE '/%' THEN 'https://' || regexp_extract(base_url, '^https?://([^/]+)', 1) || href
       |         WHEN href = '' THEN base_url
       |         ELSE regexp_replace(regexp_replace(base_url, '[^/]*$$', '') || href,
       |           '/[^/]+/\\.\\./', '/') END AS resolved
       |  FROM b),
       |c AS (SELECT *, regexp_replace(lower(resolved), '#.*$$', '') AS canonical FROM r)
       |SELECT doc_id, base_url, href, resolved, canonical,
       |  regexp_extract(canonical, '^https?://([^/]+)', 1) AS domain,
       |  regexp_extract(canonical, '^https?://[^/]+(/[^#]*)?', 1) AS path
       |FROM c ORDER BY doc_id""".stripMargin

  // ---- q174: domain-suffix blocklist filtering (UT1-style URL gate) ----

  /** The blocklist dim: a full registered domain, one exact subdomain,
    * and a TLD-wide private suffix — the three rule shapes a UT1-style
    * list mixes. */
  val BlockRules: Seq[String] =
    Seq("badsite.org", "ads.src1.example.com", "example.net")

  /** q174: URL blocklist filtering at the domain-suffix grain — the
    * crawl-side gate every pretraining pipeline runs before fetch
    * (UT1/adult-blocklist style): a host is blocked when ANY suffix of
    * its label chain (aligned at label boundaries, so "example.net"
    * blocks "cdn.src3.example.net" but never "notexample.net") appears
    * in the list. Hosts synthesize deterministically from (source,
    * doc_id) across five shapes so every rule kind fires.
    *
    * Scale shape: suffix generation is MAP-SIDE — explode of at most
    * `labels` rows per host with the suffix cut by codegen'd
    * `substring_index`, then one BROADCAST join against the rule dim
    * and a doc-keyed partial agg. No corpus shuffle before the per-doc
    * rollup, nothing quadratic; the blocklist (thousands of rows in
    * production) stays a broadcast dim. */
  def urlBlocklist(s: SparkSession, dir: String): DataFrame = {
    // modulus 7 is coprime to the source cycle (source = src(doc_id %
    // 20)), so every (shape, source) combination occurs — including
    // the exact-subdomain rule's ads.src1 host
    val host = when(col("doc_id") % 7 === 0, concat(lit("ads."), col("source"), lit(".example.com")))
      .when(col("doc_id") % 7 === 1, concat(col("source"), lit(".example.com")))
      .when(col("doc_id") % 7 === 2, lit("tracker.badsite.org"))
      .when(col("doc_id") % 7 === 3, concat(lit("cdn."), col("source"), lit(".example.net")))
      .otherwise(concat(lit("www."), col("source"), lit(".example.com")))
    val rules = broadcast(
      s.createDataFrame(BlockRules.map(Tuple1(_))).toDF("rule"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), host.as("host"))
      .select(col("doc_id"), col("source"), col("host"),
        explode(sequence(lit(1), size(split(col("host"), "\\.")))).as("k"))
      .withColumn("suffix", expr("substring_index(host, '.', -k)"))
      .join(rules, col("suffix") === col("rule"), "left")
      .groupBy(col("doc_id"), col("source"), col("host"))
      .agg(count(col("rule")).as("n_matched"),
        array_join(array_sort(collect_list(col("rule"))), "|").as("matched_rules"))
      .withColumn("blocked", col("n_matched") > 0)
      .orderBy(col("doc_id"))
  }

  val urlBlocklistSql: String = {
    val values = BlockRules.map(r => s"('$r')").mkString(", ")
    s"""WITH bl(rule) AS (VALUES $values),
       |d AS (SELECT doc_id, source,
       |    CASE WHEN doc_id % 7 = 0 THEN 'ads.' || source || '.example.com'
       |         WHEN doc_id % 7 = 1 THEN source || '.example.com'
       |         WHEN doc_id % 7 = 2 THEN 'tracker.badsite.org'
       |         WHEN doc_id % 7 = 3 THEN 'cdn.' || source || '.example.net'
       |         ELSE 'www.' || source || '.example.com' END AS host
       |  FROM documents),
       |ks AS (SELECT doc_id, source, host,
       |    unnest(range(1, len(string_split(host, '.')) + 1)) AS k
       |  FROM d),
       |sfx AS (SELECT doc_id, source, host,
       |    array_to_string(string_split(host, '.')[-k:], '.') AS suffix
       |  FROM ks)
       |SELECT s.doc_id, s.source, s.host,
       |  CAST(COUNT(bl.rule) AS BIGINT) AS n_matched,
       |  COALESCE(string_agg(bl.rule, '|' ORDER BY bl.rule), '') AS matched_rules,
       |  COUNT(bl.rule) > 0 AS blocked
       |FROM sfx s LEFT JOIN bl ON s.suffix = bl.rule
       |GROUP BY s.doc_id, s.source, s.host
       |ORDER BY s.doc_id""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q39_html_extract" -> (htmlExtract _),
    "q40_sentences" -> (sentences _),
    "q41_bpe_tokens" -> (bpeTokens _),
    "q92_selector_repair" -> (selectorRepair _),
    "q93_url_resolve" -> (urlResolve _),
    "q174_url_blocklist" -> (urlBlocklist _))

  val oracles: Map[String, String] = Map(
    "q39_html_extract" -> htmlExtractSql,
    "q40_sentences" -> sentencesSql,
    "q41_bpe_tokens" -> bpeTokensSql,
    "q92_selector_repair" -> selectorRepairSql,
    "q93_url_resolve" -> urlResolveSql,
    "q174_url_blocklist" -> urlBlocklistSql)
}
