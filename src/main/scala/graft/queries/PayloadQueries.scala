package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables

/** The extraction-service storage + API payload layer:
  * `ExtractionResultStore` (services/extraction/adapters/
  * extraction_result_store.py) replayed as a batch over an append log,
  * and `CityMentionPayload.to_domain` (services/publications/schemas/
  * article_payload.py:11-53) + `CityMention.from_mapping`
  * (domain/entities/article.py:38-79) — the or-chain field coercions
  * every externally-ingested mention passes through.
  *
  * Scale shape: q114 is two partial-agg corpus passes (pair-dim
  * boundary derivation + keep-last dedup) with the only window on the
  * bounded survivor dim; q115 is pure map-side column math until the
  * presentation sort.
  */
object PayloadQueries extends QueryFamily {

  /** q114: the store's mutation semantics, replayed set-wise. An
    * append with a (ner_version, gazetteer_version) differing from the
    * record's current pair CLEARS the accumulated occurrences
    * (extraction_result_store.py:57-66 `_ensure_record`) — so only
    * appends at/after the LAST version change survive. Within the
    * survivors, `_append_unique_person` (py:150-166) drops any earlier
    * occurrence with the same (person_id, start, end) and re-appends
    * at the END — the final list is ordered by each key's LAST
    * append. Output: one row per surviving occurrence with the
    * record's final versions and its list position.
    *
    * Spark shape: the surviving tail is rewritten WINDOW-FREE — the
    * rows at/after the last version change are exactly the rows
    * strictly AFTER the last row whose version pair differs from the
    * final pair (the tail run is constant by definition, so "last
    * change" ≡ "last differing row"). The corpus-wide lag/row_number
    * sort partitioned by url serialized on the url cardinality and
    * measured SUPERLINEAR once per-url logs got deep (x256 ladder:
    * 64s — 153M rows sorted into 211 url partitions). Instead, ONE
    * partial-agg pass collapses the log to the last append per
    * (url, version-pair) — a bounded dim (urls × 6 pairs) from which
    * both the final pair and the last differing append derive without
    * touching the corpus again — and a second pass does the keep-last
    * dedup as a hash agg on the 4-part occurrence key (high
    * cardinality — full parallelism). Both passes project only the
    * NUMERIC pre-image columns (the replay order and all grouping run
    * on integers; display strings are built on the bounded output —
    * a third of the original per-row cost was string concat). The
    * url dims join un-forced: AQE broadcasts them at any practical
    * url count. The only window left assigns positions over each
    * url's BOUNDED deduped survivor set. Ladder: x64 11.0→3.3s,
    * x256 64.3→14.1s (4.3x for 4x — scan-bound).
    *
    * Replay-order note: the synthesized log has duplicate
    * (orderkey, linenumber) pairs, so the replay order is the TOTAL
    * order (seq, version pair, occurrence) — a synthesis-only
    * tie-break (the real store's seq is unique per url) that both
    * engines now express over the same integer columns. */
  def storeReplay(s: SparkSession, dir: String): DataFrame = {
    val appends = Tables.lineitem(s, dir).select(
      (col("l_orderkey") % 211).as("url_n"),
      (col("l_orderkey") * 10 + col("l_linenumber")).as("seq"),
      ((col("l_partkey") + col("l_linenumber")) % 3).as("ner_n"),
      (col("l_suppkey") % 2).as("gaz_n"),
      (col("l_partkey") % 23).as("person_n"),
      ((col("l_partkey") * 7 + col("l_suppkey")) % 97).as("start_off"),
      ((col("l_partkey") * 7 + col("l_suppkey")) % 97 + 1 + col("l_suppkey") % 9)
        .as("end_off"))
      // the total order packed into ONE long (exact mixed-radix: every
      // trailing component is bounded — ner<3, gaz<2, person<23,
      // start<97, end<106 — so long order ≡ lexicographic order; fits
      // while seq < ~6.5e12). A struct key would force the max()
      // aggregations out of codegen into object buffers — measured 4x
      // slower and heap-heavy at x256
      .withColumn("ord",
        ((((col("seq") * 3 + col("ner_n")) * 2 + col("gaz_n")) * 23
          + col("person_n")) * 97 + col("start_off")) * 106 + col("end_off"))

    // pass 1: last append per (url, version pair) — the bounded dim
    val pairDim = appends.groupBy(col("url_n"), col("ner_n"), col("gaz_n"))
      .agg(max(col("ord")).as("pord"))
    val finals = pairDim.groupBy(col("url_n"))
      .agg(max(struct(col("pord"), col("ner_n"), col("gaz_n"))).as("fin"))
      .select(col("url_n"), col("fin.ner_n").as("fin_ner"),
        col("fin.gaz_n").as("fin_gaz"))
    val lastDiff = pairDim.join(finals, Seq("url_n"))
      .filter(col("ner_n") =!= col("fin_ner") || col("gaz_n") =!= col("fin_gaz"))
      .groupBy(col("url_n")).agg(max(col("pord")).as("m"))

    // pass 2: survivors filter + keep-last dedup + bounded pos window
    val byLast = Window.partitionBy(col("url_n")).orderBy(col("last_ord"))
    appends.join(lastDiff, Seq("url_n"), "left")
      .filter(col("m").isNull || col("ord") > col("m"))
      .groupBy(col("url_n"), col("person_n"), col("start_off"), col("end_off"))
      .agg(max(col("ord")).as("last_ord"),
        max(col("ner_n")).as("ner_n"), max(col("gaz_n")).as("gaz_n"))
      .withColumn("pos", row_number().over(byLast).cast("long"))
      .select(concat(lit("u"), col("url_n")).as("url"),
        concat(lit("ner-"), col("ner_n")).as("ner_version"),
        concat(lit("gaz-"), col("gaz_n")).as("gazetteer_version"),
        concat(lit("p"), col("person_n")).as("person_id"),
        col("start_off"), col("end_off"), col("pos"))
      .orderBy(col("url"), col("pos"))
  }

  val storeReplaySql: String =
    """WITH appends AS (
      |  SELECT l_orderkey % 211 AS url_n,
      |    l_orderkey * 10 + l_linenumber AS seq,
      |    (l_partkey + l_linenumber) % 3 AS ner_n,
      |    l_suppkey % 2 AS gaz_n,
      |    l_partkey % 23 AS person_n,
      |    (l_partkey * 7 + l_suppkey) % 97 AS start_off,
      |    (l_partkey * 7 + l_suppkey) % 97 + 1 + (l_suppkey % 9) AS end_off
      |  FROM lineitem),
      |flagged AS (
      |  SELECT *,
      |    row_number() OVER w AS idx,
      |    (lag(ner_n) OVER w IS NULL
      |     OR lag(ner_n) OVER w <> ner_n
      |     OR lag(gaz_n) OVER w <> gaz_n) AS reset
      |  FROM appends
      |  WINDOW w AS (PARTITION BY url_n ORDER BY seq, ner_n, gaz_n,
      |               person_n, start_off, end_off)),
      |bounded AS (
      |  SELECT *, max(CASE WHEN reset THEN idx END)
      |    OVER (PARTITION BY url_n) AS boundary
      |  FROM flagged),
      |survivors AS (SELECT * FROM bounded WHERE idx >= boundary),
      |deduped AS (
      |  SELECT url_n, person_n, start_off, end_off,
      |    max(idx) AS last_idx,
      |    max(ner_n) AS ner_n,
      |    max(gaz_n) AS gaz_n
      |  FROM survivors GROUP BY url_n, person_n, start_off, end_off)
      |SELECT 'u' || url_n AS url,
      |  'ner-' || ner_n AS ner_version,
      |  'gaz-' || gaz_n AS gazetteer_version,
      |  'p' || person_n AS person_id,
      |  start_off, end_off,
      |  CAST(row_number() OVER (PARTITION BY url_n ORDER BY last_idx) AS BIGINT) AS pos
      |FROM deduped
      |ORDER BY url, pos""".stripMargin

  /** First non-falsy value of an or-chain, where Python treats None
    * and '' both as falsy (article.py:39-47): nullif each operand. */
  private def orChain(cs: Column*): Column =
    coalesce(cs.map(c => nullif(c, lit(""))): _*)

  /** q115: `CityMentionPayload.to_domain` + `ArticlePayload.to_domain`
    * (article_payload.py:25-53, 80-103): the identifier resolves
    * through the 7-field or-chain (raising -> row dropped when every
    * field is falsy), city_id through city_id/ibge_id/id and label
    * through label/name/nome; mentions without a truthy city_id are
    * dropped by the article conversion (article_payload.py:96);
    * occurrences default to 1 when falsy or non-positive; sources keep
    * non-empty strings then dedupe preserving first-seen order
    * (article.py:105-124 to_mapping's dict.fromkeys). Pure map-side
    * column math — the or-chains are codegen'd coalesce/nullif, the
    * sources pipeline array filter + array_distinct (order-stable in
    * both engines by construction of the 3-slot input). */
  def cityMentionPayload(s: SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    val raw = Tables.part(s, dir).select(
      k.as("mention_id"),
      when(k % 11 === 0, concat(lit("ident-"), k)).otherwise(lit(null).cast("string"))
        .as("identifier_f"),
      when(k % 5 === 2, concat(lit("cid-"), k % 100))
        .when(k % 5 === 1, lit("")).otherwise(lit(null).cast("string")).as("city_id_f"),
      when(k % 3 === 1, concat(lit("ibge-"), k % 77))
        .when(k % 3 === 0, lit("")).otherwise(lit(null).cast("string")).as("ibge_id_f"),
      when(k % 7 < 2, concat(lit("id-"), k))
        .when(k % 7 === 2, lit("")).otherwise(lit(null).cast("string")).as("id_f"),
      when(k % 4 === 0, lit(""))
        .when(k % 4 === 1, concat(lit("Lbl "), k % 50))
        .otherwise(lit(null).cast("string")).as("label_f"),
      when(k % 2 === 0, substring(col("p_name"), 1, 12))
        .otherwise(lit(null).cast("string")).as("name_f"),
      when(k % 13 === 0, concat(lit("nm-"), k % 9)).otherwise(lit(null).cast("string"))
        .as("nome_f"),
      when(k % 6 === 0, concat(lit("UF"), k % 27)).otherwise(lit(null).cast("string"))
        .as("uf"),
      when(k % 9 === 0, lit(null).cast("long")).otherwise((k % 7 - 2).cast("long"))
        .as("occ_raw"),
      array(
        lit("web"),
        when(k % 4 === 0, lit("")).otherwise(concat(lit("s"), k % 4)),
        when(k % 3 === 0, lit("web")).otherwise(concat(lit("feed-"), k % 3)))
        .as("sources_raw"))

    raw
      .withColumn("identifier", orChain(col("identifier_f"), col("city_id_f"),
        col("ibge_id_f"), col("id_f"), col("label_f"), col("name_f"), col("nome_f")))
      .withColumn("city_id", orChain(col("city_id_f"), col("ibge_id_f"), col("id_f")))
      .withColumn("label", orChain(col("label_f"), col("name_f"), col("nome_f")))
      .filter(col("identifier").isNotNull && col("city_id").isNotNull)
      .select(
        col("mention_id"), col("identifier"), col("city_id"), col("label"), col("uf"),
        when(col("occ_raw").isNull || col("occ_raw") <= 0, lit(1L))
          .otherwise(col("occ_raw")).as("occurrences"),
        array_join(array_distinct(filter(col("sources_raw"), x => x =!= "")), ",")
          .as("sources_csv"))
      .orderBy(col("mention_id"))
  }

  /** The oracle mirrors the sources filter+dedupe explicitly: with the
    * fixed 3-slot input ['web', e2, e3], keep-order dedupe is e1 then
    * e2 (if non-empty, != e1) then e3 (if non-empty, != e1, != e2). */
  val cityMentionPayloadSql: String =
    """WITH raw AS (
      |  SELECT p_partkey AS mention_id,
      |    CASE WHEN p_partkey % 11 = 0 THEN 'ident-' || p_partkey END AS identifier_f,
      |    CASE WHEN p_partkey % 5 = 2 THEN 'cid-' || (p_partkey % 100)
      |         WHEN p_partkey % 5 = 1 THEN '' END AS city_id_f,
      |    CASE WHEN p_partkey % 3 = 1 THEN 'ibge-' || (p_partkey % 77)
      |         WHEN p_partkey % 3 = 0 THEN '' END AS ibge_id_f,
      |    CASE WHEN p_partkey % 7 < 2 THEN 'id-' || p_partkey
      |         WHEN p_partkey % 7 = 2 THEN '' END AS id_f,
      |    CASE WHEN p_partkey % 4 = 0 THEN ''
      |         WHEN p_partkey % 4 = 1 THEN 'Lbl ' || (p_partkey % 50) END AS label_f,
      |    CASE WHEN p_partkey % 2 = 0 THEN substring(p_name, 1, 12) END AS name_f,
      |    CASE WHEN p_partkey % 13 = 0 THEN 'nm-' || (p_partkey % 9) END AS nome_f,
      |    CASE WHEN p_partkey % 6 = 0 THEN 'UF' || (p_partkey % 27) END AS uf,
      |    CASE WHEN p_partkey % 9 = 0 THEN NULL
      |         ELSE p_partkey % 7 - 2 END AS occ_raw,
      |    'web' AS e1,
      |    CASE WHEN p_partkey % 4 = 0 THEN '' ELSE 's' || (p_partkey % 4) END AS e2,
      |    CASE WHEN p_partkey % 3 = 0 THEN 'web'
      |         ELSE 'feed-' || (p_partkey % 3) END AS e3
      |  FROM part),
      |chained AS (
      |  SELECT mention_id,
      |    coalesce(nullif(identifier_f, ''), nullif(city_id_f, ''),
      |             nullif(ibge_id_f, ''), nullif(id_f, ''), nullif(label_f, ''),
      |             nullif(name_f, ''), nullif(nome_f, '')) AS identifier,
      |    coalesce(nullif(city_id_f, ''), nullif(ibge_id_f, ''),
      |             nullif(id_f, '')) AS city_id,
      |    coalesce(nullif(label_f, ''), nullif(name_f, ''),
      |             nullif(nome_f, '')) AS label,
      |    uf, occ_raw, e1, e2, e3
      |  FROM raw)
      |SELECT mention_id, identifier, city_id, label, uf,
      |  CASE WHEN occ_raw IS NULL OR occ_raw <= 0 THEN 1
      |       ELSE occ_raw END AS occurrences,
      |  e1
      |    || CASE WHEN e2 <> '' AND e2 <> e1 THEN ',' || e2 ELSE '' END
      |    || CASE WHEN e3 <> '' AND e3 <> e1
      |             AND (e3 <> e2 OR e2 = '') THEN ',' || e3
      |       ELSE '' END AS sources_csv
      |FROM chained
      |WHERE identifier IS NOT NULL AND city_id IS NOT NULL
      |ORDER BY mention_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "q114_store_replay" -> (storeReplay _),
    "q115_mention_payload" -> (cityMentionPayload _),
    "q144_pending_deserialize" -> (pendingDeserialize _),
    "q146_cities_sync" -> (citiesSync _))

  /** q144: the pending-news feed deserialization
    * (services/extraction/adapters/publications_api_repository.py:77-106
    * `_deserialize` + `_parse_datetime`) — the boundary every pending
    * document crosses into the extraction service. Pinned semantics:
    * `title` is `data.get("title") or ""` (null and '' both collapse
    * to ''), `body` falls through `body or content or ''`, `source`
    * passes through untouched (null stays null), and `published_at`
    * tries THREE formats in order — offset ISO (`%z`), naive ISO
    * (assumed UTC), date-only (midnight UTC) — with any
    * non-conforming value collapsing to the EPOCH-ZERO sentinel, not
    * null and not an error. Pure map-side column math: the try-chain
    * is a coalesce of try_to_timestamp parses (each format must
    * consume the whole string, exactly like strptime). */
  def pendingDeserialize(s: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey")
    val naiveIso = concat(date_format(col("o_orderdate").cast("timestamp"),
      "yyyy-MM-dd'T'"), lpad(k % 24, 2, "0"), lit(":"),
      lpad(k % 60, 2, "0"), lit(":"), lpad(k % 30, 2, "0"))
    // the parse cascade below is per-row expensive and sits directly
    // on the orders scan — spread the projected input so it runs on
    // every core instead of the scan's single row-group task
    val base = graft.operators.Dedup.spread(
      Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate")))
    val raw = base.select(
      k.as("article_key"),
      when(k % 7 === 0, lit(null).cast("string"))
        .when(k % 7 === 1, lit(""))
        .otherwise(concat(lit("Title "), k % 100)).as("title_f"),
      when(k % 5 === 0, lit(null).cast("string"))
        .when(k % 5 === 1, lit(""))
        .when(k % 5 === 2, concat(lit("body-"), k)).otherwise(lit(null).cast("string"))
        .as("body_f"),
      when(k % 3 === 0, concat(lit("content-"), k))
        .when(k % 3 === 1, lit("")).otherwise(lit(null).cast("string"))
        .as("content_f"),
      when(k % 4 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("src"), k % 4)).as("source"),
      when(k % 9 === 0, concat(naiveIso, lit("+02:00")))
        .when(k % 9 === 1, concat(naiveIso, lit("-03:00")))
        .when(k % 9 === 4, lit("soon"))
        .when(k % 9 === 5, lit(null).cast("string"))
        .when(k % 9 === 6, date_format(col("o_orderdate").cast("timestamp"),
          "yyyy-MM-dd"))
        .otherwise(naiveIso).as("published_raw"))
    // the three parse attempts STAGE into columns before the branch
    // logic (the q242 lesson: conditional branches sit outside codegen
    // subexpression elimination, so inlined try_to_timestamp calls
    // re-parse per consuming branch — and the range-sort sampler
    // evaluates the projection once more on top; staged columns made
    // q144 scale linearly on the 64x trajectory corpus)
    // LENGTH-gate each attempt before it runs: a failed
    // try_to_timestamp still pays the full DateTimeFormatter parse +
    // swallowed exception per row, and the three formats admit
    // disjoint surface lengths (offset >= 20 — "+HH:MM"/Z on the
    // 19-char core; naive exactly 19; date-only exactly 10, all with
    // the 4-digit years date_format emits), so the gate skips the
    // attempts that cannot succeed without changing which one does.
    val plen = length(col("published_raw"))
    val staged = raw.withColumn("try_offset", when(plen >= 20, try_to_timestamp(
        col("published_raw"), lit("yyyy-MM-dd'T'HH:mm:ssXXX"))))
      .withColumn("try_naive", when(plen === 19, try_to_timestamp(
        col("published_raw"), lit("yyyy-MM-dd'T'HH:mm:ss"))))
      .withColumn("try_date", when(plen === 10,
        try_to_timestamp(col("published_raw"), lit("yyyy-MM-dd"))))
    val tryOffset = col("try_offset")
    val tryNaive = col("try_naive")
    val tryDate = col("try_date")
    staged.select(
      col("article_key"),
      when(nullif(col("title_f"), lit("")).isNull, lit(""))
        .otherwise(col("title_f")).as("title"),
      coalesce(nullif(col("body_f"), lit("")),
        nullif(col("content_f"), lit("")), lit("")).as("body"),
      col("source"),
      coalesce(unix_timestamp(tryOffset), unix_timestamp(tryNaive),
        unix_timestamp(tryDate), lit(0L)).as("pub_epoch"),
      when(tryOffset.isNotNull, "offset")
        .when(tryNaive.isNotNull, "naive")
        .when(tryDate.isNotNull, "date_only")
        .otherwise("fallback_epoch0").as("pub_branch"))
      .orderBy(col("article_key"))
  }

  val pendingDeserializeSql: String =
    """WITH raw AS (
      |  SELECT o_orderkey AS article_key,
      |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |         WHEN o_orderkey % 7 = 1 THEN ''
      |         ELSE 'Title ' || (o_orderkey % 100) END AS title_f,
      |    CASE WHEN o_orderkey % 5 = 0 THEN NULL
      |         WHEN o_orderkey % 5 = 1 THEN ''
      |         WHEN o_orderkey % 5 = 2 THEN 'body-' || o_orderkey END AS body_f,
      |    CASE WHEN o_orderkey % 3 = 0 THEN 'content-' || o_orderkey
      |         WHEN o_orderkey % 3 = 1 THEN '' END AS content_f,
      |    CASE WHEN o_orderkey % 4 = 0 THEN NULL
      |         ELSE 'src' || (o_orderkey % 4) END AS source,
      |    strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%dT')
      |      || lpad(CAST(o_orderkey % 24 AS VARCHAR), 2, '0') || ':'
      |      || lpad(CAST(o_orderkey % 60 AS VARCHAR), 2, '0') || ':'
      |      || lpad(CAST(o_orderkey % 30 AS VARCHAR), 2, '0') AS naive_iso
      |  FROM orders),
      |shaped AS (
      |  SELECT *,
      |    CASE WHEN article_key % 9 = 0 THEN naive_iso || '+02:00'
      |         WHEN article_key % 9 = 1 THEN naive_iso || '-03:00'
      |         WHEN article_key % 9 = 4 THEN 'soon'
      |         WHEN article_key % 9 = 5 THEN NULL
      |         WHEN article_key % 9 = 6 THEN substring(naive_iso, 1, 10)
      |         ELSE naive_iso END AS published_raw
      |  FROM raw),
      |parsed AS (
      |  SELECT *,
      |    try_strptime(published_raw, '%Y-%m-%dT%H:%M:%S%z') AS t_off,
      |    try_strptime(published_raw, '%Y-%m-%dT%H:%M:%S') AS t_naive,
      |    try_strptime(published_raw, '%Y-%m-%d') AS t_date
      |  FROM shaped)
      |SELECT article_key,
      |  CASE WHEN title_f IS NULL OR title_f = '' THEN '' ELSE title_f END AS title,
      |  coalesce(nullif(body_f, ''), nullif(content_f, ''), '') AS body,
      |  source,
      |  CAST(coalesce(epoch(t_off), epoch(t_naive), epoch(t_date), 0) AS BIGINT)
      |    AS pub_epoch,
      |  CASE WHEN t_off IS NOT NULL THEN 'offset'
      |       WHEN t_naive IS NOT NULL THEN 'naive'
      |       WHEN t_date IS NOT NULL THEN 'date_only'
      |       ELSE 'fallback_epoch0' END AS pub_branch
      |FROM parsed ORDER BY article_key""".stripMargin

  /** q146: the article-cities sync writer replayed set-wise
    * (services/publications/infrastructure/
    * mongo_article_cities_writer.py:19-38 `update_article_cities`):
    * each update REPLACES the article's cities list and either $sets
    * `cities_extraction` to the given metadata or $UNSETS it when the
    * metadata is None — an update can't leave the old metadata in
    * place. The criteria is url plus an OPTIONAL portal: a
    * portal-less update hits EVERY portal's copy of that url
    * (update_many), a portal-scoped one only that copy. Replay = for
    * each article, the LAST applying update (by log sequence) wins;
    * untouched articles keep their original fields.
    *
    * Shape: one url-keyed join (articles × update log — the store's
    * natural key), a last-wins window over each article's few
    * matching updates, then a key-co-partitioned join back. */
  def citiesSync(s: SparkSession, dir: String): DataFrame = {
    val ck = col("c_custkey")
    val articles = Tables.customer(s, dir).select(
      ck.as("article_id"),
      concat(lit("u"), ck % 300).as("url"),
      concat(lit("p"), ck % 5).as("portal"),
      (ck % 4).as("orig_cities"),
      when(ck % 2 === 0, concat(lit("m"), ck % 3))
        .otherwise(lit(null).cast("string")).as("orig_meta"))
    val pk = col("p_partkey")
    val updates = Tables.part(s, dir).select(
      pk.as("seq"),
      concat(lit("u"), pk % 300).as("url"),
      when(pk % 3 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("p"), pk % 5)).as("portal_opt"),
      (pk % 6).as("upd_cities"),
      when(pk % 4 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("x"), pk % 7)).as("upd_meta"))
    val applied = articles.select(col("article_id"), col("url"), col("portal"))
      .join(updates, Seq("url"))
      .filter(col("portal_opt").isNull || col("portal_opt") === col("portal"))
    val w = Window.partitionBy(col("article_id")).orderBy(col("seq").desc)
    val last = applied
      .withColumn("rn", row_number().over(w))
      .withColumn("n_applied",
        count(lit(1)).over(Window.partitionBy(col("article_id"))))
      .filter(col("rn") === 1)
      .select(col("article_id"), col("n_applied").cast("long").as("n_applied"),
        col("upd_cities"), col("upd_meta"))
    articles.join(last, Seq("article_id"), "left")
      .select(col("article_id"), col("url"), col("portal"),
        coalesce(col("n_applied"), lit(0L)).as("n_applied"),
        coalesce(col("upd_cities"), col("orig_cities")).as("final_cities"),
        when(col("n_applied").isNull, col("orig_meta"))
          .otherwise(col("upd_meta")).as("final_meta"),
        (col("n_applied").isNotNull && col("upd_meta").isNull)
          .as("meta_removed"))
      .orderBy(col("article_id"))
  }

  val citiesSyncSql: String =
    """WITH articles AS (
      |  SELECT c_custkey AS article_id,
      |    'u' || (c_custkey % 300) AS url,
      |    'p' || (c_custkey % 5) AS portal,
      |    c_custkey % 4 AS orig_cities,
      |    CASE WHEN c_custkey % 2 = 0 THEN 'm' || (c_custkey % 3) END AS orig_meta
      |  FROM customer),
      |updates AS (
      |  SELECT p_partkey AS seq,
      |    'u' || (p_partkey % 300) AS url,
      |    CASE WHEN p_partkey % 3 = 0 THEN NULL
      |         ELSE 'p' || (p_partkey % 5) END AS portal_opt,
      |    p_partkey % 6 AS upd_cities,
      |    CASE WHEN p_partkey % 4 = 0 THEN NULL
      |         ELSE 'x' || (p_partkey % 7) END AS upd_meta
      |  FROM part),
      |applied AS (
      |  SELECT a.article_id, u.seq, u.upd_cities, u.upd_meta
      |  FROM articles a JOIN updates u ON a.url = u.url
      |  WHERE u.portal_opt IS NULL OR u.portal_opt = a.portal),
      |ranked AS (
      |  SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY article_id ORDER BY seq DESC) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY article_id) AS BIGINT) AS n_applied
      |  FROM applied),
      |last AS (SELECT article_id, n_applied, upd_cities, upd_meta
      |  FROM ranked WHERE rn = 1)
      |SELECT a.article_id, a.url, a.portal,
      |  coalesce(l.n_applied, 0) AS n_applied,
      |  coalesce(l.upd_cities, a.orig_cities) AS final_cities,
      |  CASE WHEN l.n_applied IS NULL THEN a.orig_meta
      |       ELSE l.upd_meta END AS final_meta,
      |  l.n_applied IS NOT NULL AND l.upd_meta IS NULL AS meta_removed
      |FROM articles a LEFT JOIN last l ON a.article_id = l.article_id
      |ORDER BY a.article_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q114_store_replay" -> storeReplaySql,
    "q115_mention_payload" -> cityMentionPayloadSql,
    "q144_pending_deserialize" -> pendingDeserializeSql,
    "q146_cities_sync" -> citiesSyncSql)
}
