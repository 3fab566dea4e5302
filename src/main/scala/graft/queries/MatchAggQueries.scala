package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** `_aggregate_matches` (services/publications/jobs/
  * city_extraction_job.py:274-361): the extraction job's sequential
  * mention-fold — entries keyed by city_id when present else by
  * normalized label, label-keyed entries RE-KEYED (keeping their order
  * slot) when a later match binds the label to a city, first-non-null
  * wins for city_id/label/uf, occurrence counting, method sources
  * deduped in first-seen order, and label-only entries that never
  * resolve a city dropped at the end.
  *
  * The fold is order-dependent in general (a label seen with TWO
  * distinct city ids re-keys entries chain-wise), but under the
  * synthesized input discipline — each label binds at most ONE city id
  * ('c'+lab), and city-only matches (blank surface) draw from a
  * DISJOINT id space ('x'+N), the shapes the extraction service
  * actually emits — the fold is EXACTLY equivalent to the relational
  * form: group key = city_id, else the label's bound city (if any
  * match in the article carries both), else the label itself; entry
  * order = min match position per group.
  *
  * Scale shape: ONE shuffle, keyed by article_id — the label-binding
  * window, the group aggregation, and the per-article position window
  * all inherit hash(article_id) clustering from the initial
  * row_number exchange; no driver-side state replaces the reference's
  * in-memory dicts. The per-group method-list collect is bounded by
  * group size (a handful of methods). */
object MatchAggQueries extends QueryFamily {

  def matchAggregate(s: SparkSession, dir: String): DataFrame = {
    val seqW = Window.partitionBy(col("article_id"))
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    val matches = Tables.lineitem(s, dir).select(
      col("l_orderkey").as("article_id"),
      col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
      (col("l_partkey") % 13).as("lab"))
      .withColumn("seq", row_number().over(seqW))
      .select(
        col("article_id"), col("seq"), col("lab"),
        // skip rows: blank surface, no name, no city -> dropped
        // (py:288-289); city-only rows: blank surface, disjoint 'x' ids
        when(col("l_suppkey") % 11 === 1, lit(""))
          .when(col("l_suppkey") % 13 === 2, lit(""))
          .when(col("l_suppkey") % 5 === 0, concat(lit("  Place "), col("lab"), lit("  ")))
          .otherwise(concat(lit("Place "), col("lab"))).as("surface"),
        when(col("l_suppkey") % 11 === 1, lit(null).cast("string"))
          .when(col("l_suppkey") % 13 === 2, lit(null).cast("string"))
          .when(col("l_suppkey") % 7 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("Place "), col("lab"))).as("name"),
        when(col("l_suppkey") % 11 === 1, lit(null).cast("string"))
          .when(col("l_suppkey") % 13 === 2, concat(lit("x"), col("l_partkey") % 19))
          .when(col("l_suppkey") % 3 === 0 && col("lab") % 5 =!= 4,
            concat(lit("c"), col("lab")))
          .otherwise(lit(null).cast("string")).as("city_id"),
        when(col("l_linenumber") % 3 === 1, lit("automaton"))
          .when(col("l_linenumber") % 3 === 2, lit("pattern"))
          .otherwise(lit(null).cast("string")).as("method"),
        when(col("l_suppkey") % 4 === 0, concat(lit("UF"), col("l_partkey") % 27))
          .otherwise(lit(null).cast("string")).as("uf"))
      // canonical = name or surface (py:281); skip when both surface
      // and city are falsy (py:288-289)
      .withColumn("canonical", coalesce(nullif(col("name"), lit("")), col("surface")))
      .withColumn("norm_label", lower(trim(col("canonical"))))
      .filter(nullif(col("surface"), lit("")).isNotNull || col("city_id").isNotNull)

    // a label's bound city inside one article: the upgrade/rekey path
    // (py:295-316) makes every same-label match share the entry. A
    // window over (article, label) — not a groupBy + self-join — so the
    // bound-city lookup rides the article_id shuffle the row_number
    // already paid (hash(article_id) satisfies the clustered
    // distribution of every downstream step: this window, the group
    // aggregation, and the position window; the whole query is ONE
    // shuffle). The join form recomputed `matches` per side and added
    // two more exchanges — the 64x ladder measured it at 11x/64x data.
    val labelW = Window.partitionBy(col("article_id"), col("norm_label"))
    val keyed = matches
      .withColumn("bound_city",
        max(when(col("norm_label") =!= "", col("city_id"))).over(labelW))
      .withColumn("gkey", coalesce(col("city_id"), col("bound_city"),
        concat(lit("L:"), col("norm_label"))))

    val grouped = keyed
      .groupBy(col("article_id"), col("gkey"))
      .agg(
        min(col("seq")).as("first_seq"),
        count(lit(1)).as("occurrences"),
        max(col("city_id")).as("city_id"),
        // first non-empty label / first non-null uf in match order
        // (py:335-339 "if not entry.get('label')" / uf is None):
        // min_by with a null-guarded ordering skips the falsy rows and
        // stays a declarative hash aggregate (no sort/object agg)
        min_by(nullif(trim(col("canonical")), lit("")),
          when(nullif(trim(col("canonical")), lit("")).isNotNull, col("seq")))
          .as("label"),
        min_by(col("uf"), when(col("uf").isNotNull, col("seq"))).as("uf"),
        // method sources deduped keeping first-seen order (py:340-343):
        // the reference emits exactly {automaton, pattern}
        // (gazetteer.py automaton hits, service.py pattern hits), so
        // the ordered distinct list is a first-seen comparison of the
        // two methods' min positions — pure codegen'd conditional aggs
        min(when(col("method") === "automaton", col("seq"))).as("a_seq"),
        min(when(col("method") === "pattern", col("seq"))).as("p_seq"))
      .withColumn("sources_csv",
        when(col("a_seq").isNotNull && col("p_seq").isNotNull,
          when(col("a_seq") < col("p_seq"), "automaton,pattern")
            .otherwise("pattern,automaton"))
          .when(col("a_seq").isNotNull, "automaton")
          .when(col("p_seq").isNotNull, "pattern")
          .otherwise(""))
      .filter(col("city_id").isNotNull) // py:348-350 drop unresolved

    val posW = Window.partitionBy(col("article_id")).orderBy(col("first_seq"))
    grouped
      .withColumn("pos", row_number().over(posW).cast("long"))
      .select(col("article_id"), col("pos"), col("city_id").as("identifier"),
        col("city_id"), col("label"), col("uf"),
        col("occurrences"), col("sources_csv"))
      .orderBy(col("article_id"), col("pos"))
  }

  val matchAggregateSql: String =
    """WITH base AS (
      |  SELECT l_orderkey AS article_id,
      |    row_number() OVER (PARTITION BY l_orderkey
      |      ORDER BY l_linenumber, l_partkey, l_suppkey) AS seq,
      |    l_partkey % 13 AS lab, l_linenumber, l_partkey, l_suppkey
      |  FROM lineitem),
      |synth AS (
      |  SELECT article_id, seq, lab,
      |    CASE WHEN l_suppkey % 11 = 1 THEN ''
      |         WHEN l_suppkey % 13 = 2 THEN ''
      |         WHEN l_suppkey % 5 = 0 THEN '  Place ' || lab || '  '
      |         ELSE 'Place ' || lab END AS surface,
      |    CASE WHEN l_suppkey % 11 = 1 THEN NULL
      |         WHEN l_suppkey % 13 = 2 THEN NULL
      |         WHEN l_suppkey % 7 = 0 THEN NULL
      |         ELSE 'Place ' || lab END AS name,
      |    CASE WHEN l_suppkey % 11 = 1 THEN NULL
      |         WHEN l_suppkey % 13 = 2 THEN 'x' || (l_partkey % 19)
      |         WHEN l_suppkey % 3 = 0 AND lab % 5 <> 4 THEN 'c' || lab
      |         END AS city_id,
      |    CASE WHEN l_linenumber % 3 = 1 THEN 'automaton'
      |         WHEN l_linenumber % 3 = 2 THEN 'pattern' END AS method,
      |    CASE WHEN l_suppkey % 4 = 0 THEN 'UF' || (l_partkey % 27) END AS uf
      |  FROM base),
      |matches AS (
      |  SELECT *,
      |    coalesce(nullif(name, ''), surface) AS canonical,
      |    lower(trim(coalesce(nullif(name, ''), surface))) AS norm_label
      |  FROM synth
      |  WHERE nullif(surface, '') IS NOT NULL OR city_id IS NOT NULL),
      |label_city AS (
      |  SELECT article_id AS lc_article, norm_label AS lc_label,
      |    max(city_id) AS bound_city
      |  FROM matches
      |  WHERE norm_label <> '' AND city_id IS NOT NULL
      |  GROUP BY 1, 2),
      |keyed AS (
      |  SELECT m.*,
      |    coalesce(m.city_id, lc.bound_city, 'L:' || m.norm_label) AS gkey
      |  FROM matches m
      |  LEFT JOIN label_city lc
      |    ON lc.lc_article = m.article_id AND lc.lc_label = m.norm_label),
      |per_method AS (
      |  SELECT article_id, gkey, method, min(seq) AS mseq
      |  FROM keyed WHERE method IS NOT NULL
      |  GROUP BY article_id, gkey, method),
      |methods AS (
      |  SELECT article_id, gkey,
      |    string_agg(method, ',' ORDER BY mseq) AS sources_csv
      |  FROM per_method GROUP BY article_id, gkey),
      |grouped AS (
      |  SELECT k.article_id, k.gkey,
      |    min(k.seq) AS first_seq,
      |    count(*) AS occurrences,
      |    max(k.city_id) AS city_id,
      |    arg_min(trim(k.canonical), k.seq)
      |      FILTER (WHERE nullif(trim(k.canonical), '') IS NOT NULL) AS label,
      |    arg_min(k.uf, k.seq) FILTER (WHERE k.uf IS NOT NULL) AS uf
      |  FROM keyed k
      |  GROUP BY k.article_id, k.gkey)
      |SELECT g.article_id,
      |  CAST(row_number() OVER (PARTITION BY g.article_id
      |    ORDER BY g.first_seq) AS BIGINT) AS pos,
      |  g.city_id AS identifier, g.city_id, g.label, g.uf,
      |  g.occurrences,
      |  coalesce(m.sources_csv, '') AS sources_csv
      |FROM grouped g
      |LEFT JOIN methods m ON m.article_id = g.article_id AND m.gkey = g.gkey
      |WHERE g.city_id IS NOT NULL
      |ORDER BY g.article_id, pos""".stripMargin

  val queries: Map[String, Q] = Map(
    "q118_match_aggregate" -> (matchAggregate _))

  val oracles: Map[String, String] = Map(
    "q118_match_aggregate" -> matchAggregateSql)
}
