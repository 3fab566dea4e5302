package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.functions.TextFunctions.fold

/** q239: fuzzy title matching by bounded edit distance — the
  * entity-resolution grain the dedup family did not yet hold: q21
  * demands byte equality, q22/q23 measure set overlap, q233 vector
  * angle; edit distance catches the one-typo re-post (a dropped
  * letter, a transposed pair) that none of those see as close.
  */
object FuzzyMatchQueries extends QueryFamily {

  val FzTitleLen = 40
  val FzMaxDist = 2L

  /** q239: near-identical "titles" (the folded 40-char prefix) within
    * edit distance [[FzMaxDist]], over the originals PLUS synthesized
    * one-char-deleted re-posts (every third document re-appears with
    * the character at position doc_id%20+3 dropped — the q93 synthesis
    * pattern; ids offset by 10^6). Candidates come from deterministic
    * BLOCKING — same (length-div-4 bucket, first two chars): two
    * strings within edit distance 2 differ in length by at most 2
    * (adjacent length buckets are probed) and a same-prefix block is
    * the standard cheap key for title typos (a PREFIX typo escapes the
    * block — the documented recall contract of blocking, exactly as
    * LSH bands carry a miss probability; the synthesized edits sit
    * past position 2, so for THEM recall is complete and gate-checked).
    * Verdicts use the built-in Levenshtein — unit-cost edit distance
    * with the SAME definition on both engines, exact integers.
    *
    * Shape: blocking keys are map-side; candidate pairs form only
    * inside (block, prefix) buckets; the quadratic is bounded by
    * bucket size like every dedup bucket join. */
  def fuzzyTitles(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), substring(fold(col("text")), 1, FzTitleLen).as("title"))
    val reposts = base.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        expr(s"concat(substring(title, 1, CAST(doc_id % 20 + 2 AS INT)), " +
          s"substring(title, CAST(doc_id % 20 + 4 AS INT), $FzTitleLen))").as("title"))
    val all = base.unionByName(reposts)
    // collapse IDENTICAL titles first (a clone-heavy corpus would
    // otherwise multiply every bucket quadratically); distance work
    // runs on distinct titles, members expand back afterwards
    val groups = graft.operators.Dedup.stage(
      all.groupBy(col("title"))
        .agg(collect_list(col("doc_id")).as("members")))
    val titles = groups
      .withColumn("tlen", length(col("title")))
      .withColumn("pfx", substring(col("title"), 1, 2))
    val a = titles.select(col("pfx"), expr("tlen div 4").as("blk"),
      col("title").as("title_a"), col("members").as("members_a"))
    // probe own and adjacent length blocks so a +-2 length change stays visible
    val b = titles
      .select(col("pfx"), col("tlen"), col("title").as("title_b"), col("members").as("members_b"))
      .withColumn("blk", explode(expr("array(tlen div 4 - 1, tlen div 4, tlen div 4 + 1)")))
    a.join(b, Seq("pfx", "blk"))
      .filter(col("title_a") < col("title_b"))
      .filter(abs(length(col("title_a")) - length(col("title_b"))) <= FzMaxDist)
      .withColumn("dist",
        levenshtein(col("title_a"), col("title_b"), FzMaxDist.toInt).cast("long"))
      .filter(col("dist") > 0)
      .select(col("dist"), explode(col("members_a")).as("m_a"), col("members_b"))
      .select(col("dist"), col("m_a"), explode(col("members_b")).as("m_b"))
      .select(least(col("m_a"), col("m_b")).as("doc_a"),
        greatest(col("m_a"), col("m_b")).as("doc_b"), col("dist"))
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val fuzzyTitlesSql: String = {
    val foldSql = "lower(strip_accents(translate(text, '-‐‑‒–—―­', '       ')))"
    s"""WITH t0 AS (SELECT doc_id, substr($foldSql, 1, $FzTitleLen) AS title FROM documents),
       |t AS (SELECT doc_id, title FROM t0
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id,
       |    substr(title, 1, CAST(doc_id % 20 + 2 AS INT)) ||
       |      substr(title, CAST(doc_id % 20 + 4 AS INT), $FzTitleLen) AS title
       |  FROM t0 WHERE doc_id % 3 = 0),
       |g AS (SELECT title, list(doc_id) AS members FROM t GROUP BY title),
       |k AS (SELECT title, members, length(title) AS tlen,
       |    substr(title, 1, 2) AS pfx FROM g),
       |a AS (SELECT pfx, tlen // 4 AS blk, title AS title_a, members AS members_a FROM k),
       |b AS (SELECT pfx, u.blk, title AS title_b, members AS members_b
       |  FROM k, UNNEST([tlen // 4 - 1, tlen // 4, tlen // 4 + 1]) AS u(blk)),
       |rp AS (SELECT DISTINCT a.title_a, b.title_b, a.members_a, b.members_b,
       |    CAST(levenshtein(a.title_a, b.title_b) AS BIGINT) AS dist
       |  FROM a JOIN b ON a.pfx = b.pfx AND a.blk = b.blk AND a.title_a < b.title_b
       |  WHERE abs(length(a.title_a) - length(b.title_b)) <= $FzMaxDist
       |    AND levenshtein(a.title_a, b.title_b) <= $FzMaxDist
       |    AND levenshtein(a.title_a, b.title_b) > 0)
       |SELECT DISTINCT LEAST(ma.m, mb.m) AS doc_a, GREATEST(ma.m, mb.m) AS doc_b, dist
       |FROM rp, UNNEST(rp.members_a) AS ma(m), UNNEST(rp.members_b) AS mb(m)
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q239_fuzzy_titles" -> (fuzzyTitles _))

  val oracles: Map[String, String] = Map(
    "q239_fuzzy_titles" -> fuzzyTitlesSql)
}
