package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables
import graft.functions.Money.cents
import graft.functions.TextFunctions._
import graft.plans.Plans

/** q46: character-n-gram language identification (the classic
  * trigram-profile heuristic — complements q17's stopword profile) and
  * q47: the custom TopKPerKey physical operator run inside the
  * correctness gate. */
object LangNgramQueries extends QueryFamily {

  /** (lang, trigram) profiles. Every trigram is self-overlap-free
    * (first char != last char), so the non-overlapping `replace` count
    * equals the sliding-window occurrence count — the property that
    * lets q46 count occurrences with 20 codegen'd string ops instead
    * of a per-char explode + join. */
  val TrigramProfiles: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "ing", "en" -> "and", "en" -> "ion", "en" -> "ter",
    "de" -> "sch", "de" -> "der", "de" -> "ein", "de" -> "ich", "de" -> "und",
    "es" -> "que", "es" -> "los", "es" -> "ent", "es" -> "ado", "es" -> "cio",
    "pt" -> "cao", "pt" -> "nho", "pt" -> "nte", "pt" -> "ent", "pt" -> "dos")

  private val Langs: Seq[String] = TrigramProfiles.map(_._1).distinct.sorted

  /** q46 — NO-EXPLODE form: per doc, each language's hit count is the
    * sum of its trigrams' occurrence counts computed as
    * (len(f) - len(replace(f, tri, ''))) / 3 — one codegen'd pass per
    * trigram, entirely map-side; the argmax (ties alphabetical, zero
    * hits -> 'und') is a CASE chain. No explode, no join, no shuffle
    * but the final presentation sort. At 100 TB this is a pure scan. */
  def langIdNgram(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), fold(col("text")).as("f"))
    val langHits: Seq[(String, Column)] = Langs.map { lang =>
      lang -> TrigramProfiles.filter(_._1 == lang)
        .map { case (_, tri) => expr(s"(length(f) - length(replace(f, '$tri', ''))) div 3") }
        .reduce(_ + _).cast("long")
    }
    val withHits = langHits.foldLeft(docs) { case (df, (lang, c)) =>
      df.withColumn(s"hits_$lang", c)
    }
    val best = greatest(Langs.map(l => col(s"hits_$l")): _*)
    val chain = Langs.foldLeft(when(lit(false), lit(""))) { (acc, l) =>
      acc.when(col(s"hits_$l") === best, l)
    }.otherwise("und")
    withHits
      .select(col("doc_id"),
        when(best === 0, "und").otherwise(chain).as("lang_pred"),
        when(best === 0, 0L).otherwise(best).as("tri_hits"))
      .orderBy(col("doc_id"))
  }

  val langIdNgramSql: String = {
    val fold = "lower(strip_accents(translate(text, '-‐‑‒–—―­', '       ')))"
    val hitCols = Langs.map { lang =>
      val sum = TrigramProfiles.filter(_._1 == lang)
        .map { case (_, tri) => s"(length(f) - length(replace(f, '$tri', ''))) // 3" }
        .mkString(" + ")
      s"CAST($sum AS BIGINT) AS hits_$lang"
    }.mkString(",\n    ")
    val bestSql = Langs.map(l => s"hits_$l").mkString("greatest(", ", ", ")")
    val chain = Langs.map(l => s"WHEN hits_$l = best THEN '$l'").mkString("\n       ")
    s"""WITH f AS (SELECT doc_id, $fold AS f FROM documents),
       |h AS (SELECT doc_id,
       |    $hitCols
       |  FROM f),
       |b AS (SELECT *, $bestSql AS best FROM h)
       |SELECT doc_id,
       |  CASE WHEN best = 0 THEN 'und'
       |       $chain
       |       ELSE 'und' END AS lang_pred,
       |  CAST(CASE WHEN best = 0 THEN 0 ELSE best END AS BIGINT) AS tri_hits
       |FROM b ORDER BY doc_id""".stripMargin
  }

  /** q47: top-5 orders per market segment executed by the custom
    * TopKPerKeyExec (bounded heaps, no partition sort) — identical
    * rows to the window formulation, so the standard SQL oracles it. */
  def topkCustom(s: SparkSession, dir: String): DataFrame = {
    val joined = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .withColumn("total_cents", cents(col("o_totalprice")))
    Plans.topKPerKey(joined,
      Seq(joined("c_mktsegment")),
      Seq((joined("total_cents"), true), (joined("o_orderkey"), false)), 5)
      .select(col("c_mktsegment"), col("o_orderkey"), col("total_cents"))
      .orderBy(col("c_mktsegment"), col("total_cents").desc, col("o_orderkey"))
  }

  val topkCustomSql: String =
    """SELECT c_mktsegment, o_orderkey, total_cents FROM (
      |  SELECT c_mktsegment, o_orderkey,
      |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS total_cents,
      |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
      |      ORDER BY CAST(ROUND(o_totalprice*100) AS BIGINT) DESC, o_orderkey) AS rn
      |  FROM orders JOIN customer ON o_custkey = c_custkey)
      |WHERE rn <= 5
      |ORDER BY c_mktsegment, total_cents DESC, o_orderkey""".stripMargin

  val queries: Map[String, Q] = Map(
    "q46_lang_id_ngram" -> (langIdNgram _),
    "q47_topk_custom" -> (topkCustom _))

  val oracles: Map[String, String] = Map(
    "q46_lang_id_ngram" -> langIdNgramSql,
    "q47_topk_custom" -> topkCustomSql)
}
