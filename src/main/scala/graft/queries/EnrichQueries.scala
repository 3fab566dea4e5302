package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.operators.Gazetteer

/** The article enrichment fields the reference carries but computes
  * upstream (Article.summary / Article.classification, and the raw
  * JSON payloads in events.props):
  *
  *  - q50: extractive summary — the highest-scoring sentence by
  *    catalog-keyword weight (position breaks ties), the classic
  *    TextRank-lite selection.
  *  - q51: topic classification — argmax catalog CATEGORY by summed
  *    mention weight per doc.
  *  - q52: semi-structured extraction — parse the events.props JSON
  *    and aggregate the typed field (JSON-path extraction stays native
  *    on both engines).
  */
object EnrichQueries extends QueryFamily {

  private val FoldSql =
    "lower(strip_accents(translate(text, '-‐‑‒–—―­', '       ')))"

  /** q50: per doc, the sentence with the highest keyword-weight sum.
    * Sentences are the ' batch '->'. ' segmentation of q40. Scoring
    * gram-matches multi-token variants WITHIN each sentence (grams are
    * anchored in the sentence's own token array, so a variant never
    * matches across a sentence boundary — the automaton restarted per
    * sentence). */
  def summarize(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.fold
    val sents = Tables.documents(s, dir)
      .withColumn("punct", regexp_replace(fold(col("text")), " batch ", ". "))
      .select(col("doc_id"),
        posexplode(split(col("punct"), "\\. ")).as(Seq("sent_idx", "sentence")))
    val toks = sents
      .withColumn("stoks", split(trim(col("sentence")), "\\s+"))
      .select(col("doc_id"), col("sent_idx"), col("sentence"), col("stoks"),
        posexplode(col("stoks")).as(Seq("pos", "tok")))
    val grams = toks
      .withColumn("g",
        explode(array(Gazetteer.gramStructsFor(col("stoks"), col("pos"), col("tok")): _*)))
      .filter(col("g.gram").isNotNull)
    val scored = grams
      .join(broadcast(Gazetteer.variantsDf(s)), col("g.gram") === col("variant"))
      .groupBy(col("doc_id"), col("sent_idx"), col("sentence"))
      .agg(sum(col("weight_milli")).as("sent_score_milli"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("sent_score_milli").desc, col("sent_idx"))
    scored
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("sent_idx").cast("long").as("sent_idx"),
        col("sentence").as("summary"), col("sent_score_milli"))
      .orderBy(col("doc_id"))
  }

  val summarizeSql: String = {
    s"""WITH p AS (SELECT doc_id, regexp_replace($FoldSql, ' batch ', '. ', 'g') AS punct FROM documents),
       |sents AS (SELECT doc_id, generate_subscripts(string_split(punct, '. '), 1) - 1 AS sent_idx,
       |    unnest(string_split(punct, '. ')) AS sentence
       |  FROM p),
       |stoks AS (SELECT doc_id, sent_idx, sentence, string_split_regex(trim(sentence), '\\s+') AS t FROM sents),
       |pos AS (SELECT doc_id, sent_idx, sentence, t, unnest(t) AS tok, generate_subscripts(t, 1) AS i FROM stoks),
       |grams AS (${Gazetteer.gramsCteSql("pos", ", sent_idx, sentence")}),
       |scored AS (SELECT doc_id, sent_idx, sentence,
       |    CAST(SUM(weight_milli) AS BIGINT) AS sent_score_milli
       |  FROM grams JOIN ${Gazetteer.variantsValuesSql} ON gram = variant
       |  GROUP BY doc_id, sent_idx, sentence)
       |SELECT doc_id, CAST(sent_idx AS BIGINT) AS sent_idx, sentence AS summary, sent_score_milli
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |    ORDER BY sent_score_milli DESC, sent_idx) AS rn FROM scored)
       |WHERE rn = 1 ORDER BY doc_id""".stripMargin
  }

  /** q51: classification = argmax catalog category by mention weight. */
  def classify(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cats = broadcast(
      Gazetteer.DefaultCatalog.map(e => (e._1, e._3)).toDF("kw_id", "category"))
    val m = Gazetteer.matches(Tables.documents(s, dir), Gazetteer.variantsDf(s), "text", "doc_id")
      .join(cats, Seq("kw_id"))
    val perCat = m.groupBy(col("doc_id"), col("category"))
      .agg(sum(col("occurrences") * col("weight_milli")).as("cat_score_milli"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("cat_score_milli").desc, col("category"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(perCat.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("category"), col("cat_score_milli")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("category"), lit("uncategorized")).as("classification"),
        coalesce(col("cat_score_milli"), lit(0L)).as("cat_score_milli"))
      .orderBy(col("doc_id"))
  }

  val classifySql: String = {
    val toksE = s"string_split_regex(trim($FoldSql), '\\s+')"
    s"""WITH toks AS (SELECT doc_id, $toksE AS t FROM documents),
       |pos AS (SELECT doc_id, t, unnest(t) AS tok, generate_subscripts(t, 1) AS i FROM toks),
       |grams AS (${Gazetteer.gramsCteSql("pos")}),
       |m AS (SELECT doc_id, category, keyword, weight_milli, COUNT(*) AS occurrences
       |  FROM grams JOIN ${Gazetteer.variantsValuesSql} ON gram = variant
       |  GROUP BY doc_id, category, keyword, weight_milli),
       |perCat AS (SELECT doc_id, category,
       |    CAST(SUM(occurrences * weight_milli) AS BIGINT) AS cat_score_milli
       |  FROM m GROUP BY doc_id, category),
       |picked AS (SELECT doc_id, category, cat_score_milli,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cat_score_milli DESC, category) AS rn
       |  FROM perCat)
       |SELECT d.doc_id,
       |  coalesce(p.category, 'uncategorized') AS classification,
       |  coalesce(p.cat_score_milli, 0) AS cat_score_milli
       |FROM documents d LEFT JOIN (SELECT * FROM picked WHERE rn = 1) p USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** q52: JSON field extraction from events.props + typed aggregation. */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  val jsonExtractSql: String =
    """SELECT event_type,
      |  COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  val queries: Map[String, Q] = Map(
    "q50_summarize" -> (summarize _),
    "q51_classify" -> (classify _),
    "q52_json_extract" -> (jsonExtract _))

  val oracles: Map[String, String] = Map(
    "q50_summarize" -> summarizeSql,
    "q51_classify" -> classifySql,
    "q52_json_extract" -> jsonExtractSql)
}
