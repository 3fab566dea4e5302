package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.operators.Disambiguation

/** q38: the reference disambiguation decision tree over every mention
  * of an ambiguous catalog surface, with SENTENCE-scoped context
  * signals (see operators.Disambiguation). */
object DisambiguationQueries extends QueryFamily {

  def disambiguation(s: SparkSession, dir: String): DataFrame =
    Disambiguation.resolve(Tables.documents(s, dir), s, "text", "doc_id")
      .orderBy(col("doc_id"), col("pos"))

  val disambiguationSql: String = {
    val fold = "lower(strip_accents(translate(text, '-‐‑‒–—―­', '       ')))"
    val toksE = s"string_split_regex(trim($fold), '\\s+')"
    val ctxIn = Disambiguation.CtxWords.map(w => s"'$w'").mkString("(", ", ", ")")
    val surfIn = Disambiguation.AllSurfaces.map(w => s"'$w'").mkString("(", ", ", ")")
    val catVals = Disambiguation.Catalog
      .map { case (sf, id, cx) => s"('$sf', $id, '$cx')" }
      .mkString("(VALUES ", ", ", ") AS cat(surface, cand_id, ctx)")
    val hasCols = Disambiguation.CtxWords
      .map(w => s"CAST(MAX(CASE WHEN tok = '$w' THEN 1 ELSE 0 END) AS BIGINT) AS has_$w")
      .mkString(",\n    ")
    val ctxMatch = Disambiguation.CtxWords
      .map(w => s"(ctx = '$w' AND coalesce(has_$w, 0) = 1)")
      .mkString(" OR ")
    val carryHas = Disambiguation.CtxWords
      .map(w => s"coalesce(f.has_$w, 0) AS has_$w").mkString(", ")
    val aggHas = Disambiguation.CtxWords
      .map(w => s"CAST(MAX(has_$w) AS BIGINT) AS has_$w").mkString(", ")
    // _has_reliable_context negation per marked surface (rule 1: hint
    // names a required ctx; rule 2: single survivor's ctx mentioned ->
    // m1 >= 1; rule 3: any required ctx mentioned)
    val unreliableSql = Disambiguation.AmbiguousSurfaces.map { case (surf, req) =>
      val reqIn = req.map(r => s"'$r'").mkString("(", ", ", ")")
      val reqHas = req.map(r => s"has_$r = 1").mkString(" OR ")
      s"(surface = '$surf' AND NOT (coalesce(hint IN $reqIn, false) OR m1 >= 1 OR $reqHas))"
    }.mkString(" OR ")
    s"""WITH toks AS (SELECT doc_id, $toksE AS t FROM documents),
       |pos AS (SELECT doc_id, t, unnest(t) AS tok, generate_subscripts(t, 1) AS i FROM toks),
       |sent AS (SELECT doc_id, t, tok, i,
       |    coalesce(SUM(CASE WHEN tok = '${graft.operators.Gazetteer.SentenceBreakToken}' THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sent_id
       |  FROM pos),
       |ctxf AS (SELECT doc_id, sent_id,
       |    $hasCols
       |  FROM sent WHERE tok IN $ctxIn GROUP BY doc_id, sent_id),
       |mentions AS (SELECT doc_id, sent_id, i - 1 AS pos, tok AS surface,
       |    CASE WHEN t[i+1] IN $ctxIn THEN t[i+1] END AS hint
       |  FROM sent WHERE tok IN $surfIn),
       |cand AS (SELECT m.doc_id, m.pos, m.surface, m.hint, cat.cand_id,
       |    (m.hint IS NOT NULL AND cat.ctx = m.hint) AS hint_match,
       |    ($ctxMatch) AS ctx_match,
       |    $carryHas
       |  FROM mentions m
       |  LEFT JOIN $catVals ON m.surface = cat.surface
       |  LEFT JOIN ctxf f ON m.doc_id = f.doc_id AND m.sent_id = f.sent_id),
       |agg AS (SELECT doc_id, pos, surface, hint,
       |    COUNT(cand_id) AS n_cand,
       |    CAST(SUM(CASE WHEN hint_match THEN 1 ELSE 0 END) AS BIGINT) AS n_hint,
       |    CAST(SUM(CASE WHEN ctx_match THEN 1 ELSE 0 END) AS BIGINT) AS n_ctx,
       |    CAST(SUM(CASE WHEN hint_match AND ctx_match THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
       |    MIN(cand_id) AS id_all,
       |    MIN(CASE WHEN hint_match THEN cand_id END) AS id_hint,
       |    MIN(CASE WHEN ctx_match THEN cand_id END) AS id_ctx,
       |    MIN(CASE WHEN hint_match AND ctx_match THEN cand_id END) AS id_both,
       |    $aggHas
       |  FROM cand GROUP BY doc_id, pos, surface, hint),
       |decided AS (SELECT *,
       |    CASE WHEN hint IS NULL THEN n_cand ELSE n_hint END AS n1,
       |    CASE WHEN hint IS NULL THEN n_ctx ELSE n_both END AS m1,
       |    CASE WHEN hint IS NULL
       |         THEN CASE WHEN n_cand > 1 AND n_ctx > 0 THEN id_ctx ELSE id_all END
       |         ELSE CASE WHEN n_hint > 1 AND n_both > 0 THEN id_both ELSE id_hint END
       |    END AS id1
       |  FROM agg),
       |flagged AS (SELECT *, ($unreliableSql) AS unreliable FROM decided)
       |SELECT doc_id, pos, surface, hint, n_cand,
       |  CASE WHEN n_cand = 0 THEN 'foreign'
       |       WHEN hint IS NOT NULL AND n_hint = 0 THEN 'unknown_ctx'
       |       WHEN (CASE WHEN n1 > 1 AND m1 > 0 THEN m1 ELSE n1 END) = 1 AND unreliable THEN 'unknown_ctx'
       |       WHEN (CASE WHEN n1 > 1 AND m1 > 0 THEN m1 ELSE n1 END) = 1 THEN 'resolved'
       |       ELSE 'ambiguous' END AS status,
       |  CASE WHEN n_cand = 0 THEN NULL
       |       WHEN hint IS NOT NULL AND n_hint = 0 THEN NULL
       |       WHEN (CASE WHEN n1 > 1 AND m1 > 0 THEN m1 ELSE n1 END) = 1 AND unreliable THEN NULL
       |       WHEN (CASE WHEN n1 > 1 AND m1 > 0 THEN m1 ELSE n1 END) = 1 THEN id1
       |       END AS resolved_id,
       |  CAST(CASE WHEN n_cand = 0 THEN ${Disambiguation.ConfForeign}
       |       WHEN hint IS NOT NULL AND n_hint = 0 THEN ${Disambiguation.ConfUnknown}
       |       WHEN (CASE WHEN n1 > 1 AND m1 > 0 THEN m1 ELSE n1 END) = 1 AND unreliable THEN ${Disambiguation.ConfUnknown}
       |       WHEN (CASE WHEN n1 > 1 AND m1 > 0 THEN m1 ELSE n1 END) = 1 THEN ${Disambiguation.ConfResolved}
       |       ELSE ${Disambiguation.ConfAmbiguous} END AS BIGINT) AS confidence_milli
       |FROM flagged ORDER BY doc_id, pos""".stripMargin
  }

  val queries: Map[String, Q] = Map("q38_disambiguation" -> (disambiguation _))
  val oracles: Map[String, String] = Map("q38_disambiguation" -> disambiguationSql)
}
