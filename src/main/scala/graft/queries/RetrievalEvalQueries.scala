package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.functions.Hashing
import graft.functions.VectorFunctions.e6Sql
import graft.operators.{Curation, Similarity}

/** Retrieval/serving evaluation layer: classifier calibration (q205),
  * pseudo-relevance-feedback query expansion (q206) and graded ranking
  * metrics (q207). These complete the eval harnesses of layer E: q95
  * measures set recall of the trained-IVF search and q128 the LSH
  * band geometry; q205 asks whether a model's SCORES can be trusted as
  * probabilities (the gate before any score-thresholded selection),
  * q206 is the classic relevance-feedback loop every lexical retrieval
  * stack ships (RM3 — Lavrenko & Croft 2001), and q207 grades ranking
  * QUALITY (nDCG/MRR/precision) rather than set overlap.
  *
  * Exactness conventions: confidences use a rational squash (no
  * transcendental sigmoid), ranking discounts use the linear 1/(r+1)
  * form (no engine-variant log2), and every weighted sum rounds to e6
  * integers before summation — the same bit-reproducibility discipline
  * as q134's rational idf.
  */
object RetrievalEvalQueries extends QueryFamily {

  // shared oracle fragments (identical to CorpusOpsQueries)
  private val FoldSql =
    "lower(strip_accents(translate(text, '-‐‑‒–—―­', '       ')))"
  private val ToksSql = s"string_split_regex(trim($FoldSql), '\\s+')"

  // ---- q205: classifier score calibration (reliability + ECE) ----

  /** Rational confidence squash: conf_e6 = 1/2 + m/(2·(S+|m|)) at
    * e6 scale with S = 100000 milli — strictly inside (0, 1e6), no
    * transcendental, truncating division on both engines. */
  val ConfScaleMilli = 100000L

  /** q205: reliability diagram + expected calibration error of the
    * q133 linear quality classifier against the `lang = 'en'` label.
    * Scores map to confidences via the rational squash, bin into ten
    * fixed-width confidence buckets (deterministic and scale-free —
    * no quantile sort), and each bin compares mean confidence with
    * empirical accuracy; ECE is the n-weighted mean absolute gap.
    * Shape: classifier inference (broadcast model), one doc-keyed
    * label join, one bin aggregation — the corpus never sorts. */
  /** The binned (bin, n, n_pos, conf_sum) calibration table — shared
    * by the reliability diagram (q205) and the isotonic fit (q231). */
  private[queries] def calibBins(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Curation.textClassifier(docs, "text", "doc_id",
      CorpusOpsQueries.ClassifierBuckets)
      .join(docs.select(col("doc_id"), (col("lang") === "en").as("label")),
        Seq("doc_id"))
      .withColumn("conf_e6", expr(
        s"500000 + (milli_score * 500000) div ($ConfScaleMilli + abs(milli_score))"))
      .withColumn("bin", expr("conf_e6 div 100000"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"),
        sum(col("conf_e6")).as("conf_sum"))
  }

  def scoreCalibration(s: SparkSession, dir: String): DataFrame =
    calibBins(s, dir)
      .withColumn("conf_e6", expr("conf_sum div n"))
      .withColumn("acc_e6", expr("n_pos * 1000000 div n"))
      .withColumn("gap_e6", abs(col("acc_e6") - col("conf_e6")))
      .withColumn("ece_e6", expr("sum(n * gap_e6) over () div sum(n) over ()"))
      .select(col("bin"), col("n"), col("n_pos"), col("conf_e6"),
        col("acc_e6"), col("gap_e6"), col("ece_e6"))
      .orderBy(col("bin"))

  /** SQL twin of [[calibBins]] — the CTE chain ending in
    * `binned(bin, n, n_pos, conf_sum)`, shared by q205 and q231. */
  private[queries] val calibBinsCtes: String = {
    val wExpr = s"${Hashing.affineSql("CAST(range AS BIGINT)", 7)} % 2001 - 1000"
    val b = CorpusOpsQueries.ClassifierBuckets
    s"""toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |pos AS (SELECT doc_id, t, unnest(t) AS tok, generate_subscripts(t, 1) AS i FROM toks),
       |feats AS (SELECT doc_id, tok AS feat FROM pos
       |  UNION ALL
       |  SELECT doc_id, t[i] || ' ' || t[i+1] AS feat FROM pos WHERE i + 1 <= len(t)),
       |fb AS (SELECT doc_id, ${Hashing.polyHashSql("feat")} % $b AS bucket,
       |    COUNT(*) AS cnt
       |  FROM feats GROUP BY doc_id, ${Hashing.polyHashSql("feat")} % $b),
       |w AS (SELECT CAST(range AS BIGINT) AS bucket, CAST($wExpr AS BIGINT) AS w
       |  FROM range($b)),
       |sc AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_feats,
       |    CAST(SUM(cnt * w) AS BIGINT) AS score_sum
       |  FROM fb JOIN w USING (bucket) GROUP BY doc_id),
       |lab AS (SELECT sc.doc_id,
       |    (1000 * score_sum) // n_feats AS milli_score,
       |    d.lang = 'en' AS label
       |  FROM sc JOIN documents d ON sc.doc_id = d.doc_id),
       |conf AS (SELECT *,
       |    500000 + (milli_score * 500000) // ($ConfScaleMilli + abs(milli_score)) AS conf_e6
       |  FROM lab),
       |binned AS (SELECT conf_e6 // 100000 AS bin,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |    CAST(SUM(conf_e6) AS BIGINT) AS conf_sum
       |  FROM conf GROUP BY 1)""".stripMargin
  }

  val scoreCalibrationSql: String =
    s"""WITH $calibBinsCtes,
       |g AS (SELECT bin, n, n_pos,
       |    conf_sum // n AS conf_e6,
       |    n_pos * 1000000 // n AS acc_e6,
       |    abs(n_pos * 1000000 // n - conf_sum // n) AS gap_e6
       |  FROM binned)
       |SELECT bin, n, n_pos, conf_e6, acc_e6, gap_e6,
       |  CAST(SUM(n * gap_e6) OVER () AS BIGINT) // CAST(SUM(n) OVER () AS BIGINT) AS ece_e6
       |FROM g
       |ORDER BY bin""".stripMargin

  // ---- q206: pseudo-relevance-feedback query expansion (RM3-lite) ----

  val FbDocs = 3
  val FbTerms = 3

  /** Per-term BM25 score fragment over the tf/dfq/dl/norms aliases —
    * the exact expression of q134's oracle. */
  private def bm25ScoreSql: String =
    e6Sql("""(CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
       |      (CAST(n_docs AS DOUBLE) + 0.5) *
       |      ((CAST(tf AS DOUBLE) * 2.25) /
       |        (CAST(tf AS DOUBLE) + 1.25 *
       |          (0.25 + 0.75 * CAST(dl AS DOUBLE) /
       |            (CAST(total AS DOUBLE) / CAST(n_docs AS DOUBLE)))))""".stripMargin)

  /** q206: two-pass retrieval with pseudo-relevance feedback. Pass 1
    * ranks q134's query workload; the top-[[FbDocs]] documents per
    * query donate their heaviest non-query terms (by summed tf) as
    * [[FbTerms]] expansion terms, weighted 500000·fbw/max_fbw (e6;
    * original terms weigh 1e6 — the RM3 interpolation with rational
    * weights). Pass 2 re-scores with the weighted expanded query.
    *
    * Shape: the (doc, tok) tf table is STAGED ONCE and probed twice by
    * broadcast term joins (the inverted-index seek); the feedback-doc
    * term harvest joins the tf table against a broadcast 30-row doc
    * list. Nothing rescans or resorts the corpus between passes. */
  def prfExpansion(s: SparkSession, dir: String): DataFrame = {
    val qt = s.createDataFrame(CorpusOpsQueries.Bm25Queries)
      .toDF("query_id", "term")
    val (docTok, dfreq, dl, norms) =
      Curation.bm25Stats(Tables.documents(s, dir), "text", "doc_id")
    val fb = Curation.bm25Rank(docTok, dfreq, dl, norms, "doc_id", qt, FbDocs)
      .select(col("query_id"), col("doc_id"))
    val qtL = qt.select(col("query_id").cast("long").as("qid0"), col("term"))
    val cand = docTok.join(broadcast(fb), Seq("doc_id"))
      .groupBy(col("query_id"), col("tok"))
      .agg(sum(col("tf")).as("fbw"))
      .join(broadcast(qtL),
        col("query_id") === col("qid0") && col("tok") === col("term"),
        "left_anti")
    val sel = graft.plans.Plans.topKPerKeyRanked(cand, Seq(cand("query_id")),
      Seq((cand("fbw"), true), (cand("tok"), false)), FbTerms, "trnk")
      .withColumn("w_e6", expr(
        "500000 * fbw div max(fbw) over (partition by query_id)"))
      .select(col("query_id"), col("tok").as("term"), col("w_e6"))
    val terms = qt
      .select(col("query_id").cast("long").as("query_id"), col("term"),
        lit(1000000L).as("w_e6"))
      .unionByName(sel)
    val weighted = docTok
      .join(broadcast(terms), docTok("tok") === terms("term"))
      .join(dfreq, Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(norms))
      .select(col("query_id"), col("doc_id"), col("w_e6"),
        graft.functions.VectorFunctions.e6(
          (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
            (col("n_docs").cast("double") + lit(0.5)) *
          ((col("tf").cast("double") * lit(2.25)) /
            (col("tf").cast("double") + lit(1.25) *
              (lit(0.25) + lit(0.75) * col("dl").cast("double") /
                (col("total").cast("double") / col("n_docs").cast("double"))))))
          .as("score_e6"))
      .withColumn("ws", expr("(w_e6 * score_e6) div 1000000"))
    val perQd = weighted.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("ws")).as("wscore_e6"), count(lit(1)).as("n_terms_hit"))
    graft.plans.Plans.topKPerKeyRanked(perQd, Seq(perQd("query_id")),
      Seq((perQd("wscore_e6"), true), (perQd("doc_id"), false)),
      CorpusOpsQueries.Bm25TopK, "rnk")
      .select(col("query_id"), col("rnk").cast("long").as("rnk"),
        col("doc_id"), col("wscore_e6"), col("n_terms_hit"))
      .orderBy(col("query_id"), col("rnk"))
  }

  val prfExpansionSql: String = {
    val values = CorpusOpsQueries.Bm25Queries
      .map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |pos AS (SELECT doc_id, unnest(t) AS tok FROM toks),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM pos GROUP BY doc_id, tok),
       |dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
       |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
       |norms AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total FROM dl),
       |q(query_id, term) AS (VALUES $values),
       |base AS (SELECT q.query_id, tf.doc_id, $bm25ScoreSql AS score_e6
       |  FROM tf JOIN q ON tf.tok = q.term
       |  JOIN dfq USING (tok) JOIN dl USING (doc_id) CROSS JOIN norms),
       |bq AS (SELECT query_id, doc_id, CAST(SUM(score_e6) AS BIGINT) AS s
       |  FROM base GROUP BY query_id, doc_id),
       |fb AS (SELECT query_id, doc_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY s DESC, doc_id) AS rn FROM bq)
       |  WHERE rn <= $FbDocs),
       |cand AS (SELECT fb.query_id, tf.tok, CAST(SUM(tf.tf) AS BIGINT) AS fbw
       |  FROM tf JOIN fb ON tf.doc_id = fb.doc_id
       |  WHERE NOT EXISTS (SELECT 1 FROM q
       |    WHERE q.query_id = fb.query_id AND q.term = tf.tok)
       |  GROUP BY fb.query_id, tf.tok),
       |selr AS (SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY fbw DESC, tok) AS trn FROM cand)
       |  WHERE trn <= $FbTerms),
       |sel AS (SELECT query_id, tok AS term,
       |    500000 * fbw // MAX(fbw) OVER (PARTITION BY query_id) AS w_e6
       |  FROM selr),
       |terms AS (SELECT CAST(query_id AS BIGINT) AS query_id, term,
       |    CAST(1000000 AS BIGINT) AS w_e6 FROM q
       |  UNION ALL
       |  SELECT CAST(query_id AS BIGINT), term, CAST(w_e6 AS BIGINT) FROM sel),
       |wsc AS (SELECT t.query_id, tf.doc_id,
       |    (t.w_e6 * ($bm25ScoreSql)) // 1000000 AS ws
       |  FROM tf JOIN terms t ON tf.tok = t.term
       |  JOIN dfq USING (tok) JOIN dl USING (doc_id) CROSS JOIN norms),
       |fq AS (SELECT query_id, doc_id, CAST(SUM(ws) AS BIGINT) AS wscore_e6,
       |    COUNT(*) AS n_terms_hit
       |  FROM wsc GROUP BY query_id, doc_id)
       |SELECT query_id, CAST(rn AS BIGINT) AS rnk, doc_id, wscore_e6, n_terms_hit
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY wscore_e6 DESC, doc_id) AS rn FROM fq)
       |WHERE rn <= ${CorpusOpsQueries.Bm25TopK}
       |ORDER BY query_id, rnk""".stripMargin
  }

  // ---- q207: graded ranking metrics (nDCG / MRR / precision@k) ----

  val GtDepth = 20
  val SysK = 10

  /** q207: graded ranking evaluation of the trained-IVF search (q70's
    * system, q95's subject) against exact-cosine ground truth. Graded
    * relevance from the true ranking (top-3 → 3, top-10 → 2, top-20 →
    * 1); DCG uses the linear 1/(rank+1) discount so both engines
    * compute identical integers (the log2 discount is engine-variant;
    * linear preserves the same top-heavy ordering), nDCG normalizes by
    * the ideal prefix, MRR is 1e6/first-relevant-rank, precision@10
    * the relevant share. One row per query.
    *
    * Shape: ground truth is the broadcast-query brute-force scan,
    * the system the IVF probe — both bounded-heap ranked; metrics are
    * two tiny per-query aggregations joined on query id. */
  def ndcgEval(s: SparkSession, dir: String): DataFrame = {
    import SimilarityQueries.{QuerySetBound, KmeansK, KmeansIters, TrainedNprobe, Dim}
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val qs = emb.filter(col("vec_id") < QuerySetBound)
    val corpus = emb.filter(col("vec_id") >= QuerySetBound)
    val gt = Similarity.bruteForceTopK(qs, corpus, GtDepth)
      .select(col("q_vec_id"), col("vec_id"), col("rank").as("grank"))
      .withColumn("rel",
        when(col("grank") <= 3, 3L).when(col("grank") <= 10, 2L).otherwise(1L))
    val cents = Similarity.kmeansFit(emb, KmeansK, Dim, KmeansIters)._2
    val sys = Similarity.ivfTrainedTopK(qs, corpus, cents, TrainedNprobe, SysK)
      .select(col("q_vec_id"), col("vec_id"), col("rank").as("srank"))
    val sysRel = sys
      .join(gt.select(col("q_vec_id"), col("vec_id"), col("rel")),
        Seq("q_vec_id", "vec_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0L)))
    val sysAgg = sysRel.groupBy(col("q_vec_id"))
      .agg(
        count(lit(1)).as("n_sys"),
        sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_rel_found"),
        sum(expr("rel * 1000000 div (srank + 1)")).as("dcg_e6"),
        min(when(col("rel") > 0, col("srank"))).as("first_rel_rank"))
    val ideal = gt.filter(col("grank") <= SysK)
      .groupBy(col("q_vec_id"))
      // rel is monotone non-increasing in grank, so the true order IS
      // the ideal order and the ideal prefix is grank <= SysK
      .agg(sum(expr("rel * 1000000 div (grank + 1)")).as("idcg_e6"))
    ideal.join(sysAgg, Seq("q_vec_id"), "left")
      .select(col("q_vec_id"),
        coalesce(col("n_sys"), lit(0L)).as("n_sys"),
        coalesce(col("n_rel_found"), lit(0L)).as("n_rel_found"),
        coalesce(col("dcg_e6"), lit(0L)).as("dcg_e6"),
        col("idcg_e6"),
        expr("coalesce(dcg_e6, 0) * 1000000 div idcg_e6").as("ndcg_e6"),
        coalesce(expr("1000000 div first_rel_rank"), lit(0L)).as("mrr_e6"),
        expr(s"coalesce(n_rel_found, 0) * 1000000 div $SysK").as("prec_e6"))
      .orderBy(col("q_vec_id"))
  }

  val ndcgEvalSql: String = {
    import SimilarityQueries.{QuerySetBound, Dim}
    import graft.functions.VectorFunctions.{dotSql, normSql}
    val dotQC = dotSql("q_emb", "embedding", Dim)
    s"""WITH ${SimilarityQueries.trainedCentCtes},
       |${SimilarityQueries.trainedScoredCtes},
       |sys AS (SELECT q_vec_id, vec_id, CAST(rnk AS BIGINT) AS srank FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id
       |      ORDER BY cos_e6 DESC, vec_id) AS rnk
       |    FROM scored)
       |  WHERE rnk <= $SysK),
       |eq AS (SELECT vec_id AS q_vec_id, embedding AS q_emb, ${normSql("embedding", Dim)} AS q_norm
       |  FROM embeddings WHERE vec_id < $QuerySetBound),
       |ec AS (SELECT vec_id, embedding, ${normSql("embedding", Dim)} AS c_norm
       |  FROM embeddings WHERE vec_id >= $QuerySetBound),
       |escored AS (SELECT q_vec_id, vec_id,
       |    ${e6Sql(s"($dotQC) / (q_norm * c_norm)")} AS cos_e6
       |  FROM ec, eq),
       |gt AS (SELECT q_vec_id, vec_id, CAST(rnk AS BIGINT) AS grank,
       |    CASE WHEN rnk <= 3 THEN 3 WHEN rnk <= 10 THEN 2 ELSE 1 END AS rel
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id
       |      ORDER BY cos_e6 DESC, vec_id) AS rnk
       |    FROM escored)
       |  WHERE rnk <= $GtDepth),
       |sysrel AS (SELECT s.q_vec_id, s.srank, COALESCE(g.rel, 0) AS rel
       |  FROM sys s LEFT JOIN gt g ON s.q_vec_id = g.q_vec_id AND s.vec_id = g.vec_id),
       |sysagg AS (SELECT q_vec_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_sys,
       |    CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_found,
       |    CAST(SUM(rel * 1000000 // (srank + 1)) AS BIGINT) AS dcg_e6,
       |    MIN(CASE WHEN rel > 0 THEN srank END) AS first_rel_rank
       |  FROM sysrel GROUP BY q_vec_id),
       |ideal AS (SELECT q_vec_id,
       |    CAST(SUM(rel * 1000000 // (grank + 1)) AS BIGINT) AS idcg_e6
       |  FROM gt WHERE grank <= $SysK GROUP BY q_vec_id)
       |SELECT i.q_vec_id,
       |  COALESCE(s.n_sys, 0) AS n_sys,
       |  COALESCE(s.n_rel_found, 0) AS n_rel_found,
       |  COALESCE(s.dcg_e6, 0) AS dcg_e6,
       |  i.idcg_e6,
       |  COALESCE(s.dcg_e6, 0) * 1000000 // i.idcg_e6 AS ndcg_e6,
       |  COALESCE(1000000 // s.first_rel_rank, 0) AS mrr_e6,
       |  COALESCE(s.n_rel_found, 0) * 1000000 // $SysK AS prec_e6
       |FROM ideal i LEFT JOIN sysagg s ON i.q_vec_id = s.q_vec_id
       |ORDER BY i.q_vec_id""".stripMargin
  }

  // ---- q231: isotonic calibration (pool adjacent violators) ----

  /** q231: isotonic regression over the q205 calibration bins — the
    * pool-adjacent-violators fit (Ayer et al. 1955) that turns a
    * miscalibrated score into the best monotone probability map: scan
    * bins in confidence order, merge any block whose rate DROPS below
    * its predecessor's (violation tests are exact integer
    * cross-multiplications), report each bin's calibrated rate = its
    * final block's pooled rate. q205 MEASURES miscalibration; q231
    * FIXES it — the standard post-hoc calibration pass.
    *
    * Shape: the corpus-scale work is the shared binning (one inference
    * pass + one hash agg); PAV runs on the 10-row bin dim — a bounded
    * model computation (the q211 stationary-distribution precedent),
    * broadcast-joined back. The oracle replays the same stack machine
    * as a recursive CTE over list state. */
  def isotonicFit(s: SparkSession, dir: String): DataFrame = {
    val bins = graft.operators.Dedup.stage(calibBins(s, dir))
    val sorted = bins.select(col("bin"), col("n"), col("n_pos")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // PAV stack: (pos, n, nbins)
    val stack = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    sorted.foreach { case (_, n, pos) =>
      stack += ((pos, n, 1L))
      while (stack.size >= 2 &&
        stack(stack.size - 2)._1 * stack.last._2 >
          stack.last._1 * stack(stack.size - 2)._2) {
        val b = stack.remove(stack.size - 1)
        val a = stack.remove(stack.size - 1)
        stack += ((a._1 + b._1, a._2 + b._2, a._3 + b._3))
      }
    }
    val assign = Seq.newBuilder[(Long, Long, Long, Long)] // bin, block_id, bpos, bn
    var idx = 0
    stack.zipWithIndex.foreach { case ((bpos, bn, bcnt), blk) =>
      (0L until bcnt).foreach { _ =>
        assign += ((sorted(idx)._1, blk + 1L, bpos, bn)); idx += 1
      }
    }
    val fit = s.createDataFrame(assign.result())
      .toDF("bin", "block_id", "block_pos", "block_n")
    bins.join(broadcast(fit), Seq("bin"))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("n_pos * 1000000 div n").as("raw_rate_e6"),
        col("block_id"), col("block_n"),
        expr("block_pos * 1000000 div block_n").as("iso_rate_e6"))
      .orderBy(col("bin"))
  }

  val isotonicFitSql: String = {
    val viol = "len(p.pos) >= 2 AND p.pos[-2] * p.ns[-1] > p.pos[-1] * p.ns[-2]"
    s"""WITH RECURSIVE $calibBinsCtes,
       |rb AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY bin) AS BIGINT) AS i,
       |    bin, n, n_pos FROM binned),
       |pav AS (
       |  SELECT CAST(1 AS BIGINT) AS i, CAST(0 AS BIGINT) AS step,
       |    [(SELECT n_pos FROM rb WHERE i = 1)] AS pos,
       |    [(SELECT n FROM rb WHERE i = 1)] AS ns,
       |    [CAST(1 AS BIGINT)] AS cnt
       |  UNION ALL
       |  SELECT
       |    CASE WHEN $viol THEN p.i ELSE p.i + 1 END,
       |    p.step + 1,
       |    CASE WHEN $viol
       |      THEN list_append(list_slice(p.pos, 1, len(p.pos) - 2), p.pos[-2] + p.pos[-1])
       |      ELSE list_append(p.pos, (SELECT n_pos FROM rb WHERE rb.i = p.i + 1)) END,
       |    CASE WHEN $viol
       |      THEN list_append(list_slice(p.ns, 1, len(p.ns) - 2), p.ns[-2] + p.ns[-1])
       |      ELSE list_append(p.ns, (SELECT n FROM rb WHERE rb.i = p.i + 1)) END,
       |    CASE WHEN $viol
       |      THEN list_append(list_slice(p.cnt, 1, len(p.cnt) - 2), p.cnt[-2] + p.cnt[-1])
       |      ELSE list_append(p.cnt, CAST(1 AS BIGINT)) END
       |  FROM pav p
       |  WHERE ($viol) OR p.i < (SELECT COUNT(*) FROM rb)),
       |fin AS (SELECT pos, ns, cnt FROM pav ORDER BY step DESC LIMIT 1),
       |blocks AS (SELECT CAST(b.k AS BIGINT) AS block_id,
       |    f.pos[CAST(b.k AS INT)] AS bpos,
       |    f.ns[CAST(b.k AS INT)] AS bn,
       |    f.cnt[CAST(b.k AS INT)] AS bcnt,
       |    COALESCE(list_sum(list_slice(f.cnt, 1, CAST(b.k AS INT) - 1)), 0) AS start0
       |  FROM fin f CROSS JOIN UNNEST(range(1, len(f.pos) + 1)) AS b(k))
       |SELECT rb.bin, rb.n, rb.n_pos,
       |  rb.n_pos * 1000000 // rb.n AS raw_rate_e6,
       |  bl.block_id, bl.bn AS block_n,
       |  bl.bpos * 1000000 // bl.bn AS iso_rate_e6
       |FROM rb JOIN blocks bl ON rb.i > bl.start0 AND rb.i <= bl.start0 + bl.bcnt
       |ORDER BY rb.bin""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q205_score_calibration" -> (scoreCalibration _),
    "q231_isotonic_fit" -> (isotonicFit _),
    "q206_prf_expansion" -> (prfExpansion _),
    "q207_ndcg_eval" -> (ndcgEval _))

  val oracles: Map[String, String] = Map(
    "q205_score_calibration" -> scoreCalibrationSql,
    "q231_isotonic_fit" -> isotonicFitSql,
    "q206_prf_expansion" -> prfExpansionSql,
    "q207_ndcg_eval" -> ndcgEvalSql)
}
