package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.functions.GraftFunctions.tokenShingles
import graft.functions.TextFunctions.{fold, tokens}
import graft.operators.{Curation, Similarity}
import graft.plans.Plans

/** Corpus-level measurement operators a pretraining pipeline runs
  * before freezing a data mix, extending SURVEY.md §2 layers D′/E:
  * n-gram-level benchmark decontamination (q151 — the gram-overlap
  * standard that exact-match q73 doesn't cover), Heaps-law vocabulary
  * growth over ingest-order prefixes (q153 — the datasheet curve that
  * says whether a corpus is still contributing new types), and
  * single-pass embedding-space anisotropy statistics (q154 — the
  * collapse diagnostic run before trusting cosine retrieval over an
  * embedding column).
  */
object CorpusStatsQueries extends QueryFamily {

  // shared oracle fragments (folded whitespace tokens, as DedupQueries)
  private val FoldSql =
    "lower(strip_accents(translate(text, '-‐‑‒–—―­', '       ')))"
  private val ToksSql = s"string_split_regex(trim($FoldSql), '\\s+')"
  private def e6Sql(e: String) = s"CAST(ROUND(($e) * 1000000.0) AS BIGINT)"
  private def e6Col(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(c * lit(1000000.0)).cast("long")

  // ---- q151: n-gram benchmark decontamination ------------------------

  val ContamGramK = 8
  val ContamBenchMod = 41
  val ContamFracE6 = 500000L

  /** q151: n-gram-level benchmark decontamination — the gram-overlap
    * test (the GPT-3 appendix-C / PaLM recipe, 8-gram grain here as
    * q147) that catches PARTIAL eval leakage where the exact-match
    * decontamination of q73 sees nothing. Docs with
    * `doc_id % 41 == 0` stand in for the held-out benchmark suite;
    * every remaining training doc reports how many of its distinct
    * 8-grams also occur anywhere in the suite, the e6 overlap
    * fraction, and a verdict tier (`short` / `clean` / `flagged` /
    * `contaminated` at 50%).
    *
    * Scale shape: ONE corpus scan builds the distinct (doc, gram)
    * table (shuffle keyed on the gram — partial-agg friendly); the
    * benchmark gram set is `broadcast()` because an eval suite is
    * fixed dim-sized in production (it does NOT grow with the
    * corpus — if it ever did, dropping the hint lets AQE pick the
    * shuffle join); the per-doc rollup is a hash agg on doc_id. No
    * windows, nothing quadratic. */
  def ngramContamination(s: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(tokenShingles(tokens(fold(col("text"))), ContamGramK)).as("gram"))
      .distinct()
    val bench = grams.filter(pmod(col("doc_id"), lit(ContamBenchMod)) === 0)
      .select(col("gram")).distinct().withColumn("bhit", lit(1L))
    val perDoc = grams.filter(pmod(col("doc_id"), lit(ContamBenchMod)) =!= 0)
      .join(broadcast(bench), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("bhit"), lit(0L))).as("n_hit"))
    Tables.documents(s, dir)
      .filter(pmod(col("doc_id"), lit(ContamBenchMod)) =!= 0)
      .select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("hit_frac_e6",
        when(col("n_grams") > 0,
          e6Col(col("n_hit").cast("double") / col("n_grams").cast("double")))
          .otherwise(lit(0L)))
      .withColumn("verdict",
        when(col("n_grams") === 0, "short")
          .when(col("n_hit") === 0, "clean")
          .when(col("hit_frac_e6") >= ContamFracE6, "contaminated")
          .otherwise("flagged"))
      .orderBy(col("doc_id"))
  }

  val ngramContaminationSql: String = {
    val gram = (0 until ContamGramK).map(j => s"t[i+$j]").mkString(" || ' ' || ")
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |occ AS (SELECT DISTINCT doc_id, $gram AS gram
       |  FROM (SELECT doc_id, t, generate_subscripts(t, 1) AS i FROM toks)
       |  WHERE i + ${ContamGramK - 1} <= len(t)),
       |bench AS (SELECT DISTINCT gram FROM occ WHERE doc_id % $ContamBenchMod = 0),
       |pd AS (SELECT o.doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_grams,
       |    CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
       |  FROM occ o LEFT JOIN bench b ON o.gram = b.gram
       |  WHERE o.doc_id % $ContamBenchMod <> 0
       |  GROUP BY o.doc_id),
       |base AS (SELECT d.doc_id,
       |    COALESCE(pd.n_grams, 0) AS n_grams,
       |    COALESCE(pd.n_hit, 0) AS n_hit
       |  FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
       |  WHERE d.doc_id % $ContamBenchMod <> 0)
       |SELECT doc_id, n_grams, n_hit,
       |  CASE WHEN n_grams > 0
       |    THEN ${e6Sql("CAST(n_hit AS DOUBLE) / CAST(n_grams AS DOUBLE)")}
       |    ELSE 0 END AS hit_frac_e6,
       |  CASE WHEN n_grams = 0 THEN 'short'
       |       WHEN n_hit = 0 THEN 'clean'
       |       WHEN ${e6Sql("CAST(n_hit AS DOUBLE) / CAST(n_grams AS DOUBLE)")} >= $ContamFracE6
       |         THEN 'contaminated'
       |       ELSE 'flagged' END AS verdict
       |FROM base ORDER BY doc_id""".stripMargin
  }

  // ---- q153: Heaps-law vocabulary growth -----------------------------

  val GrowthSteps = 16

  /** q153: vocabulary-growth (Heaps-law) curve over ingest-order
    * prefixes — the datasheet statistic that says whether more of the
    * same corpus still buys new vocabulary. The doc_id range splits
    * into 16 equal-width checkpoints; each reports the CUMULATIVE doc,
    * token and distinct-type counts of its prefix, the type-token
    * ratio, and the step-over-step vocabulary and token growth ratios
    * (e6). Growth is reported as ratios, not a fitted Heaps β: β needs
    * `ln`, whose last-ulp behavior is libm-specific, while integer
    * ratios divide exactly the same in every IEEE engine.
    *
    * Scale shape: each doc (and each distinct type, via its
    * first-occurrence doc = `min(doc_id)`) lands in exactly ONE
    * checkpoint bucket — O(N) with no 16x fan-out join — and the
    * cumulative pass is a window over the 16-row checkpoint table
    * (dim-sized by construction). One corpus scan for doc lengths,
    * one token-keyed agg for first occurrences. */
  def vocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), size(tokens(fold(col("text")))).cast("long").as("n_toks"))
    val bounds = docs.agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .withColumn("span", col("mx") - col("mn") + 1)
    // step of a doc id: smallest k with id <= mn-1 + floor(span*k/16),
    // i.e. ceil(16*(id-mn+1)/span) — pure integer math.
    def stepOf(idName: String) =
      expr(s"(($idName - mn + 1) * $GrowthSteps + span - 1) div span")
    val dstats = docs.crossJoin(broadcast(bounds))
      .withColumn("step", stepOf("doc_id"))
      .groupBy(col("step"))
      .agg(count(lit(1)).as("d"), sum(col("n_toks")).as("t"))
    val firsts = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(fold(col("text")))).as("tok"))
      .groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
    val vstats = firsts.crossJoin(broadcast(bounds))
      .withColumn("step", stepOf("first_doc"))
      .groupBy(col("step")).agg(count(lit(1)).as("v"))
    val base = bounds
      .select(col("mn"), col("span"),
        explode(sequence(lit(1L), lit(GrowthSteps.toLong))).as("step"))
      .withColumn("doc_threshold",
        col("mn") - 1 + expr(s"(span * step) div $GrowthSteps"))
      .select(col("step"), col("doc_threshold"))
    // 16-row checkpoint table: the single-partition window is dim-sized.
    val w = Window.orderBy(col("step")).rowsBetween(Window.unboundedPreceding, 0)
    val lagW = Window.orderBy(col("step"))
    base
      .join(dstats, Seq("step"), "left")
      .join(vstats, Seq("step"), "left")
      .select(col("step"), col("doc_threshold"),
        coalesce(col("d"), lit(0L)).as("d"),
        coalesce(col("t"), lit(0L)).as("t"),
        coalesce(col("v"), lit(0L)).as("v"))
      .withColumn("n_docs", sum(col("d")).over(w))
      .withColumn("n_tokens", sum(col("t")).over(w))
      .withColumn("vocab", sum(col("v")).over(w))
      .withColumn("ttr_e6",
        when(col("n_tokens") > 0,
          e6Col(col("vocab").cast("double") / col("n_tokens").cast("double")))
          .otherwise(lit(0L)))
      .withColumn("pv", lag(col("vocab"), 1).over(lagW))
      .withColumn("pt", lag(col("n_tokens"), 1).over(lagW))
      .withColumn("vocab_ratio_e6",
        when(col("pv") > 0,
          e6Col(col("vocab").cast("double") / col("pv").cast("double"))))
      .withColumn("token_ratio_e6",
        when(col("pt") > 0,
          e6Col(col("n_tokens").cast("double") / col("pt").cast("double"))))
      .select(col("step"), col("doc_threshold"), col("n_docs"),
        col("n_tokens"), col("vocab"), col("ttr_e6"),
        col("vocab_ratio_e6"), col("token_ratio_e6"))
      .orderBy(col("step"))
  }

  val vocabGrowthSql: String =
    s"""WITH docs AS (SELECT doc_id, CAST(len($ToksSql) AS BIGINT) AS n_toks FROM documents),
       |b AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx,
       |    MAX(doc_id) - MIN(doc_id) + 1 AS span FROM docs),
       |ds AS (SELECT ((doc_id - mn + 1) * $GrowthSteps + span - 1) // span AS step,
       |    CAST(COUNT(*) AS BIGINT) AS d, CAST(SUM(n_toks) AS BIGINT) AS t
       |  FROM docs CROSS JOIN b GROUP BY 1),
       |firsts AS (SELECT tok, MIN(doc_id) AS first_doc FROM
       |    (SELECT doc_id, unnest($ToksSql) AS tok FROM documents)
       |  GROUP BY tok),
       |vs AS (SELECT ((first_doc - mn + 1) * $GrowthSteps + span - 1) // span AS step,
       |    CAST(COUNT(*) AS BIGINT) AS v
       |  FROM firsts CROSS JOIN b GROUP BY 1),
       |base AS (SELECT CAST(step AS BIGINT) AS step,
       |    mn - 1 + (span * step) // $GrowthSteps AS doc_threshold
       |  FROM b CROSS JOIN (SELECT unnest(range(1, ${GrowthSteps + 1})) AS step)),
       |j AS (SELECT base.step, base.doc_threshold,
       |    COALESCE(ds.d, 0) AS d, COALESCE(ds.t, 0) AS t, COALESCE(vs.v, 0) AS v
       |  FROM base LEFT JOIN ds ON base.step = ds.step
       |            LEFT JOIN vs ON base.step = vs.step),
       |cum AS (SELECT step, doc_threshold,
       |    SUM(d) OVER (ORDER BY step) AS n_docs,
       |    SUM(t) OVER (ORDER BY step) AS n_tokens,
       |    SUM(v) OVER (ORDER BY step) AS vocab
       |  FROM j),
       |c AS (SELECT *,
       |    LAG(vocab) OVER (ORDER BY step) AS pv,
       |    LAG(n_tokens) OVER (ORDER BY step) AS pt
       |  FROM cum)
       |SELECT step, doc_threshold,
       |  CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(vocab AS BIGINT) AS vocab,
       |  CASE WHEN n_tokens > 0
       |    THEN ${e6Sql("CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE)")}
       |    ELSE 0 END AS ttr_e6,
       |  CASE WHEN pv > 0
       |    THEN ${e6Sql("CAST(vocab AS DOUBLE) / CAST(pv AS DOUBLE)")} END AS vocab_ratio_e6,
       |  CASE WHEN pt > 0
       |    THEN ${e6Sql("CAST(n_tokens AS DOUBLE) / CAST(pt AS DOUBLE)")} END AS token_ratio_e6
       |FROM c ORDER BY step""".stripMargin

  // ---- q154: embedding-space anisotropy statistics -------------------

  /** q154: per-label embedding-space statistics in ONE pass — the
    * anisotropy / collapse diagnostic (Ethayarajh 2019's "how isotropic
    * are the vectors" check) a pipeline runs before trusting cosine
    * retrieval: RMS vector norm, the norm of the MEAN vector, their
    * squared ratio ||mu||^2 / E||x||^2 (the expected cosine of two
    * random vectors — 0 for isotropic, 1 for collapsed), and the
    * covariance trace E||x||^2 - ||mu||^2.
    *
    * Determinism: elements go through the micro-int conversion
    * (`Similarity.microVec`, e6 HALF_UP) so every per-dimension sum
    * and sum-of-squares is exact integer arithmetic (decimal(38,0)
    * against DuckDB HUGEINT for the squares); the only floating math
    * is IEEE-exact division/sqrt of those integers plus one
    * dimension-ORDERED left fold per label (the VectorFunctions
    * list_reduce contract), so both engines produce bit-identical
    * doubles.
    *
    * Scale shape: posexplode to (label, dim) partial hash aggs — one
    * scan, map-side combine, output bounded by labels x 64 dims; the
    * per-label fold runs on label-count rows (dim-sized). */
  def embedAnisotropy(s: SparkSession, dir: String): DataFrame = {
    val byDim = Tables.embeddings(s, dir)
      .select(col("label"), posexplode(Similarity.microVec(col("embedding")))
        .as(Seq("pos", "m")))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(col("m")).as("s"),
        sum((col("m") * col("m")).cast("decimal(38,0)")).as("ss"))
    byDim
      .groupBy(col("label"))
      .agg(max(col("n")).as("n_vecs"),
        (max(col("pos")) + 1).cast("long").as("n_dims"),
        sum(col("ss")).as("ss_tot"),
        array_sort(collect_list(struct(col("pos"),
          (col("s").cast("double") / (col("n").cast("double") * lit(1000000.0)))
            .as("mean")))).as("means"))
      // msq = E||x||^2 ; musq = ||mu||^2 via the pos-ordered left fold
      .withColumn("msq", col("ss_tot").cast("double") /
        (col("n_vecs").cast("double") * lit(1.0e12)))
      .withColumn("musq",
        aggregate(transform(col("means"), x => x.getField("mean") * x.getField("mean")),
          lit(0.0), (acc, x) => acc + x))
      .select(col("label"), col("n_vecs"), col("n_dims"),
        e6Col(sqrt(col("msq"))).as("rms_norm_e6"),
        e6Col(sqrt(col("musq"))).as("mu_norm_e6"),
        e6Col(col("musq") / col("msq")).as("aniso_e6"),
        e6Col(col("msq") - col("musq")).as("trace_var_e6"))
      .orderBy(col("label"))
  }

  val embedAnisotropySql: String =
    s"""WITH m AS (SELECT label,
       |    list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS m
       |  FROM embeddings),
       |el AS (SELECT label, i - 1 AS pos, m[i] AS v
       |  FROM (SELECT label, m, generate_subscripts(m, 1) AS i FROM m)),
       |bd AS (SELECT label, pos,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(v) AS BIGINT) AS s,
       |    SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS ss
       |  FROM el GROUP BY label, pos),
       |lab AS (SELECT label,
       |    MAX(n) AS n_vecs,
       |    CAST(MAX(pos) + 1 AS BIGINT) AS n_dims,
       |    CAST(SUM(ss) AS DOUBLE) / (CAST(MAX(n) AS DOUBLE) * 1e12) AS msq,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
       |                          ORDER BY pos), x -> x * x)),
       |      (a, b) -> a + b) AS musq
       |  FROM bd GROUP BY label)
       |SELECT label, n_vecs, n_dims,
       |  ${e6Sql("sqrt(msq)")} AS rms_norm_e6,
       |  ${e6Sql("sqrt(musq)")} AS mu_norm_e6,
       |  ${e6Sql("musq / msq")} AS aniso_e6,
       |  ${e6Sql("msq - musq")} AS trace_var_e6
       |FROM lab ORDER BY label""".stripMargin

  // ---- q160: contamination operating curve over gram sizes -----------

  val SweepGramSizes: Seq[Int] = Seq(5, 8, 13)

  /** q160: the decontamination OPERATING CURVE — q151's gram-overlap
    * check swept over the gram sizes the published recipes actually
    * use (5 ~ aggressive, 8 ~ q147's grain, 13 ~ GPT-3/PaLM): per
    * size, how many training docs have any gram (are testable), how many
    * are clean / flagged / contaminated at 50%, and the corpus-level
    * hit mass (Σ hits / Σ grams, e6). Shorter grams flag more — this
    * is the curve a pipeline reads to pick its grain before a
    * full-corpus decontamination run.
    *
    * Scale shape: ONE corpus tokenize staged and reused (the corpus
    * is not re-read per size); per size a map-side shingle projection
    * feeds the q151 join shape (distinct gram agg + broadcast bench
    * set + doc rollup); output is 3 rows. */
  def contaminationSweep(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.operators.Dedup.stage(
      Tables.documents(s, dir)
        .select(col("doc_id"), tokens(fold(col("text"))).as("toks")))
    val perSize = SweepGramSizes.map { n =>
      val grams = toks
        .select(col("doc_id"), explode(tokenShingles(col("toks"), n)).as("gram"))
        .distinct()
      val bench = grams.filter(pmod(col("doc_id"), lit(ContamBenchMod)) === 0)
        .select(col("gram")).distinct().withColumn("bhit", lit(1L))
      grams.filter(pmod(col("doc_id"), lit(ContamBenchMod)) =!= 0)
        .join(broadcast(bench), Seq("gram"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("bhit"), lit(0L))).as("n_hit"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_hit") === 0, 1L).otherwise(0L)).as("n_clean"),
          sum(when(col("n_hit") > 0 &&
            col("n_hit") * 2 < col("n_grams"), 1L).otherwise(0L)).as("n_flagged"),
          sum(when(col("n_hit") * 2 >= col("n_grams"), 1L).otherwise(0L))
            .as("n_contaminated"),
          sum(col("n_hit")).as("hits"), sum(col("n_grams")).as("grams"))
        .select(lit(n.toLong).as("gram_n"), col("n_docs"), col("n_clean"),
          col("n_flagged"), col("n_contaminated"),
          e6Col(col("hits").cast("double") / col("grams").cast("double"))
            .as("corpus_hit_e6"))
    }
    perSize.reduce(_.unionByName(_)).orderBy(col("gram_n"))
  }

  val contaminationSweepSql: String = {
    def chain(n: Int): String = {
      val gram = (0 until n).map(j => s"t[i+$j]").mkString(" || ' ' || ")
      s"""SELECT CAST($n AS BIGINT) AS gram_n,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN n_hit = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
         |  CAST(SUM(CASE WHEN n_hit > 0 AND n_hit * 2 < n_grams THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
         |  CAST(SUM(CASE WHEN n_hit * 2 >= n_grams THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
         |  ${e6Sql("CAST(SUM(n_hit) AS DOUBLE) / CAST(SUM(n_grams) AS DOUBLE)")} AS corpus_hit_e6
         |FROM (
         |  SELECT o.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         |    CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         |  FROM (SELECT DISTINCT doc_id, $gram AS gram
         |        FROM (SELECT doc_id, t, generate_subscripts(t, 1) AS i FROM toks)
         |        WHERE i + ${n - 1} <= len(t)) o
         |  LEFT JOIN (SELECT DISTINCT gram FROM
         |        (SELECT DISTINCT doc_id, $gram AS gram
         |         FROM (SELECT doc_id, t, generate_subscripts(t, 1) AS i FROM toks)
         |         WHERE i + ${n - 1} <= len(t)) bg
         |        WHERE bg.doc_id % $ContamBenchMod = 0) b ON o.gram = b.gram
         |  WHERE o.doc_id % $ContamBenchMod <> 0
         |  GROUP BY o.doc_id)""".stripMargin
    }
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents)
       |${SweepGramSizes.map(chain).mkString("\nUNION ALL\n")}
       |ORDER BY gram_n""".stripMargin
  }

  // ---- q157: quality-filter agreement matrix -------------------------

  /** q157: agreement matrix of the three quality-filter families —
    * rule-based (q78's repetition thresholds), model-based (q133's
    * hashed linear classifier) and LM-based (q127's surprisal tail) —
    * the calibration diagnostic a pipeline runs before composing
    * filters: the 2x2x2 contingency table of keep verdicts with each
    * cell's share. Cells where the signals disagree are exactly the
    * review queue (a filter that only echoes the others adds nothing;
    * one that contradicts them on half the corpus is miscalibrated).
    *
    * Scale shape: three INDEPENDENT one-scan doc-keyed aggregates
    * (each already plan-audited in its own query) joined
    * co-partitioned on doc_id, collapsed by one 8-row hash agg; the
    * share denominator is a window over those 8 rows (dim-sized by
    * construction). */
  def filterAgreement(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val rules = graft.operators.Curation.repetitionStats(docs, "text", "doc_id")
      .select(col("doc_id"),
        (col("n_tokens") >= CurationQueries.MinTokens &&
          col("dup_token_e6") < CurationQueries.MaxDupE6 &&
          col("top_bigram_e6") < CurationQueries.MaxBigramE6 &&
          col("top_token_e6") < CurationQueries.MaxTokenE6).as("rules_keep"))
    val clf = graft.operators.Curation.textClassifier(docs, "text", "doc_id",
      CorpusOpsQueries.ClassifierBuckets)
      .select(col("doc_id"), (col("score_sum") >= 0).as("clf_keep"))
    val lm = Curation.unigramSurprisal(Curation.termCounts(docs, "text", "doc_id"), "doc_id")
      .select(col("doc_id"),
        (col("milli_bits_per_token") < CorpusOpsQueries.MiddleMaxMilli).as("lm_keep"))
    val cells = rules.join(clf, Seq("doc_id")).join(lm, Seq("doc_id"))
      .groupBy(col("rules_keep"), col("clf_keep"), col("lm_keep"))
      .agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy()
    cells
      .withColumn("share_e6",
        e6Col(col("n_docs").cast("double") / sum(col("n_docs")).over(w).cast("double")))
      .orderBy(col("rules_keep").desc, col("clf_keep").desc, col("lm_keep").desc)
  }

  val filterAgreementSql: String = {
    import graft.functions.Hashing
    val wExpr = s"${Hashing.affineSql("CAST(range AS BIGINT)", 7)} % 2001 - 1000"
    val buckets = CorpusOpsQueries.ClassifierBuckets
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |pos AS (SELECT doc_id, t, unnest(t) AS tok, generate_subscripts(t, 1) AS i FROM toks),
       |tokc AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM pos GROUP BY doc_id, tok),
       |toka AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       |    COUNT(*) AS n_distinct_tokens, MAX(cnt) AS top_tok_cnt
       |  FROM tokc GROUP BY doc_id),
       |bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS b FROM pos WHERE i + 1 <= len(t)),
       |bgc AS (SELECT doc_id, b, COUNT(*) AS cnt FROM bg GROUP BY doc_id, b),
       |bga AS (SELECT doc_id, MAX(cnt) AS top_bg_cnt FROM bgc GROUP BY doc_id),
       |rv AS (SELECT toka.doc_id,
       |    n_tokens >= ${CurationQueries.MinTokens}
       |    AND ${e6Sql("CAST(n_tokens - n_distinct_tokens AS DOUBLE) / n_tokens")} < ${CurationQueries.MaxDupE6}
       |    AND ${e6Sql("CAST(COALESCE(top_bg_cnt, 0) AS DOUBLE) / GREATEST(n_tokens - 1, 1)")} < ${CurationQueries.MaxBigramE6}
       |    AND ${e6Sql("CAST(top_tok_cnt AS DOUBLE) / n_tokens")} < ${CurationQueries.MaxTokenE6}
       |    AS rules_keep
       |  FROM toka LEFT JOIN bga ON toka.doc_id = bga.doc_id),
       |feats AS (SELECT doc_id, tok AS feat FROM pos
       |  UNION ALL
       |  SELECT doc_id, t[i] || ' ' || t[i+1] AS feat FROM pos WHERE i + 1 <= len(t)),
       |fb AS (SELECT doc_id, ${Hashing.polyHashSql("feat")} % $buckets AS bucket,
       |    COUNT(*) AS cnt
       |  FROM feats GROUP BY doc_id, ${Hashing.polyHashSql("feat")} % $buckets),
       |wt AS (SELECT CAST(range AS BIGINT) AS bucket, CAST($wExpr AS BIGINT) AS w
       |  FROM range($buckets)),
       |cv AS (SELECT doc_id, CAST(SUM(cnt * w) AS BIGINT) >= 0 AS clf_keep
       |  FROM fb JOIN wt USING (bucket) GROUP BY doc_id),
       |tokg AS (SELECT tok, CAST(SUM(cnt) AS BIGINT) AS gcnt FROM tokc GROUP BY tok),
       |nt AS (SELECT CAST(SUM(gcnt) AS BIGINT) AS n_total FROM tokg),
       |bits AS (SELECT tok,
       |    CAST(length(bin(n_total)) - length(bin(gcnt)) AS BIGINT) AS bits
       |  FROM tokg CROSS JOIN nt),
       |lv AS (SELECT doc_id,
       |    (1000 * CAST(SUM(cnt * bits) AS BIGINT)) // CAST(SUM(cnt) AS BIGINT)
       |      < ${CorpusOpsQueries.MiddleMaxMilli} AS lm_keep
       |  FROM tokc JOIN bits USING (tok) GROUP BY doc_id),
       |cells AS (SELECT rules_keep, clf_keep, lm_keep,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM rv JOIN cv USING (doc_id) JOIN lv USING (doc_id)
       |  GROUP BY rules_keep, clf_keep, lm_keep),
       |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM cells)
       |SELECT rules_keep, clf_keep, lm_keep, n_docs,
       |  ${e6Sql("CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE)")} AS share_e6
       |FROM cells CROSS JOIN tot
       |ORDER BY rules_keep DESC, clf_keep DESC, lm_keep DESC""".stripMargin
  }

  // ---- q187: char-bigram entropy (compressibility proxy) -------------

  /** q187: per-document character-bigram Shannon-entropy surrogate —
    * the compressibility signal gzip-filtering pipelines threshold on
    * (low entropy = machine-generated boilerplate / repetition;
    * abnormally high = encoded junk). The entropy uses the engine-exact
    * floor-log2 trick throughout (q127's `length(bin(x))` — no
    * transcendental ln in any compared value): each bigram contributes
    * `count * (len(bin(T)) - len(bin(count)))` bits, normalized to
    * milli-bits per bigram. A doc is flagged `low_entropy` below the
    * integer corpus mean.
    *
    * Scale shape: bigram extraction is map-side position math; one
    * (doc, bigram) hash agg + a doc-keyed rollup; the corpus mean is a
    * 1-row broadcast. Nothing corpus-wide sorts or windows. */
  def charEntropy(s: SparkSession, dir: String): DataFrame = {
    // r16 spread the scan head; r17 reverted it on the driver's data
    // (q187 +2.90 s vs r15 at 32 cores, 8-vs-32 scaling ratio 0.17 —
    // the worst spread outcome fleet-wide, outweighing q191's −0.36)
    val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .select(col("doc_id"), fold(col("text")).as("s"))
      .withColumn("len", length(col("s")).cast("long"))
      .filter(col("len") >= 2)
    // one O(len) char split per doc, then O(1) array reads — the naive
    // substring(s, i, 2) per position re-scans the UTF8 string from the
    // start each call (O(len²) per doc)
    val bg = base
      .withColumn("cs", split(col("s"), "(?!^)(?=.)"))
      .select(col("doc_id"), col("len"),
        explode(sequence(lit(1), (col("len") - 1).cast("int"))).as("i"),
        col("cs"))
      .select(col("doc_id"), col("len"),
        concat(element_at(col("cs"), col("i")),
          element_at(col("cs"), col("i") + 1)).as("bg"))
      .groupBy(col("doc_id"), col("len"), col("bg"))
      .agg(count(lit(1)).as("c"))
    val perDoc = graft.operators.Dedup.stage(bg
      .groupBy(col("doc_id"))
      .agg(max(col("len") - 1).as("n_bigrams"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * (length(bin(col("len") - 1)) - length(bin(col("c")))).cast("long"))
          .as("total_bits"))
      .withColumn("entropy_milli", expr("total_bits * 1000 div n_bigrams"))
      .withColumn("distinct_e6", expr("n_distinct * 1000000 div n_bigrams")))
    val mean = perDoc.agg(sum(col("entropy_milli")).as("se"), count(lit(1)).as("n"))
      .select(expr("se div n").as("mean_entropy_milli"))
    perDoc.crossJoin(broadcast(mean))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
        col("entropy_milli"), col("distinct_e6"),
        (col("entropy_milli") < col("mean_entropy_milli")).as("low_entropy"))
      .orderBy(col("doc_id"))
  }

  val charEntropySql: String =
    s"""WITH d AS (SELECT doc_id, $FoldSql AS s FROM documents),
       |base AS (SELECT doc_id, s, CAST(length(s) AS BIGINT) AS len
       |  FROM d WHERE length(s) >= 2),
       |bg AS (SELECT doc_id, len, substr(s, CAST(i AS INT), 2) AS bg,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM base CROSS JOIN UNNEST(range(1, CAST(len AS INT))) AS t(i)
       |  GROUP BY 1, 2, 3),
       |pd AS (SELECT doc_id,
       |    MAX(len - 1) AS n_bigrams,
       |    COUNT(*) AS n_distinct,
       |    CAST(SUM(c * (length(bin(len - 1)) - length(bin(c)))) AS BIGINT) AS total_bits
       |  FROM bg GROUP BY doc_id),
       |pd2 AS (SELECT doc_id, n_bigrams, n_distinct,
       |    total_bits * 1000 // n_bigrams AS entropy_milli,
       |    n_distinct * 1000000 // n_bigrams AS distinct_e6
       |  FROM pd),
       |m AS (SELECT CAST(SUM(entropy_milli) AS BIGINT) // COUNT(*) AS mean_entropy_milli FROM pd2)
       |SELECT doc_id, n_bigrams, n_distinct, entropy_milli, distinct_e6,
       |  entropy_milli < mean_entropy_milli AS low_entropy
       |FROM pd2 CROSS JOIN m
       |ORDER BY doc_id""".stripMargin

  // ---- q190: token burstiness (dispersion index) ---------------------

  val BurstTopK = 32
  val BurstVmrE6 = 2000000L // D > 2 — clearly over-dispersed

  /** q190: per-token BURSTINESS — the variance-to-mean dispersion index
    * of a token's per-document counts (over ALL docs, zeros included):
    * D ≈ 1 is Poisson scatter (function words), D >> 1 is bursty
    * content vocabulary that clumps into few docs — the
    * term-weighting / stopword-detection signal IDF alone cannot see
    * (two tokens with identical df can differ 10x in D). Reported for
    * the top-`BurstTopK` tokens by corpus count; D comes from three
    * exact longs (Σc, Σc², N) as `Σc²/Σc − Σc/N` — two IEEE divisions
    * in fixed order, rounded to e6.
    *
    * Scale shape: one (doc, tok) hash agg (partial-agg friendly), one
    * token-keyed rollup carrying (df, Σc, Σc²), the top-k through a
    * constant-key bounded heap (the q129 vocab pick — nothing
    * corpus-sized sorts), and N is a 1-row broadcast. */
  def tokenBurstiness(s: SparkSession, dir: String): DataFrame = {
    val docTok = Curation.termCounts(Tables.documents(s, dir), "text", "doc_id")
    val tokStats = docTok.groupBy(col("tok"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cnt"),
        sum(col("tf") * col("tf")).as("s2"))
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val g = tokStats.withColumn("g", lit(1))
    Plans.topKPerKeyRanked(g, Seq(g("g")),
      Seq((g("cnt"), true), (g("tok"), false)), BurstTopK, "rnk")
      .crossJoin(broadcast(n))
      .withColumn("df_e6", expr("df * 1000000 div n_docs"))
      .withColumn("vmr_e6", expr(
        "cast(round((cast(s2 as double) / cnt - cast(cnt as double) / n_docs) * 1000000.0) as bigint)"))
      .select(col("rnk"), col("tok"), col("df"), col("cnt"), col("s2"),
        col("n_docs"), col("df_e6"), col("vmr_e6"),
        (col("vmr_e6") > BurstVmrE6).as("bursty"))
      .orderBy(col("rnk"))
  }

  val tokenBurstinessSql: String =
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |dt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
       |    SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY doc_id, tok),
       |ts AS (SELECT tok, COUNT(*) AS df, CAST(SUM(c) AS BIGINT) AS cnt,
       |    CAST(SUM(c * c) AS BIGINT) AS s2
       |  FROM dt GROUP BY tok),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
       |top AS (SELECT *, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rnk FROM ts)
       |SELECT rnk, tok, df, cnt, s2, n_docs,
       |  df * 1000000 // n_docs AS df_e6,
       |  CAST(ROUND((CAST(s2 AS DOUBLE) / cnt - CAST(cnt AS DOUBLE) / n_docs) * 1000000.0) AS BIGINT) AS vmr_e6,
       |  CAST(ROUND((CAST(s2 AS DOUBLE) / cnt - CAST(cnt AS DOUBLE) / n_docs) * 1000000.0) AS BIGINT) > $BurstVmrE6 AS bursty
       |FROM top CROSS JOIN n
       |WHERE rnk <= $BurstTopK
       |ORDER BY rnk""".stripMargin

  // ---- q191: per-source quality-percentile normalization -------------

  /** q191: rank-normalization of a quality signal WITHIN each source —
    * the step a multi-source mix runs before thresholding, because raw
    * scores aren't comparable across sources (one site's median is
    * another's tail). Each doc gets its source-local cumulative
    * percentile (cume_dist) of the q187 entropy score.
    *
    * Scale shape: the textbook plan is `cume_dist() OVER (PARTITION BY
    * source ORDER BY score)` — a corpus-wide sort with one task per
    * source, the q74 anti-shape. Instead: scores are INTEGER
    * (milli-bits), so the distribution lives on the (source, score)
    * dim table — one hash agg, a window over the score DIM within
    * source (bounded by score resolution, not corpus size), and a
    * broadcast join back. Identical percentiles, no corpus window. */
  def qualityPercentile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val score = charEntropy(s, dir).select(col("doc_id"), col("entropy_milli"))
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .join(score, Seq("doc_id"))
    val dim = docs.groupBy(col("source"), col("entropy_milli"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("source")).orderBy(col("entropy_milli"))
    val cum = dim
      .withColumn("n_le", sum(col("c")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n_source", sum(col("c")).over(
        Window.partitionBy(col("source"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("source"), col("entropy_milli"), col("n_le"), col("n_source"))
    docs.join(broadcast(cum), Seq("source", "entropy_milli"))
      .withColumn("pct_e6", expr("n_le * 1000000 div n_source"))
      .select(col("doc_id"), col("source"), col("entropy_milli"),
        col("n_le"), col("n_source"), col("pct_e6"))
      .orderBy(col("doc_id"))
  }

  val qualityPercentileSql: String =
    s"""WITH d0 AS (SELECT doc_id, $FoldSql AS s FROM documents),
       |base AS (SELECT doc_id, s, CAST(length(s) AS BIGINT) AS len
       |  FROM d0 WHERE length(s) >= 2),
       |bg AS (SELECT doc_id, len, substr(s, CAST(i AS INT), 2) AS bg,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM base CROSS JOIN UNNEST(range(1, CAST(len AS INT))) AS t(i)
       |  GROUP BY 1, 2, 3),
       |pd AS (SELECT doc_id,
       |    MAX(len - 1) AS n_bigrams,
       |    CAST(SUM(c * (length(bin(len - 1)) - length(bin(c)))) AS BIGINT) AS total_bits
       |  FROM bg GROUP BY doc_id),
       |sc AS (SELECT doc_id, total_bits * 1000 // n_bigrams AS entropy_milli FROM pd),
       |docs AS (SELECT d.doc_id, d.source, sc.entropy_milli
       |  FROM documents d JOIN sc ON d.doc_id = sc.doc_id),
       |dim AS (SELECT source, entropy_milli, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM docs GROUP BY source, entropy_milli),
       |cum AS (SELECT source, entropy_milli,
       |    CAST(SUM(c) OVER (PARTITION BY source ORDER BY entropy_milli
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_le,
       |    CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS n_source
       |  FROM dim)
       |SELECT docs.doc_id, docs.source, docs.entropy_milli,
       |  cum.n_le, cum.n_source,
       |  cum.n_le * 1000000 // cum.n_source AS pct_e6
       |FROM docs JOIN cum
       |  ON docs.source = cum.source AND docs.entropy_milli = cum.entropy_milli
       |ORDER BY docs.doc_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "q190_token_burstiness" -> (tokenBurstiness _),
    "q191_quality_percentile" -> (qualityPercentile _),
    "q151_ngram_contamination" -> (ngramContamination _),
    "q153_vocab_growth" -> (vocabGrowth _),
    "q154_embed_anisotropy" -> (embedAnisotropy _),
    "q157_filter_agreement" -> (filterAgreement _),
    "q160_contamination_sweep" -> (contaminationSweep _),
    "q187_char_entropy" -> (charEntropy _))

  val oracles: Map[String, String] = Map(
    "q190_token_burstiness" -> tokenBurstinessSql,
    "q191_quality_percentile" -> qualityPercentileSql,
    "q151_ngram_contamination" -> ngramContaminationSql,
    "q153_vocab_growth" -> vocabGrowthSql,
    "q154_embed_anisotropy" -> embedAnisotropySql,
    "q157_filter_agreement" -> filterAgreementSql,
    "q160_contamination_sweep" -> contaminationSweepSql,
    "q187_char_entropy" -> charEntropySql)
}
