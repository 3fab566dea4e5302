package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.functions.Hashing
import graft.functions.TextFunctions.{fold, sentenceSegs, sentenceSegsSql, tokens}
import graft.operators.{Curation, Dedup}

/** Corpus cleaning, selection, retrieval and layout operators a
  * pretraining pipeline runs between ingest and tokenization,
  * continuing SURVEY.md §2 layers D/D′/E: duplicated-line removal
  * (q126), LM-surprisal scoring (q127), the LSH eval harness (q128),
  * vocab/OOV analysis (q129), DSIR selection (q130), epoch shuffle
  * (q131), span corruption (q132), linear-classifier inference
  * (q133), BM25 retrieval (q134), hybrid RRF fusion (q135), packed
  * layout audit (q136), upsampling repeats (q137), integer PageRank
  * (q138) and the distributed-PCA power iteration (q139).
  */
object CorpusOpsQueries extends QueryFamily {

  // shared oracle fragments (folded whitespace tokens, as DedupQueries)
  private val FoldSql =
    "lower(strip_accents(translate(text, '-‐‑‒–—―­', '       ')))"
  private val ToksSql = s"string_split_regex(trim($FoldSql), '\\s+')"
  private def e6Sql(e: String) = s"CAST(ROUND(($e) * 1000000.0) AS BIGINT)"

  // ---- q126: duplicated-line removal (RefinedWeb / CCNet style) ----

  /** q126: line-level exact dedup — the duplicated-line removal step of
    * CCNet / RefinedWeb corpus cleaning. Segments (sentence units, with
    * boundaries synthesized exactly as q40 does — the corpus has no
    * punctuation) that occur in >= 2 documents are removed from EVERY
    * document, and each doc reports its kept/removed accounting plus
    * the md5 of the reassembled survivor text. One segment-keyed df
    * aggregation + co-partitioned join-back (the q91 shape); nothing
    * quadratic, no corpus windows. */
  def lineDedup(s: SparkSession, dir: String): DataFrame =
    Curation.lineDedup(
      Tables.documents(s, dir), "doc_id",
      sentenceSegs(col("text")), ". ", minDf = 2)
      .withColumn("kept_md5", md5(col("kept_text"))).drop("kept_text")
      .orderBy(col("doc_id"))

  val lineDedupSql: String =
    s"""WITH p AS (SELECT doc_id,
      |    ${sentenceSegsSql("text")} AS segs
      |  FROM documents),
      |pos AS (SELECT doc_id, trim(seg) AS seg, i FROM (
      |    SELECT doc_id, unnest(segs) AS seg, generate_subscripts(segs, 1) AS i FROM p)
      |  WHERE trim(seg) <> ''),
      |dfq AS (SELECT seg, COUNT(DISTINCT doc_id) AS seg_df FROM pos GROUP BY seg)
      |SELECT doc_id,
      |  COUNT(*) AS n_segs,
      |  CAST(SUM(CASE WHEN seg_df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |  CAST(SUM(CASE WHEN seg_df >= 2 THEN length(seg) ELSE 0 END) AS BIGINT) AS chars_removed,
      |  CAST(SUM(CASE WHEN seg_df < 2 THEN length(seg) ELSE 0 END) AS BIGINT) AS kept_chars,
      |  md5(COALESCE(string_agg(seg, '. ' ORDER BY i) FILTER (WHERE seg_df < 2), '')) AS kept_md5
      |FROM pos JOIN dfq USING (seg)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- q255: line-dedup minDf operating curve ----

  /** The df-threshold arms of the boilerplate curve: q126 ships 2
    * ("anywhere else in the corpus") and q169's domain rule ships 3 —
    * the sweep brackets both and the conservative tail. */
  val LineDfArms: Seq[Long] = Seq(2L, 3L, 4L, 6L, 8L)

  /** q255: the minDf OPERATING CURVE of duplicated-line removal — the
    * aggressiveness knob of q126/q169's boilerplate stage (CCNet cuts
    * at low df, conservative pipelines higher). Per arm: boilerplate
    * dictionary size (distinct segments at df >= minDf), occurrences
    * and chars removed corpus-wide, chars kept, docs EMPTIED (every
    * segment removed — the q126 gate that feeds the curateExtended
    * length filter) and docs touched at all. The curve an operator
    * reads before picking the threshold: how much text each notch
    * costs and how many documents it annihilates. Completes the
    * operating-curve family for the line-dedup machinery.
    *
    * Scale shape: ONE segment explode + one df aggregation (exactly
    * q126's corpus-scale work), then everything collapses to
    * DF-HISTOGRAMS before any arm fans out: segment-dictionary,
    * occurrence and per-doc (min_df, max_df) grains each roll up to
    * at most |distinct df values| rows (dim-sized — df values number
    * in the hundreds even at corpus scale), and the 5 arms are
    * conditional sums over those broadcast histograms. Arm count
    * never multiplies corpus-sized data. */
  def lineDfCurve(s: SparkSession, dir: String): DataFrame = {
    val segs = Tables.documents(s, dir)
      .select(col("doc_id"), explode_outer(
        sentenceSegs(col("text"))).as("seg0"))
      .withColumn("seg", trim(col("seg0")))
      .filter(col("seg").isNotNull && length(col("seg")) > 0)
      .select(col("doc_id"), col("seg"))
    val staged = Dedup.stage(segs)
    val dfreq = staged.groupBy(col("seg"))
      .agg(count_distinct(col("doc_id")).as("seg_df"))
    val occ = Dedup.stage(staged.join(dfreq, Seq("seg"))
      .select(col("doc_id"), col("seg_df"),
        length(col("seg")).cast("long").as("clen")))
    // df-grain histograms: everything downstream is dim-sized
    val segHist = dfreq.groupBy(col("seg_df")).agg(count(lit(1)).as("n_segs"))
    val occHist = occ.groupBy(col("seg_df"))
      .agg(count(lit(1)).as("n_occ"), sum(col("clen")).as("chars"))
    val docHist = occ.groupBy(col("doc_id"))
      .agg(min(col("seg_df")).as("mn"), max(col("seg_df")).as("mx"))
      .groupBy(col("mn"), col("mx")).agg(count(lit(1)).as("n_docs"))
    val total = occ.agg(sum(col("clen")).as("total_chars"))
    val arms = s.range(1)
      .select(explode(array(LineDfArms.map(lit): _*)).as("min_df"))
    val armSeg = arms.crossJoin(broadcast(segHist))
      .groupBy(col("min_df"))
      .agg(sum(when(col("seg_df") >= col("min_df"), col("n_segs"))
        .otherwise(0L)).as("n_boiler_segs"))
    val armOcc = arms.crossJoin(broadcast(occHist))
      .groupBy(col("min_df"))
      .agg(
        sum(when(col("seg_df") >= col("min_df"), col("n_occ"))
          .otherwise(0L)).as("occ_removed"),
        sum(when(col("seg_df") >= col("min_df"), col("chars"))
          .otherwise(0L)).as("chars_removed"))
    val armDoc = arms.crossJoin(broadcast(docHist))
      .groupBy(col("min_df"))
      .agg(
        sum(when(col("mn") >= col("min_df"), col("n_docs"))
          .otherwise(0L)).as("docs_emptied"),
        sum(when(col("mx") >= col("min_df"), col("n_docs"))
          .otherwise(0L)).as("docs_touched"))
    armSeg.join(armOcc, Seq("min_df")).join(armDoc, Seq("min_df"))
      .crossJoin(broadcast(total))
      .withColumn("kept_chars", col("total_chars") - col("chars_removed"))
      .select(col("min_df"), col("n_boiler_segs"), col("occ_removed"),
        col("chars_removed"), col("kept_chars"),
        col("docs_emptied"), col("docs_touched"))
      .orderBy(col("min_df"))
  }

  val lineDfCurveSql: String = {
    val armsValues = LineDfArms.map(d => s"(CAST($d AS BIGINT))").mkString(", ")
    s"""WITH p AS (SELECT doc_id,
       |    ${sentenceSegsSql("text")} AS segs
       |  FROM documents),
       |pos AS (SELECT doc_id, trim(seg) AS seg FROM (
       |    SELECT doc_id, unnest(segs) AS seg FROM p)
       |  WHERE trim(seg) <> ''),
       |dfq AS (SELECT seg, COUNT(DISTINCT doc_id) AS seg_df FROM pos GROUP BY seg),
       |occ AS (SELECT doc_id, seg_df, CAST(length(pos.seg) AS BIGINT) AS clen
       |  FROM pos JOIN dfq USING (seg)),
       |tot AS (SELECT CAST(SUM(clen) AS BIGINT) AS total_chars FROM occ),
       |arms(min_df) AS (VALUES $armsValues),
       |aseg AS (SELECT a.min_df,
       |    CAST(COUNT(*) FILTER (WHERE seg_df >= a.min_df) AS BIGINT) AS n_boiler_segs
       |  FROM dfq CROSS JOIN arms a GROUP BY a.min_df),
       |aocc AS (SELECT a.min_df,
       |    CAST(COUNT(*) FILTER (WHERE seg_df >= a.min_df) AS BIGINT) AS occ_removed,
       |    CAST(COALESCE(SUM(clen) FILTER (WHERE seg_df >= a.min_df), 0) AS BIGINT) AS chars_removed
       |  FROM occ CROSS JOIN arms a GROUP BY a.min_df),
       |dstat AS (SELECT doc_id, MIN(seg_df) AS mn, MAX(seg_df) AS mx
       |  FROM occ GROUP BY doc_id),
       |adoc AS (SELECT a.min_df,
       |    CAST(COUNT(*) FILTER (WHERE mn >= a.min_df) AS BIGINT) AS docs_emptied,
       |    CAST(COUNT(*) FILTER (WHERE mx >= a.min_df) AS BIGINT) AS docs_touched
       |  FROM dstat CROSS JOIN arms a GROUP BY a.min_df)
       |SELECT aseg.min_df, n_boiler_segs, occ_removed, chars_removed,
       |  total_chars - chars_removed AS kept_chars, docs_emptied, docs_touched
       |FROM aseg JOIN aocc ON aseg.min_df = aocc.min_df
       |  JOIN adoc ON aseg.min_df = adoc.min_df
       |  CROSS JOIN tot
       |ORDER BY aseg.min_df""".stripMargin
  }

  // ---- q169: per-SOURCE boilerplate line removal (CCNet domain grain) ----

  /** Within-source document frequency at which a segment counts as
    * boilerplate (3 = "on at least three of this site's pages"). */
  val BoilerMinDf = 3

  /** q169: boilerplate removal at the DOMAIN grain — CCNet's actual
    * rule. q126 removes lines duplicated anywhere in the corpus; real
    * boilerplate (nav bars, footers, cookie banners) is defined
    * per-site: a segment repeated on >= 3 pages of the SAME source is
    * template chrome, while the same sentence appearing on two
    * different sites is syndication and stays. Per doc: kept/removed
    * accounting + the md5 of the reassembled survivor text.
    *
    * Scale shape: identical to q126 with `source` added to the df key —
    * the (source, seg) df agg and the join-back are co-partitioned, the
    * per-doc re-agg is doc-keyed; nothing quadratic, no corpus windows,
    * and a segment hot on ONE site never concentrates work because the
    * df key spreads by site. */
  def sourceBoilerplate(s: SparkSession, dir: String): DataFrame =
    Curation.lineDedupKeyed(
      Tables.documents(s, dir), "doc_id", Seq("source"),
      sentenceSegs(col("text")), ". ",
      minDf = BoilerMinDf)
      .withColumn("kept_md5", md5(col("kept_text"))).drop("kept_text")
      .orderBy(col("doc_id"))

  val sourceBoilerplateSql: String =
    s"""WITH p AS (SELECT doc_id, source,
       |    ${sentenceSegsSql("text")} AS segs
       |  FROM documents),
       |pos AS (SELECT doc_id, source, trim(seg) AS seg, i FROM (
       |    SELECT doc_id, source, unnest(segs) AS seg, generate_subscripts(segs, 1) AS i FROM p)
       |  WHERE trim(seg) <> ''),
       |dfq AS (SELECT source, seg, COUNT(DISTINCT doc_id) AS seg_df
       |  FROM pos GROUP BY source, seg)
       |SELECT doc_id, source,
       |  COUNT(*) AS n_segs,
       |  CAST(SUM(CASE WHEN seg_df >= $BoilerMinDf THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |  CAST(SUM(CASE WHEN seg_df >= $BoilerMinDf THEN length(seg) ELSE 0 END) AS BIGINT) AS chars_removed,
       |  CAST(SUM(CASE WHEN seg_df < $BoilerMinDf THEN length(seg) ELSE 0 END) AS BIGINT) AS kept_chars,
       |  md5(COALESCE(string_agg(seg, '. ' ORDER BY i) FILTER (WHERE seg_df < $BoilerMinDf), '')) AS kept_md5
       |FROM pos JOIN dfq USING (source, seg)
       |GROUP BY doc_id, source ORDER BY doc_id""".stripMargin

  // ---- q127: unigram-LM surprisal quality score (CCNet style) ----

  /** Bucket thresholds in milli-bits/token, chosen so the synthetic
    * corpus exercises all three CCNet buckets (its near-uniform token
    * distribution puts most docs at exactly 5000). */
  val HeadMaxMilli = 5050L
  val MiddleMaxMilli = 5200L

  /** q127: CCNet-style LM quality scoring — rank documents by unigram
    * cross-entropy under a corpus-trained LM and bucket head/middle/
    * tail. The surprisal surrogate is integer bits via binary-string
    * lengths (floor-log2), so no transcendental `ln` enters the
    * hash-compared columns (engines disagree in the last ulp of `ln`;
    * they agree on `bin`). Two hash-agg chains + a token-keyed
    * join-back; the corpus total is a 1-row broadcast. */
  def lmSurprisal(s: SparkSession, dir: String): DataFrame =
    // r16 spread the scan head; r17 reverted (driver: q127 +0.39 vs
    // r15, scale 0.61; r17 in-JVM A/B: revert −0.30 s)
    Curation.unigramSurprisal(
      Curation.termCounts(Tables.documents(s, dir), "text", "doc_id"), "doc_id")
      .withColumn("bucket",
        when(col("milli_bits_per_token") < HeadMaxMilli, "head")
          .when(col("milli_bits_per_token") < MiddleMaxMilli, "middle")
          .otherwise("tail"))
      .select(col("doc_id"), col("n_tokens"), col("total_bits"),
        col("milli_bits_per_token"), col("bucket"))
      .orderBy(col("doc_id"))

  val lmSurprisalSql: String =
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |pos AS (SELECT doc_id, unnest(t) AS tok FROM toks),
       |dt AS (SELECT doc_id, tok, COUNT(*) AS dc FROM pos GROUP BY doc_id, tok),
       |tokc AS (SELECT tok, CAST(SUM(dc) AS BIGINT) AS cnt FROM dt GROUP BY tok),
       |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM tokc),
       |bits AS (SELECT tok,
       |    CAST(length(bin(n_total)) - length(bin(cnt)) AS BIGINT) AS bits
       |  FROM tokc CROSS JOIN n),
       |sc AS (SELECT doc_id, CAST(SUM(dc) AS BIGINT) AS n_tokens,
       |    CAST(SUM(dc * bits) AS BIGINT) AS total_bits
       |  FROM dt JOIN bits USING (tok) GROUP BY doc_id)
       |SELECT doc_id, n_tokens, total_bits,
       |  (1000 * total_bits) // n_tokens AS milli_bits_per_token,
       |  CASE WHEN (1000 * total_bits) // n_tokens < $HeadMaxMilli THEN 'head'
       |       WHEN (1000 * total_bits) // n_tokens < $MiddleMaxMilli THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM sc ORDER BY doc_id""".stripMargin

  // ---- q128: MinHash-LSH precision/recall eval ----

  /** q128: the dedup family's eval harness — measured precision and
    * recall of the q23 MinHash-LSH candidate pairs against the q22
    * exact-Jaccard (>= 0.5, df-capped) ground truth, the companion of
    * q95's ANN recall eval. Both sides are the already-gated operators;
    * the verdict is a full-outer pair join folded to ONE row of
    * engine-exact counts and e6 ratios. */
  def lshEval(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val reps = Dedup.exact(docs, "text", "doc_id")
    // the shingle stream feeds three consumers (df aggregate, encode
    // join, signatures). Below the footprint threshold it is staged
    // once — recomputing the explode per consumer cost 20-50% at
    // sweep scale. Past it, staging LOSES (x16: 56s staged vs 33s
    // recomputed — the checkpoint blocks compete with the
    // candidate-pair shuffle for RAM), so the stream stays lazy and
    // the downstream shape probe reads the source footprint via
    // `probeFrom` (a staged plan exposes no input files; probing it
    // as "small" ran the sweep-scale string-keyed truth join on 80k
    // docs — 5x on the x16 ladder)
    val raw = Dedup.shingles(reps, "text", "doc_id")
    val sh = if (Dedup.atScale(docs)) raw else Dedup.stage(raw)
    val truth = Dedup.jaccardPairs(sh, "doc_id", dfCap = Some(DedupQueries.JaccardDfCap),
      probeFrom = Some(docs))
      .select(col("doc_a"), col("doc_b"), lit(true).as("is_true"))
    val cand = Dedup.minhashCandidates(Dedup.minhashSignatures(sh, "doc_id"), "doc_id")
      .select(col("doc_a"), col("doc_b"), lit(true).as("is_cand"))
    truth.join(cand, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        sum(when(col("is_true"), 1L).otherwise(0L)).as("n_true"),
        sum(when(col("is_cand"), 1L).otherwise(0L)).as("n_cand"),
        sum(when(col("is_true") && col("is_cand"), 1L).otherwise(0L)).as("n_hit"))
      .select(col("n_true"), col("n_cand"), col("n_hit"),
        (col("n_true") - col("n_hit")).as("n_false_neg"),
        (col("n_cand") - col("n_hit")).as("n_false_pos"),
        round(lit(1000000.0) * col("n_hit").cast("double") /
          greatest(col("n_cand"), lit(1L)).cast("double")).cast("long").as("precision_e6"),
        round(lit(1000000.0) * col("n_hit").cast("double") /
          greatest(col("n_true"), lit(1L)).cast("double")).cast("long").as("recall_e6"))
  }

  val lshEvalSql: String = {
    val mins = (0 until Dedup.MinhashK)
      .map(k => s"MIN(${Hashing.affineSql("h_base", k)}) AS h$k")
      .mkString(",\n    ")
    val nBands = Dedup.MinhashBands
    val rows = Dedup.MinhashK / nBands
    val bandSelects = (0 until nBands)
      .map { b =>
        val vals = (0 until rows)
          .map(r => s"CAST(h${b * rows + r} AS VARCHAR)")
          .mkString(" || '_' || ")
        s"SELECT doc_id, $b AS band_id, $vals AS band_val FROM sigs"
      }
      .mkString("\n  UNION ALL ")
    s"""WITH ${DedupQueries.RepsCte},
       |${DedupQueries.ShinglesCte},
       |shc AS (SELECT doc_id, shingle FROM (
       |    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
       |  WHERE df <= ${DedupQueries.JaccardDfCap}),
       |sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM shc GROUP BY doc_id),
       |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS intersect_n
       |  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |truth AS (SELECT doc_a, doc_b FROM pairs
       |  JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE intersect_n * 2 >= sa.set_size + sb.set_size - intersect_n),
       |hashed AS (SELECT doc_id, ${Hashing.polyHashSql("shingle")} AS h_base FROM sh),
       |sigs AS (SELECT doc_id,
       |    $mins
       |  FROM hashed GROUP BY doc_id),
       |bands AS (
       |  $bandSelects),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
       |m AS (SELECT t.doc_a IS NOT NULL AS is_true, c.doc_a IS NOT NULL AS is_cand
       |  FROM truth t FULL OUTER JOIN cand c
       |    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
       |agg AS (SELECT
       |    CAST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       |    CAST(SUM(CASE WHEN is_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
       |    CAST(SUM(CASE WHEN is_true AND is_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
       |  FROM m)
       |SELECT n_true, n_cand, n_hit,
       |  n_true - n_hit AS n_false_neg,
       |  n_cand - n_hit AS n_false_pos,
       |  ${e6Sql("CAST(n_hit AS DOUBLE) / GREATEST(n_cand, 1)")} AS precision_e6,
       |  ${e6Sql("CAST(n_hit AS DOUBLE) / GREATEST(n_true, 1)")} AS recall_e6
       |FROM agg""".stripMargin
  }

  // ---- q129: vocabulary coverage / OOV rate ----

  val VocabSize = 16

  /** q129: frequency-based vocab build (top-16 by count desc, token
    * asc, through TopKPerKeyExec's bounded heap — the vocab pick never
    * global-sorts anything corpus-sized) + per-doc OOV instance/type
    * counts and e6 rate — the tokenizer-coverage eval that gates a
    * vocab before the q125 encode commits to it. */
  def vocabOov(s: SparkSession, dir: String): DataFrame =
    // r16 spread reverted in r17 (in-JVM A/B: revert −0.25 s)
    Curation.vocabCoverage(
      Tables.documents(s, dir).select(col("doc_id"), col("text")), "text", "doc_id", VocabSize)
      .select(col("doc_id"), col("n_tokens"), col("n_oov"), col("n_oov_types"),
        col("oov_e6"))
      .orderBy(col("doc_id"))

  val vocabOovSql: String =
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |pos AS (SELECT doc_id, unnest(t) AS tok FROM toks),
       |dt AS (SELECT doc_id, tok, COUNT(*) AS dc FROM pos GROUP BY doc_id, tok),
       |tokc AS (SELECT tok, CAST(SUM(dc) AS BIGINT) AS cnt FROM dt GROUP BY tok),
       |vocab AS (SELECT tok FROM tokc ORDER BY cnt DESC, tok LIMIT $VocabSize)
       |SELECT doc_id,
       |  CAST(SUM(dc) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN v.tok IS NULL THEN dc ELSE 0 END) AS BIGINT) AS n_oov,
       |  CAST(COUNT(DISTINCT CASE WHEN v.tok IS NULL THEN dt.tok END) AS BIGINT) AS n_oov_types,
       |  ${e6Sql("CAST(SUM(CASE WHEN v.tok IS NULL THEN dc ELSE 0 END) AS DOUBLE) / SUM(dc)")} AS oov_e6
       |FROM dt LEFT JOIN vocab v ON dt.tok = v.tok
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- q130: DSIR importance weights (data selection) ----

  /** q130: DSIR (Xie et al. 2023) importance weights between the
    * English-doc target LM and the raw corpus LM. The log-ratio is
    * replaced by its first-order surrogate `ln r ≈ r − 1` (per-token
    * e6 likelihood-ratio deviation, one fixed IEEE double expression
    * tree — engine-exact without `ln`). `target_like` docs score
    * positive — the deterministic selection signal importance
    * resampling draws against. */
  def dsirWeights(s: SparkSession, dir: String): DataFrame =
    Curation.dsirWeights(Curation.termCounts(Tables.documents(s, dir), "text", "doc_id"),
      Tables.documents(s, dir), "doc_id", col("lang") === "en")
      .withColumn("target_like", col("weight_e6") > 0L)
      .select(col("doc_id"), col("n_tokens"), col("weight_e6"),
        col("per_token_dev_e6"), col("target_like"))
      .orderBy(col("doc_id"))

  val dsirWeightsSql: String =
    s"""WITH toks AS (SELECT doc_id, lang = 'en' AS is_target, $ToksSql AS t FROM documents),
       |pos AS (SELECT doc_id, is_target, unnest(t) AS tok FROM toks),
       |dt AS (SELECT doc_id, is_target, tok, COUNT(*) AS dc FROM pos
       |  GROUP BY doc_id, is_target, tok),
       |lm AS (SELECT tok, CAST(SUM(dc) AS BIGINT) AS cnt_raw,
       |    CAST(SUM(CASE WHEN is_target THEN dc ELSE 0 END) AS BIGINT) AS cnt_tgt
       |  FROM dt GROUP BY tok),
       |norms AS (SELECT CAST(SUM(cnt_raw) AS BIGINT) AS n_raw,
       |    CAST(SUM(cnt_tgt) AS BIGINT) AS n_tgt, COUNT(*) AS vocab_n FROM lm),
       |devs AS (SELECT tok,
       |    CAST(ROUND(1000000.0 *
       |      (CAST(cnt_tgt + 1 AS DOUBLE) * CAST(n_raw AS DOUBLE)) /
       |      (CAST(n_tgt + vocab_n AS DOUBLE) * CAST(cnt_raw AS DOUBLE))) AS BIGINT)
       |      - 1000000 AS dev_e6
       |  FROM lm CROSS JOIN norms),
       |sc AS (SELECT doc_id, CAST(SUM(dc) AS BIGINT) AS n_tokens,
       |    CAST(SUM(dc * dev_e6) AS BIGINT) AS weight_e6
       |  FROM dt JOIN devs USING (tok) GROUP BY doc_id)
       |SELECT doc_id, n_tokens, weight_e6,
       |  weight_e6 // n_tokens AS per_token_dev_e6,
       |  weight_e6 > 0 AS target_like
       |FROM sc ORDER BY doc_id""".stripMargin

  // ---- q131: deterministic epoch shuffle + shard layout ----

  val ShuffleSeed = "ep1"
  val ShuffleShards = 8

  /** q131: the global training-data shuffle — a seeded portable-hash
    * permutation dealt into balanced shards, (shard, pos) = the read
    * order. No global sort; the only window is per-shard (the output
    * file grain). A new seed is a new epoch. */
  def epochShuffle(s: SparkSession, dir: String): DataFrame =
    Curation.epochShuffle(Tables.documents(s, dir), "doc_id",
      ShuffleSeed, ShuffleShards)
      .select(col("doc_id"), col("shuffle_key"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))

  val epochShuffleSql: String = {
    val h = Hashing.polyHashSql(s"CAST(doc_id AS VARCHAR) || ':$ShuffleSeed'")
    s"""WITH k AS (SELECT doc_id, $h AS shuffle_key FROM documents)
       |SELECT doc_id, shuffle_key,
       |  shuffle_key % $ShuffleShards AS shard,
       |  CAST(row_number() OVER (PARTITION BY shuffle_key % $ShuffleShards
       |    ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos
       |FROM k ORDER BY shard, pos""".stripMargin
  }

  // ---- q132: span-corruption statistics (T5-style masking prep) ----

  val CorruptRateMille = 150
  val CorruptSeed = "t5"

  /** q132: T5-style span-corruption accounting — deterministic seeded
    * i.i.d. token masking (15%), runs collapse into spans, and each
    * doc reports the input/target sequence lengths the corruption
    * yields (one sentinel per span on each side). Map-side draws; the
    * only window is per-doc over token position. */
  def spanCorrupt(s: SparkSession, dir: String): DataFrame =
    Curation.spanCorruptStats(Tables.documents(s, dir), "text", "doc_id",
      CorruptRateMille, CorruptSeed)
      .orderBy(col("doc_id"))

  val spanCorruptSql: String = {
    val h = Hashing.polyHashSql(
      s"CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR) || ':$CorruptSeed'")
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |pos AS (SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) - 1 AS pos FROM toks),
       |m AS (SELECT doc_id, pos, ($h) % 1000 < $CorruptRateMille AS masked FROM pos),
       |l AS (SELECT doc_id, masked,
       |    lag(masked) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM m),
       |a AS (SELECT doc_id, COUNT(*) AS n_tokens,
       |    CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
       |    CAST(SUM(CASE WHEN masked AND (prev IS NULL OR NOT prev) THEN 1 ELSE 0 END) AS BIGINT) AS n_spans
       |  FROM l GROUP BY doc_id)
       |SELECT doc_id, n_tokens, n_masked, n_spans,
       |  ${e6Sql("CAST(n_masked AS DOUBLE) / n_tokens")} AS masked_e6,
       |  n_tokens - n_masked + n_spans AS n_input_tokens,
       |  n_masked + n_spans AS n_target_tokens
       |FROM a ORDER BY doc_id""".stripMargin
  }

  // ---- q133: linear text-classifier inference (fasttext-style) ----

  val ClassifierBuckets = 4096

  /** q133: corpus-scale linear classifier inference — hashed
    * unigram+bigram features against a broadcast bucket→weight model
    * table (deterministically synthesized here; a trained model ships
    * with exactly this schema). Integer logits; the model-based member
    * of the quality family next to rule-based q78 and LM-based q127. */
  def qualityClassifier(s: SparkSession, dir: String): DataFrame =
    Curation.textClassifier(Tables.documents(s, dir), "text", "doc_id",
      ClassifierBuckets)
      .select(col("doc_id"), col("n_feats"), col("score_sum"),
        col("milli_score"), col("keep"))
      .orderBy(col("doc_id"))

  val qualityClassifierSql: String = {
    val wExpr = s"${Hashing.affineSql("CAST(range AS BIGINT)", 7)} % 2001 - 1000"
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |pos AS (SELECT doc_id, t, unnest(t) AS tok, generate_subscripts(t, 1) AS i FROM toks),
       |feats AS (SELECT doc_id, tok AS feat FROM pos
       |  UNION ALL
       |  SELECT doc_id, t[i] || ' ' || t[i+1] AS feat FROM pos WHERE i + 1 <= len(t)),
       |fb AS (SELECT doc_id, ${Hashing.polyHashSql("feat")} % $ClassifierBuckets AS bucket,
       |    COUNT(*) AS cnt
       |  FROM feats GROUP BY doc_id, ${Hashing.polyHashSql("feat")} % $ClassifierBuckets),
       |w AS (SELECT CAST(range AS BIGINT) AS bucket, CAST($wExpr AS BIGINT) AS w
       |  FROM range($ClassifierBuckets)),
       |sc AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_feats,
       |    CAST(SUM(cnt * w) AS BIGINT) AS score_sum
       |  FROM fb JOIN w USING (bucket) GROUP BY doc_id)
       |SELECT doc_id, n_feats, score_sum,
       |  (1000 * score_sum) // n_feats AS milli_score,
       |  score_sum >= 0 AS keep
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  // ---- q134: BM25 lexical top-k retrieval ----

  val Bm25TopK = 5

  /** The fixed query workload: 10 two-term queries over the corpus
    * vocabulary (one includes the rare token so the rarity weight is
    * exercised). Single source of truth for Spark AND the oracle. */
  val Bm25Queries: Seq[(Int, String)] = Seq(
    0 -> "join", 0 -> "hash", 1 -> "window", 1 -> "stream",
    2 -> "sort", 2 -> "merge", 3 -> "filter", 3 -> "scan",
    4 -> "data", 4 -> "table", 5 -> "query", 5 -> "fast",
    6 -> "batch", 6 -> "slow", 7 -> "key", 7 -> "value",
    8 -> "group", 8 -> "agg", 9 -> "spark", 9 -> "dup")

  /** q134: BM25-style lexical top-k retrieval — the sparse counterpart
    * of the dense ANN family. Saturated-tf scoring (k1=1.25, b=0.75,
    * both exact doubles) with a rational rarity weight instead of the
    * engine-variant `ln` idf; every per-(doc, term) score is one fixed
    * IEEE tree rounded to e6 BEFORE summation, so the ranking is
    * bit-reproducible. Broadcast query probe of the staged tf table;
    * TopKPerKeyExec bounded heaps rank each query. */
  def bm25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qt = s.createDataFrame(Bm25Queries).toDF("query_id", "term")
    Curation.bm25TopK(Tables.documents(s, dir), "text", "doc_id", qt, Bm25TopK)
      .orderBy(col("query_id"), col("rnk"))
  }

  val bm25Sql: String = {
    val values = Bm25Queries.map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |pos AS (SELECT doc_id, unnest(t) AS tok FROM toks),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM pos GROUP BY doc_id, tok),
       |dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
       |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
       |norms AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total FROM dl),
       |q(query_id, term) AS (VALUES $values),
       |scored AS (SELECT q.query_id, tf.doc_id,
       |    ${e6Sql("""(CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
       |      (CAST(n_docs AS DOUBLE) + 0.5) *
       |      ((CAST(tf AS DOUBLE) * 2.25) /
       |        (CAST(tf AS DOUBLE) + 1.25 *
       |          (0.25 + 0.75 * CAST(dl AS DOUBLE) /
       |            (CAST(total AS DOUBLE) / CAST(n_docs AS DOUBLE)))))""")} AS score_e6
       |  FROM tf JOIN q ON tf.tok = q.term
       |  JOIN dfq USING (tok) JOIN dl USING (doc_id) CROSS JOIN norms),
       |pq AS (SELECT query_id, doc_id, CAST(SUM(score_e6) AS BIGINT) AS score_e6,
       |    COUNT(*) AS n_terms_hit
       |  FROM scored GROUP BY query_id, doc_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY score_e6 DESC, doc_id) AS rn FROM pq)
       |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rn AS BIGINT) AS rnk,
       |  doc_id, score_e6, n_terms_hit
       |FROM ranked WHERE rn <= $Bm25TopK
       |ORDER BY query_id, rnk""".stripMargin
  }

  // ---- q135: hybrid retrieval fusion (reciprocal-rank fusion) ----

  val RrfK = 60

  /** q135: hybrid search — reciprocal-rank fusion of the DENSE exact-
    * cosine ranking (q26's machinery over the aligned embedding space)
    * and the SPARSE BM25 ranking (q134), the standard hybrid-retrieval
    * recipe. Each list contributes `round(1e6/(60+rank))` — an INTEGER
    * per item, so the fused score is an integer sum with no float
    * associativity anywhere. Query pairing is the aligned id space
    * (text query i ↔ query vector i). Both inputs are already-gated
    * operators; fusion is one full-outer pair join + TopKPerKeyExec. */
  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val emb = Tables.embeddings(s, dir)
    val dense = Similarity.bruteForceTopK(
      emb.filter(col("vec_id") < SimilarityQueries.QuerySetBound),
      emb.filter(col("vec_id") >= SimilarityQueries.QuerySetBound),
      SimilarityQueries.TopK)
      .select(col("q_vec_id").cast("long").as("query_id"),
        col("vec_id").as("item_id"),
        round(lit(1000000.0) / (lit(60.0) + col("rank").cast("double")))
          .cast("long").as("d_rrf"))
    val qt = s.createDataFrame(Bm25Queries).toDF("query_id", "term")
    val sparse = Curation.bm25TopK(Tables.documents(s, dir), "text", "doc_id",
      qt, Bm25TopK)
      .select(col("query_id"), col("doc_id").as("item_id"),
        round(lit(1000000.0) / (lit(60.0) + col("rnk").cast("double")))
          .cast("long").as("s_rrf"))
    val fused = dense.join(sparse, Seq("query_id", "item_id"), "full_outer")
      .select(col("query_id"), col("item_id"),
        coalesce(col("d_rrf"), lit(0L)).as("d_rrf"),
        coalesce(col("s_rrf"), lit(0L)).as("s_rrf"))
      .withColumn("rrf_e6", col("d_rrf") + col("s_rrf"))
      .withColumn("in_dense", col("d_rrf") > 0L)
      .withColumn("in_sparse", col("s_rrf") > 0L)
    graft.plans.Plans.topKPerKeyRanked(fused, Seq(fused("query_id")),
      Seq((fused("rrf_e6"), true), (fused("item_id"), false)), Bm25TopK, "rnk")
      .select(col("query_id"), col("rnk").cast("long").as("rnk"),
        col("item_id"), col("rrf_e6"), col("in_dense"), col("in_sparse"))
      .orderBy(col("query_id"), col("rnk"))
  }

  val hybridRrfSql: String = {
    import graft.functions.VectorFunctions.{dotSql, normSql}
    val dim = SimilarityQueries.Dim
    val dotQC = dotSql("q_emb", "embedding", dim)
    val values = Bm25Queries.map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""WITH dq AS (SELECT vec_id AS q_vec_id, embedding AS q_emb,
       |    ${normSql("embedding", dim)} AS q_norm
       |  FROM embeddings WHERE vec_id < ${SimilarityQueries.QuerySetBound}),
       |dc AS (SELECT vec_id, embedding, ${normSql("embedding", dim)} AS c_norm
       |  FROM embeddings WHERE vec_id >= ${SimilarityQueries.QuerySetBound}),
       |dscored AS (SELECT q_vec_id, vec_id,
       |    ${e6Sql(s"($dotQC) / (q_norm * c_norm)")} AS cos_e6
       |  FROM dc, dq),
       |dense AS (SELECT CAST(q_vec_id AS BIGINT) AS query_id, vec_id AS item_id,
       |    CAST(ROUND(1000000.0 / (60.0 + CAST(rnk AS DOUBLE))) AS BIGINT) AS d_rrf
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id
       |      ORDER BY cos_e6 DESC, vec_id) AS rnk FROM dscored)
       |  WHERE rnk <= ${SimilarityQueries.TopK}),
       |toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |pos AS (SELECT doc_id, unnest(t) AS tok FROM toks),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM pos GROUP BY doc_id, tok),
       |dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
       |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
       |norms AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total FROM dl),
       |q(query_id, term) AS (VALUES $values),
       |sscored AS (SELECT q.query_id, tf.doc_id,
       |    ${e6Sql("""(CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
       |      (CAST(n_docs AS DOUBLE) + 0.5) *
       |      ((CAST(tf AS DOUBLE) * 2.25) /
       |        (CAST(tf AS DOUBLE) + 1.25 *
       |          (0.25 + 0.75 * CAST(dl AS DOUBLE) /
       |            (CAST(total AS DOUBLE) / CAST(n_docs AS DOUBLE)))))""")} AS score_e6
       |  FROM tf JOIN q ON tf.tok = q.term
       |  JOIN dfq USING (tok) JOIN dl USING (doc_id) CROSS JOIN norms),
       |spq AS (SELECT query_id, doc_id, CAST(SUM(score_e6) AS BIGINT) AS score_e6
       |  FROM sscored GROUP BY query_id, doc_id),
       |sparse AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id AS item_id,
       |    CAST(ROUND(1000000.0 / (60.0 + CAST(rnk AS DOUBLE))) AS BIGINT) AS s_rrf
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score_e6 DESC, doc_id) AS rnk FROM spq)
       |  WHERE rnk <= $Bm25TopK),
       |fused AS (SELECT COALESCE(d.query_id, s.query_id) AS query_id,
       |    COALESCE(d.item_id, s.item_id) AS item_id,
       |    COALESCE(d_rrf, 0) AS d_rrf, COALESCE(s_rrf, 0) AS s_rrf
       |  FROM dense d FULL OUTER JOIN sparse s
       |    ON d.query_id = s.query_id AND d.item_id = s.item_id)
       |SELECT query_id, CAST(rn AS BIGINT) AS rnk, item_id,
       |  d_rrf + s_rrf AS rrf_e6, d_rrf > 0 AS in_dense, s_rrf > 0 AS in_sparse
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY d_rrf + s_rrf DESC, item_id) AS rn FROM fused)
       |WHERE rn <= $Bm25TopK
       |ORDER BY query_id, rnk""".stripMargin
  }

  // ---- q136: packed-batch composition audit ----

  val AuditCtxLen = 256

  /** q136: per-context-window composition audit of the shuffled packed
    * layout — the data-loader QA step: after the epoch shuffle (q131)
    * deals docs to shards and packing (q75's orderCol form) slices
    * context windows in read order, every (shard, seq) window reports
    * how many docs and distinct sources it mixes, the dominant-source
    * share, and boundary straddlers. Homogeneous windows are the
    * training smell this audit exists to catch — the shuffle is
    * exactly what makes them rare. Oracle-gates the epochShuffle +
    * ordered-pack COMPOSITION end to end. */
  def packAudit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val dealt = Curation.epochShuffle(docs.select(col("doc_id")), "doc_id",
      ShuffleSeed, ShuffleShards)
      .select(col("doc_id"), col("shard"), col("pos"))
    val packed = Curation.sequencePack(docs.join(dealt, Seq("doc_id")),
      "text", "doc_id", "shard", AuditCtxLen, orderCol = "pos")
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    val perSeq = packed.groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("straddles"), 1L).otherwise(0L)).as("n_straddlers"))
    val perSrc = packed.groupBy(col("shard"), col("seq_id"), col("source"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_sources"), max(col("c")).as("top_source_docs"))
    perSeq.join(perSrc, Seq("shard", "seq_id"))
      .select(col("shard"), col("seq_id"), col("n_docs"), col("n_straddlers"),
        col("n_sources"), col("top_source_docs"),
        graft.functions.VectorFunctions.e6(
          col("top_source_docs").cast("double") / col("n_docs"))
          .as("dominant_e6"))
      .orderBy(col("shard"), col("seq_id"))
  }

  val packAuditSql: String = {
    val h = Hashing.polyHashSql(s"CAST(doc_id AS VARCHAR) || ':$ShuffleSeed'")
    s"""WITH k AS (SELECT doc_id, $h AS shuffle_key FROM documents),
       |sp AS (SELECT doc_id, shuffle_key % $ShuffleShards AS shard,
       |    CAST(row_number() OVER (PARTITION BY shuffle_key % $ShuffleShards
       |      ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos
       |  FROM k),
       |counted AS (SELECT doc_id, source,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |p AS (SELECT c.doc_id, sp.shard, sp.pos, c.n_tokens, c.source,
       |    CAST(COALESCE(SUM(c.n_tokens) OVER (PARTITION BY sp.shard ORDER BY sp.pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_tokens
       |  FROM counted c JOIN sp USING (doc_id)),
       |pp AS (SELECT *, cum_tokens // $AuditCtxLen AS seq_id,
       |    cum_tokens % $AuditCtxLen + n_tokens > $AuditCtxLen AS straddles FROM p),
       |a1 AS (SELECT shard, seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(CASE WHEN straddles THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
       |  FROM pp GROUP BY shard, seq_id),
       |ps AS (SELECT shard, seq_id, source, COUNT(*) AS c
       |  FROM pp GROUP BY shard, seq_id, source),
       |a2 AS (SELECT shard, seq_id, CAST(COUNT(*) AS BIGINT) AS n_sources,
       |    CAST(MAX(c) AS BIGINT) AS top_source_docs
       |  FROM ps GROUP BY shard, seq_id)
       |SELECT shard, seq_id, n_docs, n_straddlers, n_sources, top_source_docs,
       |  ${e6Sql("CAST(top_source_docs AS DOUBLE) / n_docs")} AS dominant_e6
       |FROM a1 JOIN a2 USING (shard, seq_id)
       |ORDER BY shard, seq_id""".stripMargin
  }

  // ---- q137: deterministic upsampling (epochs-per-dataset) ----

  val UpsampleBudget = 2000L

  /** q137: materialized repeat counts for a temperature mix whose
    * budget EXCEEDS availability — the "epochs per dataset" step of
    * published pretraining recipes (small domains repeat more). The
    * quota side is q104's sqrt-temperature largest-remainder split
    * WITHOUT the availability cap; the repeat side deals each domain's
    * quota as base repeats + hash-ranked remainders, so per-domain
    * Σ n_repeats == quota exactly on any engine. */
  def upsampleRepeats(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val whole = Window.partitionBy(lit(1))
    val rkW = Window.partitionBy(lit(1)).orderBy(col("frac").desc, col("source"))
    val quotas = Tables.documents(s, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("w_e6", round(sqrt(col("n_docs").cast("double")) * 1e6).cast("long"))
      .withColumn("tot_w", sum(col("w_e6")).over(whole))
      .withColumn("raw_quota", expr(s"($UpsampleBudget * w_e6) div tot_w"))
      .withColumn("frac", expr(s"($UpsampleBudget * w_e6) % tot_w"))
      .withColumn("remainder", lit(UpsampleBudget) - sum(col("raw_quota")).over(whole))
      .withColumn("rkq", row_number().over(rkW))
      .select(col("source"),
        (col("raw_quota") + when(col("rkq") <= col("remainder"), 1L).otherwise(0L))
          .as("quota"))
    Curation.upsampleRepeats(
      Tables.documents(s, dir).select(col("doc_id"), col("source")),
      "source", "doc_id", quotas)
      .select(col("doc_id"), col("source"), col("rk"), col("quota"),
        col("base_repeats"), col("n_repeats"))
      .orderBy(col("doc_id"))
  }

  val upsampleRepeatsSql: String =
    s"""WITH counts AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
       |w AS (SELECT source, n_docs,
       |    CAST(ROUND(SQRT(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT) AS w_e6
       |  FROM counts),
       |t AS (SELECT *, CAST(SUM(w_e6) OVER () AS BIGINT) AS tot_w FROM w),
       |qq AS (SELECT *, ($UpsampleBudget * w_e6) // tot_w AS raw_quota,
       |    ($UpsampleBudget * w_e6) % tot_w AS frac FROM t),
       |r AS (SELECT *, $UpsampleBudget - CAST(SUM(raw_quota) OVER () AS BIGINT) AS remainder,
       |    ROW_NUMBER() OVER (ORDER BY frac DESC, source) AS rkq FROM qq),
       |quotas AS (SELECT source,
       |    CAST(raw_quota + (CASE WHEN rkq <= remainder THEN 1 ELSE 0 END) AS BIGINT) AS quota
       |  FROM r),
       |ranked AS (SELECT doc_id, source,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk,
       |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS stratum_n
       |  FROM documents)
       |SELECT doc_id, ranked.source, rk, quota,
       |  quota // stratum_n AS base_repeats,
       |  quota // stratum_n + (CASE WHEN rk <= quota % stratum_n THEN 1 ELSE 0 END) AS n_repeats
       |FROM ranked JOIN quotas ON ranked.source = quotas.source
       |ORDER BY doc_id""".stripMargin

  // ---- q138: integer fixed-point PageRank on the domain graph ----

  val PrRounds = 5
  val PrSegDfCap = 64

  /** q138: PageRank as exact integer fixed-point arithmetic — the
    * iterative-graph-algorithm genre beyond q67's connected
    * components. The graph links domains that SHARE a duplicated
    * segment (q126's boilerplate signal lifted to the domain level —
    * template-hub detection); ranks evolve in e6 units with damping
    * 0.85 as `(r·850000) div 1e6 div outdeg` per edge, every division
    * the truncating integer kind both engines implement identically,
    * so 5 rounds are bit-reproducible at any parallelism (dangling
    * mass is discarded — the standard simplification, pinned by the
    * oracle). Segment df is capped so a universal segment can't
    * quadratically explode the edge build at scale; each round
    * localCheckpoints (the q67 lineage-truncation recipe). Oracle =
    * chained CTE rounds, AS MATERIALIZED (the q121 lesson). */
  def domainPagerank(s: SparkSession, dir: String): DataFrame = {
    val segs = Tables.documents(s, dir)
      .select(col("source"),
        explode_outer(sentenceSegs(col("text")))
          .as("seg"))
      .withColumn("seg", trim(col("seg")))
      .filter(col("seg").isNotNull && length(col("seg")) > 0)
      .select(col("source"), col("seg")).distinct()
    val capped = Dedup.stage(segs.join(
      segs.groupBy(col("seg")).agg(count(lit(1)).as("seg_df"))
        .filter(col("seg_df") >= 2 && col("seg_df") <= PrSegDfCap)
        .select(col("seg")), Seq("seg")))
    val edges = Dedup.stage(capped.as("a")
      .join(capped.as("b"), Seq("seg"))
      .filter(col("a.source") =!= col("b.source"))
      .select(col("a.source").as("src"), col("b.source").as("dst"))
      .distinct())
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val nodes = Tables.documents(s, dir).select(col("source")).distinct()
    var rank = nodes.withColumn("rank_e6", lit(1000000L))
    for (_ <- 1 to PrRounds) {
      val contrib = edges.join(rank, edges("src") === rank("source"))
        .join(outdeg, Seq("src"))
        .select(col("dst").as("source"),
          expr("(rank_e6 * 850000 div 1000000) div outdeg").as("c"))
        .groupBy(col("source")).agg(sum(col("c")).as("in_mass"))
      rank = Dedup.stage(nodes.join(contrib, Seq("source"), "left")
        .select(col("source"),
          (lit(150000L) + coalesce(col("in_mass"), lit(0L))).as("rank_e6")))
    }
    rank.join(outdeg.withColumnRenamed("src", "source"), Seq("source"), "left")
      .select(col("source"), col("rank_e6"),
        coalesce(col("outdeg"), lit(0L)).as("outdeg"))
      .orderBy(col("rank_e6").desc, col("source"))
  }

  val domainPagerankSql: String = {
    val rounds = (1 to PrRounds).map { i =>
      s"""r$i AS MATERIALIZED (SELECT n.source,
         |    150000 + COALESCE(CAST(SUM((r.rank_e6 * 850000 // 1000000) // o.outdeg) AS BIGINT), 0) AS rank_e6
         |  FROM nodes n
         |  LEFT JOIN edges e ON e.dst = n.source
         |  LEFT JOIN r${i - 1} r ON r.source = e.src
         |  LEFT JOIN outdeg o ON o.src = e.src
         |  GROUP BY n.source)""".stripMargin
    }.mkString(",\n")
    s"""WITH segs AS (SELECT DISTINCT source, trim(seg) AS seg FROM (
       |    SELECT source, unnest(${sentenceSegsSql("text")}) AS seg
       |    FROM documents) WHERE trim(seg) <> ''),
       |dfq AS (SELECT seg FROM (SELECT seg, COUNT(*) AS seg_df FROM segs GROUP BY seg)
       |  WHERE seg_df >= 2 AND seg_df <= $PrSegDfCap),
       |capped AS (SELECT source, segs.seg FROM segs JOIN dfq ON segs.seg = dfq.seg),
       |edges AS (SELECT DISTINCT a.source AS src, b.source AS dst
       |  FROM capped a JOIN capped b ON a.seg = b.seg AND a.source <> b.source),
       |outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT source FROM documents),
       |r0 AS MATERIALIZED (SELECT source, CAST(1000000 AS BIGINT) AS rank_e6 FROM nodes),
       |$rounds
       |SELECT r.source, r.rank_e6, COALESCE(o.outdeg, 0) AS outdeg
       |FROM r$PrRounds r LEFT JOIN outdeg o ON o.src = r.source
       |ORDER BY r.rank_e6 DESC, r.source""".stripMargin
  }

  // ---- q163: HITS hubs/authorities on the re-use-directed graph ----

  val HitsRounds = 4

  /** q163: HITS hubs and authorities — the directed companion to
    * q138's PageRank. q138's shared-segment edges are symmetric, so
    * HITS on them would collapse to hub = authority; here each edge is
    * ORIENTED by provenance: for every df-capped shared segment the
    * ORIGIN is the source holding the segment's globally-earliest
    * doc_id (first publisher — unique, since doc_ids are), and every
    * re-using source links to it. Authorities are heavily-copied
    * origins; hubs aggregate many origins' content — exactly the
    * template-hub / content-farm split a curation pipeline wants.
    *
    * Arithmetic is integer fixed-point like q138: per half-round, sum
    * the counterpart score over edges, then L∞-normalize as
    * `raw · 1e6 div max(raw)` (the HITS norm made exact — truncating
    * integer division both engines share), so 4 rounds are
    * bit-reproducible at any parallelism. Per-round cost is bounded
    * by the DOMAIN graph (nodes = sources), each round
    * localCheckpoints, and the edge build reuses q138's df-cap so no
    * universal segment can go quadratic. Oracle = unrolled
    * a/h CTE rounds AS MATERIALIZED. */
  def domainHits(s: SparkSession, dir: String): DataFrame = {
    // r16 spread reverted in r17 (driver: q163 +1.06 vs r15, scale
    // 1.25 but absolute loss; r17 in-JVM A/B: revert −0.91 s)
    val segs = Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text"))
      .select(col("doc_id"), col("source"),
        explode_outer(sentenceSegs(col("text")))
          .as("seg"))
      .withColumn("seg", trim(col("seg")))
      .filter(col("seg").isNotNull && length(col("seg")) > 0)
      .groupBy(col("source"), col("seg")).agg(min(col("doc_id")).as("min_doc"))
    val dfq = segs.groupBy(col("seg")).agg(count(lit(1)).as("seg_df"))
      .filter(col("seg_df") >= 2 && col("seg_df") <= PrSegDfCap)
      .select(col("seg"))
    val capped = Dedup.stage(segs.join(dfq, Seq("seg")))
    val origin = capped.groupBy(col("seg"))
      .agg(min_by(col("source"), col("min_doc")).as("origin"))
    val edges = Dedup.stage(capped.join(origin, Seq("seg"))
      .filter(col("source") =!= col("origin"))
      .select(col("source").as("src"), col("origin").as("dst"))
      .distinct())
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val indeg = edges.groupBy(col("dst")).agg(count(lit(1)).as("indeg"))
    // staged: the node dim joins into every half-round — without the
    // checkpoint each round would re-scan + re-distinct the corpus
    val nodes = Dedup.stage(Tables.documents(s, dir).select(col("source")).distinct())
    var hub = nodes.withColumn("h_e6", lit(1000000L))
    var auth = nodes.withColumn("a_e6", lit(0L))
    for (_ <- 1 to HitsRounds) {
      val aContrib = edges.join(hub, edges("src") === hub("source"))
        .groupBy(col("dst")).agg(sum(col("h_e6")).as("raw"))
        .withColumnRenamed("dst", "source")
      val aRaw = nodes.join(aContrib, Seq("source"), "left")
        .select(col("source"), coalesce(col("raw"), lit(0L)).as("raw"))
      val amx = aRaw.agg(greatest(max(col("raw")), lit(1L)).as("mx"))
      auth = Dedup.stage(aRaw.crossJoin(broadcast(amx))
        .select(col("source"), expr("raw * 1000000 div mx").as("a_e6")))
      val hContrib = edges.join(auth, edges("dst") === auth("source"))
        .groupBy(col("src")).agg(sum(col("a_e6")).as("raw"))
        .withColumnRenamed("src", "source")
      val hRaw = nodes.join(hContrib, Seq("source"), "left")
        .select(col("source"), coalesce(col("raw"), lit(0L)).as("raw"))
      val hmx = hRaw.agg(greatest(max(col("raw")), lit(1L)).as("mx"))
      hub = Dedup.stage(hRaw.crossJoin(broadcast(hmx))
        .select(col("source"), expr("raw * 1000000 div mx").as("h_e6")))
    }
    nodes.join(hub, Seq("source")).join(auth, Seq("source"))
      .join(outdeg.withColumnRenamed("src", "source"), Seq("source"), "left")
      .join(indeg.withColumnRenamed("dst", "source"), Seq("source"), "left")
      .select(col("source"), col("h_e6").as("hub_e6"), col("a_e6").as("auth_e6"),
        coalesce(col("outdeg"), lit(0L)).as("outdeg"),
        coalesce(col("indeg"), lit(0L)).as("indeg"))
      .orderBy(col("auth_e6").desc, col("hub_e6").desc, col("source"))
  }

  val domainHitsSql: String = {
    val rounds = (1 to HitsRounds).map { i =>
      s"""a${i}r AS MATERIALIZED (SELECT n.source,
         |    COALESCE(CAST(SUM(h.h_e6) AS BIGINT), 0) AS raw
         |  FROM nodes n
         |  LEFT JOIN edges e ON e.dst = n.source
         |  LEFT JOIN h${i - 1} h ON h.source = e.src
         |  GROUP BY n.source),
         |a$i AS MATERIALIZED (SELECT source,
         |    raw * 1000000 // (SELECT GREATEST(MAX(raw), 1) FROM a${i}r) AS a_e6
         |  FROM a${i}r),
         |h${i}r AS MATERIALIZED (SELECT n.source,
         |    COALESCE(CAST(SUM(a.a_e6) AS BIGINT), 0) AS raw
         |  FROM nodes n
         |  LEFT JOIN edges e ON e.src = n.source
         |  LEFT JOIN a$i a ON a.source = e.dst
         |  GROUP BY n.source),
         |h$i AS MATERIALIZED (SELECT source,
         |    raw * 1000000 // (SELECT GREATEST(MAX(raw), 1) FROM h${i}r) AS h_e6
         |  FROM h${i}r)""".stripMargin
    }.mkString(",\n")
    s"""WITH segs AS (SELECT source, trim(seg) AS seg, MIN(doc_id) AS min_doc FROM (
       |    SELECT doc_id, source, unnest(${sentenceSegsSql("text")}) AS seg
       |    FROM documents) WHERE trim(seg) <> '' GROUP BY source, trim(seg)),
       |dfq AS (SELECT seg FROM (SELECT seg, COUNT(*) AS seg_df FROM segs GROUP BY seg)
       |  WHERE seg_df >= 2 AND seg_df <= $PrSegDfCap),
       |capped AS (SELECT segs.source, segs.seg, segs.min_doc
       |  FROM segs JOIN dfq ON segs.seg = dfq.seg),
       |origin AS (SELECT seg, arg_min(source, min_doc) AS origin FROM capped GROUP BY seg),
       |edges AS (SELECT DISTINCT c.source AS src, o.origin AS dst
       |  FROM capped c JOIN origin o ON c.seg = o.seg WHERE c.source <> o.origin),
       |outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
       |indeg AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS indeg FROM edges GROUP BY dst),
       |nodes AS (SELECT DISTINCT source FROM documents),
       |h0 AS MATERIALIZED (SELECT source, CAST(1000000 AS BIGINT) AS h_e6 FROM nodes),
       |$rounds
       |SELECT n.source, h.h_e6 AS hub_e6, a.a_e6 AS auth_e6,
       |  COALESCE(o.outdeg, 0) AS outdeg, COALESCE(i.indeg, 0) AS indeg
       |FROM nodes n
       |JOIN h$HitsRounds h ON h.source = n.source
       |JOIN a$HitsRounds a ON a.source = n.source
       |LEFT JOIN outdeg o ON o.src = n.source
       |LEFT JOIN indeg i ON i.dst = n.source
       |ORDER BY auth_e6 DESC, hub_e6 DESC, n.source""".stripMargin
  }

  // ---- q139: distributed PCA direction via integer power iteration ----

  val PcaRounds = 4
  val PcaDim = 64

  /** q139: the distributed-PCA core pattern — ONE corpus-scale
    * aggregation builds the 64x64 Gram matrix of the micro-int
    * embeddings (the outer-product sum every data-parallel PCA
    * computes), then the top principal direction comes from 4 rounds
    * of POWER ITERATION in integer fixed-point: `w = G'·v` with
    * `G' = Σ m_i·m_j div N div 1000` (scale-invariant — the divisor
    * normalizes by corpus size so entries don't grow with N), then
    * L∞ renormalize `v = w div greatest(max|w| div 1e6, 1)`. Every
    * step is the truncating integer division both engines share, so
    * the direction is bit-reproducible at any parallelism. The
    * iteration runs on a 64-row vector against a 4096-row matrix —
    * model-sized; only the Gram build touches the corpus. Oracle =
    * chained CTE rounds AS MATERIALIZED. */
  def pcaPower(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    // ONE corpus aggregate builds count + all d² outer-product sums
    // (native GramMatrix fold — no posexplode, no self-join, no
    // separate count() scan). The collected Gram matrix is a BOUNDED
    // model (d² + 1 = 4097 longs, independent of corpus size — the
    // k-row-codebook precedent), so the 4-round power iteration runs
    // driver-local integer arithmetic instead of 4 distributed
    // join+agg rounds over a 64-row vector: identical truncating-div
    // math (Java / == SQL div for the signs involved), zero per-round
    // job overhead. Only the Gram build ever touches the corpus.
    val cells = Tables.embeddings(s, dir)
      .select(Similarity.microVec(col("embedding")).as("m"))
      .agg(Similarity.gramCells(col("m"), PcaDim).as("cells"))
      .head().getSeq[Long](0)
    val n = cells(0)
    val g = Array.tabulate(PcaDim * PcaDim)(c => cells(1 + c) / n / 1000L)
    var v = Array.fill(PcaDim)(1000000L)
    for (_ <- 1 to PcaRounds) {
      val w = Array.tabulate(PcaDim) { i =>
        var acc = 0L
        var j = 0
        while (j < PcaDim) { acc += g(i * PcaDim + j) * v(j); j += 1 }
        acc
      }
      val mx = w.map(math.abs).max
      val scale = math.max(mx / 1000000L, 1L)
      v = w.map(_ / scale)
    }
    import s.implicits._
    v.zipWithIndex.map { case (ve, i) => (i.toLong, ve) }.toSeq
      .toDF("dim_idx", "v_e6")
      .orderBy(col("dim_idx"))
  }

  val pcaPowerSql: String = {
    val micro = "list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
    val rounds = (1 to PcaRounds).map { t =>
      s"""w$t AS MATERIALIZED (SELECT g.i, CAST(SUM(g.gv * v.v) AS BIGINT) AS w
         |  FROM g JOIN v${t - 1} v ON g.j = v.i GROUP BY g.i),
         |v$t AS MATERIALIZED (SELECT i,
         |    w // GREATEST((SELECT MAX(ABS(w)) FROM w$t) // 1000000, 1) AS v
         |  FROM w$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH m AS (SELECT vec_id, $micro AS m FROM embeddings),
       |n AS (SELECT COUNT(*) AS n FROM embeddings),
       |e AS (SELECT vec_id, unnest(m) AS mi, generate_subscripts(m, 1) - 1 AS i FROM m),
       |g AS (SELECT a.i, b.i AS j,
       |    CAST(SUM(a.mi * b.mi) AS BIGINT) // (SELECT n FROM n) // 1000 AS gv
       |  FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY a.i, b.i),
       |v0 AS MATERIALIZED (SELECT CAST(range AS INTEGER) AS i,
       |    CAST(1000000 AS BIGINT) AS v FROM range($PcaDim)),
       |$rounds
       |SELECT CAST(i AS BIGINT) AS dim_idx, v AS v_e6
       |FROM v$PcaRounds ORDER BY dim_idx""".stripMargin
  }

  // ---- q140: collocation extraction (integer-PMI phrase detection) ----

  val CollocTopK = 25
  val CollocMinCount = 5

  /** q140: statistical phrase detection — the word2vec-style
    * collocation step that finds bigrams occurring far more often than
    * their parts predict. The PMI's `log` never appears: pairs rank by
    * the e6 LIFT ratio `(c_ab·N)/(c_a·c_b)` — one fixed IEEE tree,
    * monotone in PMI, bit-reproducible (the q134 recipe). Counting
    * runs on (gram) hash aggs; the global top-k goes through
    * TopKPerKeyExec's bounded heap, nothing corpus-sized sorts. */
  def collocations(s: SparkSession, dir: String): DataFrame = {
    val toked = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(fold(col("text"))).as("toks"))
    val uni = Dedup.stage(toked
      .select(explode_outer(col("toks")).as("tok"))
      .filter(col("tok").isNotNull)
      .groupBy(col("tok")).agg(count(lit(1)).as("c")))
    val n = uni.agg(sum(col("c")).as("n_tokens"))
    val bi = toked
      .select(explode_outer(
        graft.functions.GraftFunctions.tokenShingles(col("toks"), 2)).as("bg"))
      .filter(col("bg").isNotNull)
      .groupBy(col("bg")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= CollocMinCount)
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
    val scored = bi
      .join(broadcast(uni.select(col("tok").as("w1"), col("c").as("c_a"))), Seq("w1"))
      .join(broadcast(uni.select(col("tok").as("w2"), col("c").as("c_b"))), Seq("w2"))
      .crossJoin(broadcast(n))
      .select(col("bg"), col("c_ab"), col("c_a"), col("c_b"),
        e6Col((col("c_ab").cast("double") * col("n_tokens").cast("double")) /
          (col("c_a").cast("double") * col("c_b").cast("double"))).as("lift_e6"))
      .withColumn("g", lit(1))
    graft.plans.Plans.topKPerKeyRanked(scored, Seq(scored("g")),
      Seq((scored("lift_e6"), true), (scored("bg"), false)), CollocTopK, "rnk")
      .select(col("rnk").cast("long").as("rnk"), col("bg"), col("c_ab"),
        col("c_a"), col("c_b"), col("lift_e6"))
      .orderBy(col("rnk"))
  }

  private def e6Col(c: org.apache.spark.sql.Column) =
    round(c * lit(1000000.0)).cast("long")

  val collocationsSql: String =
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |pos AS (SELECT doc_id, t, unnest(t) AS tok, generate_subscripts(t, 1) AS i FROM toks),
       |uni AS (SELECT tok, COUNT(*) AS c FROM pos GROUP BY tok),
       |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM uni),
       |bi AS (SELECT t[i] || ' ' || t[i+1] AS bg, t[i] AS w1, t[i+1] AS w2, COUNT(*) AS c_ab
       |  FROM pos WHERE i + 1 <= len(t) GROUP BY t[i] || ' ' || t[i+1], t[i], t[i+1]
       |  HAVING COUNT(*) >= $CollocMinCount),
       |scored AS (SELECT bg, c_ab, a.c AS c_a, b.c AS c_b,
       |    ${e6Sql("""(CAST(c_ab AS DOUBLE) * CAST(n_tokens AS DOUBLE)) /
       |      (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE))""")} AS lift_e6
       |  FROM bi JOIN uni a ON bi.w1 = a.tok JOIN uni b ON bi.w2 = b.tok CROSS JOIN n)
       |SELECT CAST(rn AS BIGINT) AS rnk, bg,
       |  CAST(c_ab AS BIGINT) AS c_ab, CAST(c_a AS BIGINT) AS c_a,
       |  CAST(c_b AS BIGINT) AS c_b, lift_e6
       |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY lift_e6 DESC, bg) AS rn FROM scored)
       |WHERE rn <= $CollocTopK ORDER BY rnk""".stripMargin

  // ---- q180: LSH band-geometry operating curve ----

  /** The swept geometries over the same 8-value signature:
    * 8 bands × 1 row (recall-max), the production 4×2, and 2×4
    * (precision-max). */
  val BandSweep: Seq[(Int, Int)] = Seq((8, 1), (4, 2), (2, 4))

  /** q180: the band-geometry OPERATING CURVE — q128 swept across LSH
    * configurations, the q160 genre applied to the dedup family: the
    * same 8-value MinHash signature banded 8×1 / 4×2 / 2×4, each
    * config's candidates judged against the exact-Jaccard truth. One
    * row per geometry with measured precision/recall — the curve a
    * pipeline reads to pick its bands before a 100 TB dedup run,
    * where a precision point is a quadratic candidate-volume term and
    * a recall point is retained duplicate mass.
    *
    * Scale shape: the shingle stream, the truth pairs and the
    * signature table are each staged ONCE and shared by all three
    * configs (the q160 one-scan recipe); each config adds only its
    * band explode + bucket self-join + one-row fold. */
  def lshBandSweep(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val reps = Dedup.exact(docs, "text", "doc_id")
    // staged for truth + signatures only below the footprint
    // threshold, lazy past it; the downstream shape probe reads the
    // source parquet via probeFrom (see lshEval for both measured
    // cliffs)
    val raw = Dedup.shingles(reps, "text", "doc_id")
    val sh = if (Dedup.atScale(docs)) raw else Dedup.stage(raw)
    val truth = Dedup.stage(
      Dedup.jaccardPairs(sh, "doc_id", dfCap = Some(DedupQueries.JaccardDfCap),
        probeFrom = Some(docs))
        .select(col("doc_a"), col("doc_b"), lit(true).as("is_true")))
    val sig = Dedup.stage(Dedup.minhashSignatures(sh, "doc_id"))
    BandSweep.map { case (nb, rpb) =>
      val bands = Dedup.minhashBandsConfig(sig, "doc_id", nb, rpb)
      val a = bands.select(col("doc_id").as("doc_a"), col("band_id"), col("band_val"))
      val b = bands.select(col("doc_id").as("doc_b"), col("band_id"), col("band_val"))
      val cand = a.join(b, Seq("band_id", "band_val"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b")).distinct()
        .withColumn("is_cand", lit(true))
      truth.join(cand, Seq("doc_a", "doc_b"), "full_outer")
        .agg(
          sum(when(col("is_true"), 1L).otherwise(0L)).as("n_true"),
          sum(when(col("is_cand"), 1L).otherwise(0L)).as("n_cand"),
          sum(when(col("is_true") && col("is_cand"), 1L).otherwise(0L)).as("n_hit"))
        .select(lit(nb.toLong).as("bands"), lit(rpb.toLong).as("rows_per_band"),
          col("n_true"), col("n_cand"), col("n_hit"),
          (col("n_cand") - col("n_hit")).as("n_false_pos"),
          (col("n_true") - col("n_hit")).as("n_false_neg"),
          round(lit(1000000.0) * col("n_hit").cast("double") /
            greatest(col("n_cand"), lit(1L)).cast("double")).cast("long").as("precision_e6"),
          round(lit(1000000.0) * col("n_hit").cast("double") /
            greatest(col("n_true"), lit(1L)).cast("double")).cast("long").as("recall_e6"))
    }.reduce(_ union _)
      .orderBy(col("rows_per_band"))
  }

  val lshBandSweepSql: String = {
    val mins = (0 until Dedup.MinhashK)
      .map(k => s"MIN(${Hashing.affineSql("h_base", k)}) AS h$k")
      .mkString(",\n    ")
    def armCtes(nb: Int, rpb: Int): String = {
      val bandSelects = (0 until nb).map { b =>
        val bv = (0 until rpb).map(r => s"CAST(h${b * rpb + r} AS VARCHAR)")
          .mkString(" || '_' || ")
        s"SELECT doc_id, $b AS band_id, $bv AS band_val FROM sigs"
      }.mkString("\n  UNION ALL ")
      s"""bands_${nb}x$rpb AS (
         |  $bandSelects),
         |cand_${nb}x$rpb AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands_${nb}x$rpb a JOIN bands_${nb}x$rpb b
         |    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
         |agg_${nb}x$rpb AS (SELECT
         |    CAST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
         |    CAST(SUM(CASE WHEN is_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
         |    CAST(SUM(CASE WHEN is_true AND is_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         |  FROM (SELECT t.doc_a IS NOT NULL AS is_true, c.doc_a IS NOT NULL AS is_cand
         |    FROM truth t FULL OUTER JOIN cand_${nb}x$rpb c
         |      ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b))""".stripMargin
    }
    def armSelect(nb: Int, rpb: Int): String =
      s"""SELECT CAST($nb AS BIGINT) AS bands, CAST($rpb AS BIGINT) AS rows_per_band,
         |  n_true, n_cand, n_hit,
         |  n_cand - n_hit AS n_false_pos,
         |  n_true - n_hit AS n_false_neg,
         |  ${e6Sql("CAST(n_hit AS DOUBLE) / GREATEST(n_cand, 1)")} AS precision_e6,
         |  ${e6Sql("CAST(n_hit AS DOUBLE) / GREATEST(n_true, 1)")} AS recall_e6
         |FROM agg_${nb}x$rpb""".stripMargin
    s"""WITH ${DedupQueries.RepsCte},
       |${DedupQueries.ShinglesCte},
       |shc AS (SELECT doc_id, shingle FROM (
       |    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
       |  WHERE df <= ${DedupQueries.JaccardDfCap}),
       |sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM shc GROUP BY doc_id),
       |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS intersect_n
       |  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |truth AS (SELECT doc_a, doc_b FROM pairs
       |  JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE intersect_n * 2 >= sa.set_size + sb.set_size - intersect_n),
       |hashed AS (SELECT doc_id, ${Hashing.polyHashSql("shingle")} AS h_base FROM sh),
       |sigs AS (SELECT doc_id,
       |    $mins
       |  FROM hashed GROUP BY doc_id),
       |${BandSweep.map { case (nb, rpb) => armCtes(nb, rpb) }.mkString(",\n")}
       |${BandSweep.map { case (nb, rpb) => armSelect(nb, rpb) }.mkString("\nUNION ALL\n")}
       |ORDER BY rows_per_band""".stripMargin
  }

  // ---- q182: consecutive token-run detection (loop artifacts) ----

  val RunPosBase = 1L << 20
  val RunLoopMin = 4L

  /** q182: consecutive-repeat RUN detection — the "the the the the"
    * loop-artifact signal. q71's Gopher shares count global repetition;
    * a decoding loop (or a scraper stutter) is CONSECUTIVE repetition,
    * invisible to shares when the doc is long. Per doc: run count, the
    * longest run (length, token, start — earliest wins ties), runs of
    * length >= 3, and the looping verdict at >= 4.
    *
    * Scale shape: runs come from lag + cumulative-sum windows
    * partitioned BY DOC over position (bounded partitions — a doc,
    * never the corpus; the q132 window grain). The longest-run argmax
    * is the q147 packed-long trick (`len·2²⁰ − start` under a plain
    * max — a struct max with the token inside would carry a var-width
    * buffer and fall to SortAggregate); the token rides in via a
    * doc-keyed join-back on the staged run table. */
  def tokenRuns(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = Dedup.spread(Tables.documents(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), posexplode(tokens(fold(col("text")))).as(Seq("i", "tok")))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val runs = Dedup.stage(pos
      .withColumn("new_run",
        when(lag(col("tok"), 1).over(byDoc) === col("tok"), 0L).otherwise(1L))
      .withColumn("run_id", sum(col("new_run")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("run_id"))
      .agg(min(col("tok")).as("tok"), count(lit(1)).as("len"),
        min(col("i")).cast("long").as("start")))
    val perDoc = runs
      .groupBy(col("doc_id"))
      .agg(
        sum(col("len")).as("n_tokens"),
        count(lit(1)).as("n_runs"),
        max(col("len") * RunPosBase - col("start")).as("best_key"),
        sum(when(col("len") >= 3, 1L).otherwise(0L)).as("n_runs_ge3"))
    perDoc
      .join(runs.select(col("doc_id"),
        (col("len") * RunPosBase - col("start")).as("best_key"),
        col("tok").as("run_token"), col("len").as("max_run_len"),
        col("start").as("run_start")), Seq("doc_id", "best_key"))
      .select(col("doc_id"), col("n_tokens"), col("n_runs"),
        col("max_run_len"), col("run_token"), col("run_start"),
        col("n_runs_ge3"),
        (col("max_run_len") >= RunLoopMin).as("looping"))
      .orderBy(col("doc_id"))
  }

  val tokenRunsSql: String =
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |pos AS (SELECT doc_id, generate_subscripts(t, 1) - 1 AS i, unnest(t) AS tok FROM toks),
       |nr AS (SELECT doc_id, i, tok,
       |    CASE WHEN LAG(tok) OVER (PARTITION BY doc_id ORDER BY i) = tok THEN 0 ELSE 1 END AS new_run
       |  FROM pos),
       |rid AS (SELECT doc_id, i, tok,
       |    SUM(new_run) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
       |  FROM nr),
       |runs AS (SELECT doc_id, run_id, MIN(tok) AS tok,
       |    CAST(COUNT(*) AS BIGINT) AS len, CAST(MIN(i) AS BIGINT) AS start
       |  FROM rid GROUP BY doc_id, run_id),
       |pd AS (SELECT doc_id,
       |    CAST(SUM(len) AS BIGINT) AS n_tokens,
       |    COUNT(*) AS n_runs,
       |    CAST(MAX(len * $RunPosBase - start) AS BIGINT) AS best_key,
       |    CAST(SUM(CASE WHEN len >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_runs_ge3
       |  FROM runs GROUP BY doc_id)
       |SELECT pd.doc_id, pd.n_tokens, pd.n_runs,
       |  r.len AS max_run_len, r.tok AS run_token, r.start AS run_start,
       |  pd.n_runs_ge3, r.len >= $RunLoopMin AS looping
       |FROM pd JOIN runs r
       |  ON pd.doc_id = r.doc_id AND r.len * $RunPosBase - r.start = pd.best_key
       |ORDER BY pd.doc_id""".stripMargin

  // ---- q177: curriculum data layout (easy→hard by LM surprisal) ----

  val CurricShards = 8L

  /** q177: CURRICULUM ordering — the data-layout step of curriculum
    * learning: the corpus is laid out easy→hard (q127's surprisal
    * buckets head < middle < tail), hash-shuffled WITHIN each bucket
    * (deterministic md5 rank, so the curriculum is reproducible), then
    * dealt round-robin into shards — every reader sees its own
    * easy→hard ramp. Completes the layout family (q131 uniform
    * shuffle, q75 packing, q145 length batching) with the
    * quality-ordered variant.
    *
    * Scale shape: the surprisal signal is q127's staged (doc, tok)
    * chain; the within-bucket rank is the two-level `stratumHashRank`
    * (no single-bucket sort — a bucket is a third of the corpus, the
    * exact shape the q74 fix exists for); bucket offsets are a window
    * over the 3-row bucket dim, broadcast back. Shard/position are
    * pure integer arithmetic on the global position. */
  def curriculumLayout(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r16 spread reverted in r17 (in-JVM A/B: revert −0.41 s)
    val sur = Curation.unigramSurprisal(
      Curation.termCounts(Tables.documents(s, dir), "text", "doc_id"), "doc_id")
      .withColumn("bucket",
        when(col("milli_bits_per_token") < HeadMaxMilli, "head")
          .when(col("milli_bits_per_token") < MiddleMaxMilli, "middle")
          .otherwise("tail"))
      .select(col("doc_id"), col("milli_bits_per_token"), col("bucket"))
    val ranked = Curation.stratumHashRank(sur, "bucket", "doc_id")
    val bord = when(col("bucket") === "head", 0L)
      .when(col("bucket") === "middle", 1L).otherwise(2L)
    val offs = ranked.groupBy(col("bucket")).agg(count(lit(1)).as("bn"))
      .withColumn("bord", bord)
      .withColumn("off", coalesce(
        sum(col("bn")).over(Window.partitionBy(lit(1)).orderBy(col("bord"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("off"))
    ranked.join(broadcast(offs), Seq("bucket"))
      .withColumn("cur_pos", col("off") + col("rk"))
      .withColumn("shard", (col("cur_pos") - 1) % CurricShards)
      .withColumn("shard_pos", expr(s"(cur_pos - 1) div $CurricShards"))
      .select(col("doc_id"), col("bucket"), col("milli_bits_per_token"),
        col("cur_pos"), col("shard"), col("shard_pos"))
      .orderBy(col("doc_id"))
  }

  val curriculumLayoutSql: String =
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |pos AS (SELECT doc_id, unnest(t) AS tok FROM toks),
       |dt AS (SELECT doc_id, tok, COUNT(*) AS dc FROM pos GROUP BY doc_id, tok),
       |tokc AS (SELECT tok, CAST(SUM(dc) AS BIGINT) AS cnt FROM dt GROUP BY tok),
       |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM tokc),
       |bits AS (SELECT tok,
       |    CAST(length(bin(n_total)) - length(bin(cnt)) AS BIGINT) AS bits
       |  FROM tokc CROSS JOIN n),
       |sc AS (SELECT doc_id, CAST(SUM(dc) AS BIGINT) AS n_tokens,
       |    CAST(SUM(dc * bits) AS BIGINT) AS total_bits
       |  FROM dt JOIN bits USING (tok) GROUP BY doc_id),
       |b AS (SELECT doc_id, (1000 * total_bits) // n_tokens AS milli_bits_per_token,
       |    CASE WHEN (1000 * total_bits) // n_tokens < $HeadMaxMilli THEN 'head'
       |         WHEN (1000 * total_bits) // n_tokens < $MiddleMaxMilli THEN 'middle'
       |         ELSE 'tail' END AS bucket
       |  FROM sc),
       |rkd AS (SELECT doc_id, milli_bits_per_token, bucket,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY bucket
       |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
       |  FROM b),
       |bo AS (SELECT bucket, COUNT(*) AS bn,
       |    CASE WHEN bucket = 'head' THEN 0 WHEN bucket = 'middle' THEN 1 ELSE 2 END AS bord
       |  FROM b GROUP BY bucket),
       |offs AS (SELECT bucket, COALESCE(SUM(bn) OVER (ORDER BY bord
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM bo)
       |SELECT r.doc_id, r.bucket, r.milli_bits_per_token,
       |  CAST(o.off + r.rk AS BIGINT) AS cur_pos,
       |  CAST((o.off + r.rk - 1) % $CurricShards AS BIGINT) AS shard,
       |  CAST((o.off + r.rk - 1) // $CurricShards AS BIGINT) AS shard_pos
       |FROM rkd r JOIN offs o ON r.bucket = o.bucket
       |ORDER BY r.doc_id""".stripMargin

  // ---- q175: per-snapshot vs global dedup accounting (FineWeb) ----

  val SnapMod = 4L

  /** q175: the per-snapshot/global dedup ledger — the accounting
    * behind FineWeb's finding that deduplicating each crawl snapshot
    * INDEPENDENTLY beats global dedup, taken at CCNet's actual dedup
    * unit, the SEGMENT (paragraph/line hash): snapshots are doc_id
    * mod 4 (the arrival partition); per snapshot: its segment
    * occurrences, distinct segment signatures, within-snapshot
    * duplicate mass (what per-snapshot dedup removes), the signatures
    * KEPT by per-snapshot dedup that an earlier snapshot already
    * holds (exactly the extra mass global dedup would also remove —
    * the quantity the two policies disagree on), and the global-first
    * signatures. Rates e6.
    *
    * Scale shape: one (sig, snap) hash agg over the corpus segments, a
    * sig-keyed first-snapshot agg, and a sig-co-partitioned join —
    * the q91 two-shuffle shape; output is snapshot-dim-sized. The
    * staged (sig, snap) table feeds both consumers. */
  def snapshotDedup(s: SparkSession, dir: String): DataFrame = {
    val sigs = Tables.documents(s, dir)
      .select(col("doc_id"), (col("doc_id") % SnapMod).as("snap"),
        explode(sentenceSegs(col("text"))).as("seg"))
      .withColumn("seg", trim(col("seg")))
      .filter(length(col("seg")) > 0)
      .select(col("snap"), md5(col("seg")).as("sig"))
    val perSnap = Dedup.stage(
      sigs.groupBy(col("sig"), col("snap")).agg(count(lit(1)).as("cnt")))
    val firstSnap = perSnap.groupBy(col("sig")).agg(min(col("snap")).as("min_snap"))
    perSnap.join(firstSnap, Seq("sig"))
      .groupBy(col("snap"))
      .agg(
        sum(col("cnt")).as("n_segs"),
        count(lit(1)).as("n_sigs"),
        sum(col("cnt") - 1).as("dup_within"),
        sum(when(col("snap") > col("min_snap"), 1L).otherwise(0L)).as("cross_dup_kept"),
        sum(when(col("snap") === col("min_snap"), 1L).otherwise(0L)).as("kept_global"))
      .withColumn("within_rate_e6",
        e6Col(col("dup_within").cast("double") / col("n_segs").cast("double")))
      .withColumn("cross_kept_rate_e6",
        e6Col(col("cross_dup_kept").cast("double") / col("n_sigs").cast("double")))
      .orderBy(col("snap"))
  }

  val snapshotDedupSql: String =
    s"""WITH p AS (SELECT doc_id % $SnapMod AS snap,
       |    ${sentenceSegsSql("text")} AS segs
       |  FROM documents),
       |sigs AS (SELECT snap, md5(trim(seg)) AS sig FROM (
       |    SELECT snap, unnest(segs) AS seg FROM p)
       |  WHERE trim(seg) <> ''),
       |ps AS (SELECT sig, snap, COUNT(*) AS cnt FROM sigs GROUP BY sig, snap),
       |fs AS (SELECT sig, MIN(snap) AS min_snap FROM ps GROUP BY sig)
       |SELECT snap,
       |  CAST(SUM(cnt) AS BIGINT) AS n_segs,
       |  COUNT(*) AS n_sigs,
       |  CAST(SUM(cnt - 1) AS BIGINT) AS dup_within,
       |  CAST(SUM(CASE WHEN snap > min_snap THEN 1 ELSE 0 END) AS BIGINT) AS cross_dup_kept,
       |  CAST(SUM(CASE WHEN snap = min_snap THEN 1 ELSE 0 END) AS BIGINT) AS kept_global,
       |  ${e6Sql("CAST(SUM(cnt - 1) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)")} AS within_rate_e6,
       |  ${e6Sql("CAST(SUM(CASE WHEN snap > min_snap THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")} AS cross_kept_rate_e6
       |FROM ps JOIN fs USING (sig)
       |GROUP BY snap ORDER BY snap""".stripMargin

  // ---- q172: windowed skipgram associations (word2vec context lift) ----

  val SkipTopK = 15
  val SkipMinCount = 5
  val SkipMaxGap = 2

  /** q172: windowed CO-OCCURRENCE associations — the word2vec context
    * notion q140's adjacent bigrams don't capture: a pair can
    * associate at distance 2 ("new … york" split by a modifier)
    * without ever being adjacent. Directed pairs (t[i], t[i+g]) for
    * gaps g = 1..2 rank by the e6 lift against the pair table's own
    * left/right marginals at that gap (`c_ab·N_g / (c_a·c_b)` — the
    * contingency-table lift, monotone in PMI, no `log` in the gate),
    * top-15 PER GAP through TopKPerKeyExec's bounded per-key heaps.
    *
    * Scale shape: pair generation is MAP-SIDE array math (two shingle
    * projections of the token array — no self-join on position, which
    * would shuffle the corpus per gap); then one (gap, pair) hash agg.
    * Marginals and N_g are derived from the pair-count table
    * (vocab²-bounded, in practice vocab-sized) and joined BROADCAST.
    * Nothing corpus-sized sorts. */
  def skipgramAssoc(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.tokenShingles
    // r16 spread reverted in r17 (driver: q172 +0.58 vs r15, scale
    // 0.64; r17 in-JVM A/B: revert −0.49 s)
    val toked = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .select(col("doc_id"), tokens(fold(col("text"))).as("toks"))
    def pairsAt(g: Int): DataFrame = toked
      .select(explode_outer(tokenShingles(col("toks"), g + 1)).as("sh"))
      .filter(col("sh").isNotNull)
      .select(lit(g.toLong).as("gap"),
        split(col("sh"), " ").getItem(0).as("a"),
        split(col("sh"), " ").getItem(g).as("b"))
    val counts = Dedup.stage(
      (1 to SkipMaxGap).map(pairsAt).reduce(_ union _)
        .groupBy(col("gap"), col("a"), col("b")).agg(count(lit(1)).as("c_ab")))
    val leftM = counts.groupBy(col("gap"), col("a")).agg(sum(col("c_ab")).as("c_a"))
    val rightM = counts.groupBy(col("gap"), col("b")).agg(sum(col("c_ab")).as("c_b"))
    val ng = counts.groupBy(col("gap")).agg(sum(col("c_ab")).as("n_g"))
    val scored = counts.filter(col("c_ab") >= SkipMinCount)
      .join(broadcast(leftM), Seq("gap", "a"))
      .join(broadcast(rightM), Seq("gap", "b"))
      .join(broadcast(ng), Seq("gap"))
      .select(col("gap"), col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
        e6Col((col("c_ab").cast("double") * col("n_g").cast("double")) /
          (col("c_a").cast("double") * col("c_b").cast("double"))).as("lift_e6"))
    val ranked = graft.plans.Plans.topKPerKeyRanked(scored, Seq(scored("gap")),
      Seq((scored("lift_e6"), true), (scored("a"), false), (scored("b"), false)),
      SkipTopK, "rnk")
    ranked
      .select(col("gap"), col("rnk").cast("long").as("rnk"), col("a"), col("b"),
        col("c_ab"), col("c_a"), col("c_b"), col("lift_e6"))
      .orderBy(col("gap"), col("rnk"))
  }

  val skipgramAssocSql: String = {
    def pairArm(g: Int) =
      s"SELECT $g AS gap, t[i] AS a, t[i + $g] AS b FROM pos WHERE i + $g <= len(t)"
    val arms = (1 to SkipMaxGap).map(pairArm).mkString("\n  UNION ALL ")
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |pos AS (SELECT t, generate_subscripts(t, 1) AS i FROM toks),
       |pairs AS ($arms),
       |cnt AS (SELECT gap, a, b, CAST(COUNT(*) AS BIGINT) AS c_ab
       |  FROM pairs GROUP BY gap, a, b),
       |lm AS (SELECT gap, a, CAST(SUM(c_ab) AS BIGINT) AS c_a FROM cnt GROUP BY gap, a),
       |rm AS (SELECT gap, b, CAST(SUM(c_ab) AS BIGINT) AS c_b FROM cnt GROUP BY gap, b),
       |ng AS (SELECT gap, CAST(SUM(c_ab) AS BIGINT) AS n_g FROM cnt GROUP BY gap),
       |scored AS (SELECT cnt.gap, cnt.a, cnt.b, c_ab, c_a, c_b,
       |    ${e6Sql("""(CAST(c_ab AS DOUBLE) * CAST(n_g AS DOUBLE)) /
       |      (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))""")} AS lift_e6
       |  FROM cnt
       |  JOIN lm ON cnt.gap = lm.gap AND cnt.a = lm.a
       |  JOIN rm ON cnt.gap = rm.gap AND cnt.b = rm.b
       |  JOIN ng ON cnt.gap = ng.gap
       |  WHERE c_ab >= $SkipMinCount)
       |SELECT CAST(gap AS BIGINT) AS gap, CAST(rn AS BIGINT) AS rnk, a, b,
       |  c_ab, c_a, c_b, lift_e6
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY gap
       |    ORDER BY lift_e6 DESC, a, b) AS rn FROM scored)
       |WHERE rn <= $SkipTopK ORDER BY gap, rnk""".stripMargin
  }

  // ---- q145: length-bucketed dynamic batching (padding-waste audit) ----

  val LenBatchSize = 16
  val LenShards = 8
  val LenShardSeed = "lb1"

  /** q145: length-grouped batch layout — the dynamic-batching step
    * every training/inference loader runs: group docs into
    * power-of-two length buckets (floor-log2 via `length(bin(x))`,
    * engine-exact), deal each bucket into hash shards (the loader
    * grain, q131's trick — a length-skewed bucket spreads over
    * shards instead of one task), order each (bucket, shard) by
    * (n_tokens, doc_id) and cut batches of 16. Per batch: docs,
    * max/sum token lengths, the padded cost `max_len·n_docs` and the
    * e6 padding-waste share a padded batch wastes vs its content —
    * the metric that justifies length bucketing over arrival-order
    * batching. Shuffle only on (bucket, shard); windows bounded by
    * the shard grain. */
  def lengthBatches(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), size(tokens(fold(col("text")))).cast("long").as("n_tokens"))
      .withColumn("bucket", length(bin(col("n_tokens"))).cast("long"))
      .withColumn("shard",
        (Hashing.polyHash(concat(col("doc_id").cast("string"),
          lit(s":$LenShardSeed"))) % LenShards).cast("long"))
    val w = Window.partitionBy(col("bucket"), col("shard"))
      .orderBy(col("n_tokens"), col("doc_id"))
    base
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("batch_idx", expr(s"(rk - 1) div $LenBatchSize"))
      .groupBy(col("bucket"), col("shard"), col("batch_idx"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("n_tokens")).as("max_len"),
        sum(col("n_tokens")).as("sum_len"))
      .select(col("bucket"), col("shard"), col("batch_idx"),
        col("n_docs"), col("max_len"), col("sum_len"),
        (col("max_len") * col("n_docs")).as("padded_tokens"),
        e6Col(lit(1.0) - col("sum_len").cast("double") /
          (col("max_len") * col("n_docs")).cast("double")).as("pad_waste_e6"))
      .orderBy(col("bucket"), col("shard"), col("batch_idx"))
  }

  val lengthBatchesSql: String = {
    val h = Hashing.polyHashSql(s"CAST(doc_id AS VARCHAR) || ':$LenShardSeed'")
    s"""WITH lens AS (SELECT doc_id, CAST(len($ToksSql) AS BIGINT) AS n_tokens FROM documents),
       |b AS (SELECT doc_id, n_tokens,
       |    CAST(length(bin(n_tokens)) AS BIGINT) AS bucket,
       |    ($h) % $LenShards AS shard
       |  FROM lens),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket, shard
       |    ORDER BY n_tokens, doc_id) AS rk FROM b),
       |g AS (SELECT bucket, shard, (rk - 1) // $LenBatchSize AS batch_idx,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(MAX(n_tokens) AS BIGINT) AS max_len,
       |    CAST(SUM(n_tokens) AS BIGINT) AS sum_len
       |  FROM r GROUP BY bucket, shard, (rk - 1) // $LenBatchSize)
       |SELECT bucket, shard, batch_idx, n_docs, max_len, sum_len,
       |  max_len * n_docs AS padded_tokens,
       |  ${e6Sql("1.0 - CAST(sum_len AS DOUBLE) / CAST(max_len * n_docs AS DOUBLE)")} AS pad_waste_e6
       |FROM g ORDER BY bucket, shard, batch_idx""".stripMargin
  }

  // ---- q147: exact-substring duplicate-span removal (ExactSubstr) ----

  val SubstrK = 8

  /** q147: ExactSubstr-style duplicate-span removal — the span-level
    * dedup of Lee et al. 2022 that q91 only COUNTS: every non-first
    * occurrence of a duplicated 8-token gram marks its range for
    * deletion, ranges union into maximal spans per doc, and the
    * survivor text is hash-reported. The global first-occurrence
    * argmin is a packed `doc*2^20+pos` long min (HashAggregate,
    * map-side partials — never a per-gram rank window, which a
    * boilerplate hot gram would serialize at corpus scale); see
    * `Curation.exactSubstrDedup`. */
  def exactSubstr(s: SparkSession, dir: String): DataFrame =
    Curation.exactSubstrDedup(Tables.documents(s, dir), "text", "doc_id", SubstrK)
      .orderBy(col("doc_id"))

  val exactSubstrSql: String = {
    val gram = (0 until SubstrK).map(j => s"t[i+$j]").mkString(" || ' ' || ")
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |occ AS (SELECT doc_id, i, $gram AS gram
       |  FROM (SELECT doc_id, t, generate_subscripts(t, 1) AS i FROM toks)
       |  WHERE i + ${SubstrK - 1} <= len(t)),
       |stats AS (SELECT gram, COUNT(*) AS cnt,
       |    MIN(doc_id * ${Curation.PosBase} + i) AS first_key
       |  FROM occ GROUP BY gram),
       |del AS (SELECT doc_id, i FROM occ JOIN stats USING (gram)
       |  WHERE cnt > 1 AND doc_id * ${Curation.PosBase} + i <> first_key),
       |rem AS (SELECT DISTINCT doc_id, i + j AS ti
       |  FROM del CROSS JOIN (SELECT unnest(range(0, $SubstrK)) AS j)),
       |tok AS (SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS i
       |  FROM toks),
       |flg AS (SELECT tok.doc_id AS doc_id, tok.i AS i, tok.tok AS tok,
       |    (rem.ti IS NOT NULL) AS removed
       |  FROM tok LEFT JOIN rem ON rem.doc_id = tok.doc_id AND rem.ti = tok.i),
       |isl AS (SELECT doc_id, i, tok, removed,
       |    removed AND NOT COALESCE(
       |      LAG(removed) OVER (PARTITION BY doc_id ORDER BY i), FALSE) AS span_start
       |  FROM flg)
       |SELECT doc_id, COUNT(*) AS n_tokens,
       |  CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |  CAST(SUM(CASE WHEN span_start THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
       |  md5(COALESCE(string_agg(tok, ' ' ORDER BY i) FILTER (WHERE NOT removed), ''))
       |    AS kept_md5
       |FROM isl GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- q199: team-draft interleaving (online ranker A/B) ----

  val InterleaveK = 3

  /** q199: TEAM-DRAFT interleaving of the dense (q26 cosine) and
    * sparse (q134 BM25) rankings — the online-evaluation serving
    * artifact (Radlinski et al., CIKM'08): per query the two rankers'
    * top-3 lists merge round by round, each round's first pick decided
    * by a deterministic portable hash coin (so the interleave is
    * reproducible — a real deployment logs its coin), each team
    * contributing its best not-yet-taken item; clicks on the served
    * list then credit the team that supplied the clicked slot. The
    * missing half of offline eval (q95/q128 measure against ground
    * truth; interleaving is how rankers are compared on LIVE traffic).
    *
    * Scale shape: both input rankings are the already-gated bounded
    * operators; the draft runs 2k = 6 unrolled steps, each one
    * bounded distributed plan (anti-join on the selection + per-query
    * k=1 heaps) over queries x k rows — a million queries still cost
    * six rounds. Slot renumbering is a per-query window over <= 6
    * rows. */
  def teamDraft(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val emb = Tables.embeddings(s, dir)
    val dense = Similarity.bruteForceTopK(
      emb.filter(col("vec_id") < SimilarityQueries.QuerySetBound),
      emb.filter(col("vec_id") >= SimilarityQueries.QuerySetBound), InterleaveK)
      .select(col("q_vec_id").cast("long").as("query_id"),
        col("vec_id").as("item_id"), col("rank").cast("long").as("team_rank"))
      .withColumn("team", lit("dense"))
    val qt = s.createDataFrame(Bm25Queries).toDF("query_id", "term")
    val sparse = Curation.bm25TopK(Tables.documents(s, dir), "text", "doc_id",
      qt, InterleaveK)
      .select(col("query_id").cast("long").as("query_id"),
        col("doc_id").as("item_id"), col("rnk").cast("long").as("team_rank"))
      .withColumn("team", lit("sparse"))
    val lists = Dedup.stage(dense.unionByName(sparse))
    val both = lists.groupBy(col("query_id"), col("item_id"))
      .agg(count(lit(1)).as("nl")).withColumn("in_both", col("nl") === 2L)
      .select(col("query_id"), col("item_id"), col("in_both"))
    def pickTeamCol(t: Int): org.apache.spark.sql.Column = {
      val r = (t + 1) / 2
      val first = when(
        graft.functions.Hashing.polyHash(
          concat(col("query_id").cast("string"), lit(s":r$r"))) % 2 === 0,
        "dense").otherwise("sparse")
      if (t % 2 == 1) first
      else when(first === "dense", "sparse").otherwise("dense")
    }
    def pickAt(t: Int, sel: DataFrame): DataFrame = {
      val cand0 = lists.withColumn("pick_team", pickTeamCol(t))
        .filter(col("team") === col("pick_team"))
      val cand = if (sel == null) cand0
        else cand0.join(sel.select(col("query_id"), col("item_id")),
          Seq("query_id", "item_id"), "left_anti")
      graft.plans.Plans.topKPerKeyRanked(cand, Seq(cand("query_id")),
        Seq((cand("team_rank"), false), (cand("item_id"), false)), 1, "pr")
        .select(col("query_id"), col("item_id"), col("team"),
          col("team_rank"), lit(t.toLong).as("step"))
    }
    var sel = Dedup.stage(pickAt(1, null))
    for (t <- 2 to 2 * InterleaveK)
      sel = Dedup.stage(sel.unionByName(pickAt(t, sel)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("step"))
    sel.withColumn("slot", row_number().over(w).cast("long"))
      .join(both, Seq("query_id", "item_id"))
      .select(col("query_id"), col("slot"), col("step"), col("item_id"),
        col("team"), col("team_rank"), col("in_both"))
      .orderBy(col("query_id"), col("slot"))
  }

  val teamDraftSql: String = {
    import graft.functions.VectorFunctions.{dotSql, normSql}
    val dim = SimilarityQueries.Dim
    val dotQC = dotSql("q_emb", "embedding", dim)
    val values = Bm25Queries.map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    def pickTeamSql(t: Int): String = {
      val r = (t + 1) / 2
      val h = graft.functions.Hashing.polyHashSql(s"CAST(query_id AS VARCHAR) || ':r$r'")
      val first = s"CASE WHEN ($h) % 2 = 0 THEN 'dense' ELSE 'sparse' END"
      if (t % 2 == 1) first
      else s"CASE WHEN ($first) = 'dense' THEN 'sparse' ELSE 'dense' END"
    }
    val steps = (1 to 2 * InterleaveK).map { t =>
      val prevSel = if (t == 1) "" else
        s"""AND NOT EXISTS (SELECT 1 FROM sel${t - 1} x
           |      WHERE x.query_id = l.query_id AND x.item_id = l.item_id)""".stripMargin
      val pick =
        s"""pick$t AS (SELECT query_id, item_id, team, team_rank, CAST($t AS BIGINT) AS step
           |  FROM (SELECT l.*, ROW_NUMBER() OVER (PARTITION BY l.query_id
           |      ORDER BY l.team_rank, l.item_id) AS pr
           |    FROM lists l
           |    WHERE l.team = (${pickTeamSql(t)}) $prevSel)
           |  WHERE pr = 1)""".stripMargin
      val sel = if (t == 1) s"sel1 AS (SELECT * FROM pick1)"
        else s"sel$t AS MATERIALIZED (SELECT * FROM sel${t - 1} UNION ALL SELECT * FROM pick$t)"
      pick + ",\n" + sel
    }.mkString(",\n")
    s"""WITH dq AS (SELECT vec_id AS q_vec_id, embedding AS q_emb,
       |    ${normSql("embedding", dim)} AS q_norm
       |  FROM embeddings WHERE vec_id < ${SimilarityQueries.QuerySetBound}),
       |dc AS (SELECT vec_id, embedding, ${normSql("embedding", dim)} AS c_norm
       |  FROM embeddings WHERE vec_id >= ${SimilarityQueries.QuerySetBound}),
       |dense AS (SELECT CAST(q_vec_id AS BIGINT) AS query_id, vec_id AS item_id,
       |    CAST(rnk AS BIGINT) AS team_rank, 'dense' AS team FROM (
       |    SELECT q_vec_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q_vec_id ORDER BY
       |        CAST(ROUND((($dotQC) / (q_norm * c_norm)) * 1000000.0) AS BIGINT) DESC, vec_id) AS rnk
       |    FROM dc, dq) WHERE rnk <= $InterleaveK),
       |toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |pos AS (SELECT doc_id, unnest(t) AS tok FROM toks),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM pos GROUP BY doc_id, tok),
       |dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
       |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
       |norms AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total FROM dl),
       |q(query_id, term) AS (VALUES $values),
       |sscored AS (SELECT q.query_id, tf.doc_id,
       |    ${e6Sql("""(CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
       |      (CAST(n_docs AS DOUBLE) + 0.5) *
       |      ((CAST(tf AS DOUBLE) * 2.25) /
       |        (CAST(tf AS DOUBLE) + 1.25 *
       |          (0.25 + 0.75 * CAST(dl AS DOUBLE) /
       |            (CAST(total AS DOUBLE) / CAST(n_docs AS DOUBLE)))))""")} AS score_e6
       |  FROM tf JOIN q ON tf.tok = q.term
       |  JOIN dfq USING (tok) JOIN dl USING (doc_id) CROSS JOIN norms),
       |spq AS (SELECT query_id, doc_id, CAST(SUM(score_e6) AS BIGINT) AS score_e6
       |  FROM sscored GROUP BY query_id, doc_id),
       |sparse AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id AS item_id,
       |    CAST(rnk AS BIGINT) AS team_rank, 'sparse' AS team
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score_e6 DESC, doc_id) AS rnk FROM spq)
       |  WHERE rnk <= $InterleaveK),
       |lists AS MATERIALIZED (SELECT * FROM dense UNION ALL SELECT * FROM sparse),
       |both_f AS (SELECT query_id, item_id, COUNT(*) = 2 AS in_both
       |  FROM lists GROUP BY query_id, item_id),
       |$steps
       |SELECT s.query_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY s.query_id ORDER BY s.step) AS BIGINT) AS slot,
       |  s.step, s.item_id, s.team, s.team_rank, b.in_both
       |FROM sel${2 * InterleaveK} s JOIN both_f b
       |  ON s.query_id = b.query_id AND s.item_id = b.item_id
       |ORDER BY s.query_id, slot""".stripMargin
  }

  // ---- q148: sliding-window chunking with overlap (RAG / stride eval) ----

  val ChunkSize = 32
  val ChunkStride = 24

  /** q148: fixed-size token chunking with overlap — the chunker every
    * RAG embedding pipeline and strided-eval loader runs: windows of
    * 32 tokens starting every 24 (8-token overlap), the trailing
    * partial window kept. Per chunk: position, length, overlap with
    * the previous chunk, and the md5 of the space-joined slice (the
    * downstream embed/dedup key). Pure map-side column math over ONE
    * scan — `sequence` builds the start list, `posexplode` fans out,
    * `slice` cuts the window; no shuffle except the output order. */
  def chunkOverlap(s: SparkSession, dir: String): DataFrame = {
    val C = ChunkSize; val S = ChunkStride
    Tables.documents(s, dir)
      .select(col("doc_id"), tokens(fold(col("text"))).as("toks"))
      .withColumn("n", size(col("toks")))
      .select(col("doc_id"), col("toks"), col("n"),
        posexplode(sequence(lit(1), col("n"), lit(S))).as(Seq("m", "cs")))
      .select(col("doc_id"),
        col("m").cast("long").as("chunk_id"),
        col("cs").cast("long").as("chunk_start"),
        least(lit(C), col("n") - col("cs") + 1).cast("long").as("chunk_len"),
        when(col("m") === 0, 0L).otherwise(
          greatest(lit(0), least(col("cs") - S + C - 1, col("n")) - col("cs") + 1)
            .cast("long")).as("overlap_prev"),
        md5(array_join(
          slice(col("toks"), col("cs"), least(lit(C), col("n") - col("cs") + 1)),
          " ")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val chunkOverlapSql: String = {
    val (c, s) = (ChunkSize, ChunkStride)
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |ex AS (SELECT doc_id, t, len(t) AS n,
       |    unnest(range(1, len(t) + 1, $s)) AS cs,
       |    generate_subscripts(range(1, len(t) + 1, $s), 1) - 1 AS m
       |  FROM toks)
       |SELECT doc_id, CAST(m AS BIGINT) AS chunk_id,
       |  CAST(cs AS BIGINT) AS chunk_start,
       |  CAST(LEAST($c, n - cs + 1) AS BIGINT) AS chunk_len,
       |  CAST(CASE WHEN m = 0 THEN 0
       |    ELSE GREATEST(0, LEAST(cs - $s + ${c - 1}, n) - cs + 1) END AS BIGINT)
       |    AS overlap_prev,
       |  md5(array_to_string(t[cs:LEAST(cs + ${c - 1}, n)], ' ')) AS chunk_md5
       |FROM ex ORDER BY doc_id, chunk_id""".stripMargin
  }

  // ---- q149: corpus datasheet (per-stratum data card) ----------------

  val ShortDocTokens = 25

  /** q149: the per-(source, lang) DATA CARD a corpus release ships —
    * composition (docs, tokens, chars), vocabulary size, exact-dup
    * document count (corpus-wide folded-text signature df >= 2) and a
    * short-doc quality bucket, plus the e6 floor-division mean doc
    * length (integer, engine-exact). Shape: one scan staged once;
    * doc-level stats and the signature df are partial hash aggs with
    * a co-partitioned join on the signature; the vocab distinct is
    * (stratum, token)-keyed; strata join at dim size. No windows. */
  def datasheet(s: SparkSession, dir: String): DataFrame = {
    val docs = Dedup.stage(Tables.documents(s, dir).select(
      col("doc_id"), col("source"), col("lang"), col("n_chars"),
      tokens(fold(col("text"))).as("toks"), md5(fold(col("text"))).as("sig")))
    val docStats = docs.select(col("source"), col("lang"), col("n_chars"),
      size(col("toks")).cast("long").as("n_tok"), col("sig"))
    val sigDf = docStats.groupBy(col("sig")).agg(count(lit(1)).as("sig_df"))
    val strat = docStats.join(sigDf, Seq("sig"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_chars")).as("sum_chars"),
        sum(when(col("sig_df") > 1, 1L).otherwise(0L)).as("dup_docs"),
        sum(when(col("n_tok") < ShortDocTokens, 1L).otherwise(0L)).as("short_docs"))
    val vocab = docs
      .select(col("source"), col("lang"), explode(col("toks")).as("tok"))
      .groupBy(col("source"), col("lang"))
      .agg(count_distinct(col("tok")).as("vocab"))
    strat.join(vocab, Seq("source", "lang"))
      .withColumn("mean_len_e6", expr("n_tokens * 1000000 div n_docs"))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        col("sum_chars"), col("vocab"), col("dup_docs"), col("short_docs"),
        col("mean_len_e6"))
      .orderBy(col("source"), col("lang"))
  }

  val datasheetSql: String =
    s"""WITH d AS (SELECT doc_id, source, lang, n_chars, $ToksSql AS t,
       |    md5($FoldSql) AS sig FROM documents),
       |ds AS (SELECT source, lang, n_chars, CAST(len(t) AS BIGINT) AS n_tok, sig
       |  FROM d),
       |sd AS (SELECT sig, COUNT(*) AS sig_df FROM ds GROUP BY sig),
       |strat AS (SELECT source, lang,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |    CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |    CAST(SUM(CASE WHEN sig_df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
       |    CAST(SUM(CASE WHEN n_tok < $ShortDocTokens THEN 1 ELSE 0 END) AS BIGINT)
       |      AS short_docs
       |  FROM ds JOIN sd USING (sig) GROUP BY source, lang),
       |v AS (SELECT source, lang, CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab
       |  FROM (SELECT source, lang, unnest(t) AS tok FROM d) GROUP BY source, lang)
       |SELECT source, lang, n_docs, n_tokens, sum_chars, vocab, dup_docs,
       |  short_docs, n_tokens * 1000000 // n_docs AS mean_len_e6
       |FROM strat JOIN v USING (source, lang) ORDER BY source, lang""".stripMargin

  // ---- q150: cross-source duplication matrix (mirror detection) ------

  val OverlapSrcCap = 16

  /** q150: the source×source DUPLICATION MATRIX — which sources copy
    * from each other (mirror/syndication detection), at the segment
    * grain q126 dedups: for every duplicated segment, each unordered
    * source pair sharing it scores one; the diagonal counts segments
    * duplicated WITHIN a source. Segments seen in more than 16
    * sources are dropped as boilerplate hubs (q22's df-cap rule —
    * one universal footer shared by a million domains would otherwise
    * emit 10¹² pairs); the hub count is its own `__hubs__` row so the
    * cap never silently hides coverage. All joins are keyed on the
    * segment (co-partitioned, cap² bounded fan-out); output is
    * dim-sized (sources²). */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val segs = Dedup.stage(Tables.documents(s, dir)
      .select(col("source"),
        explode(sentenceSegs(col("text")))
          .as("seg"))
      .withColumn("seg", trim(col("seg")))
      .filter(length(col("seg")) > 0))
    val ss = Dedup.stage(segs.select(col("seg"), col("source")).distinct())
    val nsrc = ss.groupBy(col("seg")).agg(count(lit(1)).as("nsrc"))
    val el = ss.join(nsrc, Seq("seg")).filter(col("nsrc") <= OverlapSrcCap)
      .select(col("seg"), col("source"))
    val cross = el.as("a").join(el.as("b"),
        col("a.seg") === col("b.seg") && col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        col("a.seg").as("seg"))
    val diag = segs.groupBy(col("source"), col("seg"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      .select(col("source").as("source_a"), col("source").as("source_b"),
        col("seg"))
    val hubs = nsrc.filter(col("nsrc") > OverlapSrcCap)
      .select(lit("__hubs__").as("source_a"), lit("__hubs__").as("source_b"),
        col("seg"))
    cross.union(diag).union(hubs)
      .groupBy(col("source_a"), col("source_b"))
      .agg(count_distinct(col("seg")).as("shared_segs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val sourceOverlapSql: String =
    s"""WITH p AS (SELECT source,
       |    ${sentenceSegsSql("text")} AS segs
       |  FROM documents),
       |segs AS (SELECT source, trim(seg) AS seg FROM
       |  (SELECT source, unnest(segs) AS seg FROM p) WHERE trim(seg) <> ''),
       |ss AS (SELECT DISTINCT seg, source FROM segs),
       |nsrc AS (SELECT seg, COUNT(*) AS nsrc FROM ss GROUP BY seg),
       |el AS (SELECT ss.seg, ss.source FROM ss JOIN nsrc USING (seg)
       |  WHERE nsrc <= $OverlapSrcCap),
       |crossp AS (SELECT a.source AS source_a, b.source AS source_b, a.seg
       |  FROM el a JOIN el b ON a.seg = b.seg AND a.source < b.source),
       |diag AS (SELECT source AS source_a, source AS source_b, seg
       |  FROM segs GROUP BY source, seg HAVING COUNT(*) >= 2),
       |hubs AS (SELECT '__hubs__' AS source_a, '__hubs__' AS source_b, seg
       |  FROM nsrc WHERE nsrc > $OverlapSrcCap)
       |SELECT source_a, source_b, CAST(COUNT(DISTINCT seg) AS BIGINT) AS shared_segs
       |FROM (SELECT * FROM crossp UNION ALL SELECT * FROM diag
       |      UNION ALL SELECT * FROM hubs)
       |GROUP BY source_a, source_b ORDER BY source_a, source_b""".stripMargin

  val queries: Map[String, Q] = Map(
    "q150_source_overlap" -> (sourceOverlap _),
    "q149_datasheet" -> (datasheet _),
    "q148_chunk_overlap" -> (chunkOverlap _),
    "q147_exact_substr" -> (exactSubstr _),
    "q145_length_batches" -> (lengthBatches _),
    "q126_line_dedup" -> (lineDedup _),
    "q255_linedf_curve" -> (lineDfCurve _),
    "q169_source_boilerplate" -> (sourceBoilerplate _),
    "q127_lm_surprisal" -> (lmSurprisal _),
    "q128_lsh_eval" -> (lshEval _),
    "q129_vocab_oov" -> (vocabOov _),
    "q130_dsir_weights" -> (dsirWeights _),
    "q131_epoch_shuffle" -> (epochShuffle _),
    "q132_span_corrupt" -> (spanCorrupt _),
    "q133_quality_classifier" -> (qualityClassifier _),
    "q134_bm25_topk" -> (bm25 _),
    "q135_hybrid_rrf" -> (hybridRrf _),
    "q136_pack_audit" -> (packAudit _),
    "q137_upsample_repeats" -> (upsampleRepeats _),
    "q138_domain_pagerank" -> (domainPagerank _),
    "q163_domain_hits" -> (domainHits _),
    "q139_pca_power" -> (pcaPower _),
    "q140_collocations" -> (collocations _),
    "q172_skipgram_assoc" -> (skipgramAssoc _),
    "q175_snapshot_dedup" -> (snapshotDedup _),
    "q177_curriculum_layout" -> (curriculumLayout _),
    "q180_lsh_band_sweep" -> (lshBandSweep _),
    "q199_team_draft" -> (teamDraft _),
    "q182_token_runs" -> (tokenRuns _))

  val oracles: Map[String, String] = Map(
    "q255_linedf_curve" -> lineDfCurveSql,
    "q150_source_overlap" -> sourceOverlapSql,
    "q149_datasheet" -> datasheetSql,
    "q148_chunk_overlap" -> chunkOverlapSql,
    "q147_exact_substr" -> exactSubstrSql,
    "q145_length_batches" -> lengthBatchesSql,
    "q126_line_dedup" -> lineDedupSql,
    "q169_source_boilerplate" -> sourceBoilerplateSql,
    "q127_lm_surprisal" -> lmSurprisalSql,
    "q128_lsh_eval" -> lshEvalSql,
    "q129_vocab_oov" -> vocabOovSql,
    "q130_dsir_weights" -> dsirWeightsSql,
    "q131_epoch_shuffle" -> epochShuffleSql,
    "q132_span_corrupt" -> spanCorruptSql,
    "q133_quality_classifier" -> qualityClassifierSql,
    "q134_bm25_topk" -> bm25Sql,
    "q135_hybrid_rrf" -> hybridRrfSql,
    "q136_pack_audit" -> packAuditSql,
    "q137_upsample_repeats" -> upsampleRepeatsSql,
    "q138_domain_pagerank" -> domainPagerankSql,
    "q163_domain_hits" -> domainHitsSql,
    "q139_pca_power" -> pcaPowerSql,
    "q140_collocations" -> collocationsSql,
    "q172_skipgram_assoc" -> skipgramAssocSql,
    "q175_snapshot_dedup" -> snapshotDedupSql,
    "q177_curriculum_layout" -> curriculumLayoutSql,
    "q180_lsh_band_sweep" -> lshBandSweepSql,
    "q199_team_draft" -> teamDraftSql,
    "q182_token_runs" -> tokenRunsSql)
}
