package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.Tables

/** q121: BPE merge-rule training — the tokenizer-vocabulary induction
  * step of every LLM data pipeline (Sennrich et al. 2016), the
  * training-time counterpart of q41's BPE-style pre-tokenization.
  *
  * Each round counts adjacent symbol pairs over the word dictionary
  * (weighted by word frequency), picks the most frequent pair (ties:
  * lexicographically smallest), and merges it greedily left-to-right
  * in every word. Words ride as delimited strings — each symbol
  * wrapped in '.' and separated by two spaces — so the merge IS
  * `replace(wstr, ".x.  .y.", ".xy.")`: SQL replace scans
  * left-to-right and resumes after each replacement, which is exactly
  * BPE's non-overlapping greedy merge, and the wrapper/delimiter
  * cannot collide because symbols are letter-only. Both engines run
  * the identical string algebra, so the oracle replays all rounds
  * bit-exactly.
  *
  * Scale shape: pair counting and merging run on the DISTINCT word
  * dictionary with frequencies (dictionary-encoded corpus), never on
  * raw text — the corpus-sized work is one tokenize+count, after
  * which each round is dictionary-sized. The per-round argmax is a
  * driver-side single-row collect (the same dim-sized decision as
  * collecting trained centroids); the dictionary is localCheckpointed
  * per round to keep lineage flat. */
object TokenizerQueries extends QueryFamily {

  val MergeRounds = 8

  /** Gated query: textbook sequential BPE over the corpus dictionary.
    * The trainer itself lives in operators/Bpe.scala, which also
    * provides the batched large-vocab variant (top-K symbol-disjoint
    * merges per round) the gated 8-round query doesn't need. */
  def bpeMerges(s: SparkSession, dir: String): DataFrame = {
    val dict = graft.operators.Bpe.dictionary(Tables.documents(s, dir), "text")
    val (merges, _) = graft.operators.Bpe.trainSequential(dict, MergeRounds)
    graft.operators.Bpe.mergesDf(s, merges)
  }

  /** Shared oracle prefix: the w0 dictionary CTE plus one
    * (pair-count, argmax, merge) CTE triple per round — wK = the
    * dictionary after K merges, rpK = round K's winning pair via the
    * same (count desc, pair asc) argmax, each merge applied with
    * scalar subqueries into replace(). `withWord` carries the raw
    * word through the rounds (wstr is bijective with word, so pair
    * counts and argmaxes are unchanged) for encode-side consumers. */
  private def trainCtes(withWord: Boolean): String = {
    val wsel = if (withWord) "word, " else ""
    val sb = new StringBuilder
    sb.append(
      s"""WITH w0 AS MATERIALIZED (
        |  SELECT ${wsel}array_to_string(list_transform(range(1, length(word) + 1),
        |           i -> '.' || word[i] || '.'), '  ') AS wstr,
        |         count(*) AS freq
        |  FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
        |        FROM documents)
        |  WHERE word <> ''
        |  GROUP BY 1)""".stripMargin)
    (1 to MergeRounds).foreach { r =>
      sb.append(s""",
        |p$r AS MATERIALIZED (
        |  SELECT t[i] AS wa, t[i + 1] AS wb, CAST(sum(freq) AS BIGINT) AS n
        |  FROM (SELECT freq, string_split(wstr, '  ') AS t FROM w${r - 1}),
        |       UNNEST(range(1, len(t))) AS u(i)
        |  GROUP BY 1, 2),
        |rp$r AS (SELECT wa, wb, n FROM p$r ORDER BY n DESC, wa, wb LIMIT 1),
        |w$r AS MATERIALIZED (
        |  SELECT ${wsel}replace(wstr,
        |           (SELECT wa || '  ' || wb FROM rp$r),
        |           (SELECT '.' || trim(wa, '.') || trim(wb, '.') || '.' FROM rp$r))
        |         AS wstr, freq
        |  FROM w${r - 1})""".stripMargin)
    }
    sb.toString
  }

  val bpeMergesSql: String = {
    val sb = new StringBuilder(trainCtes(withWord = false))
    sb.append("\n")
    sb.append((1 to MergeRounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round, trim(wa, '.') AS left_sym, trim(wb, '.') AS right_sym,
         |  trim(wa, '.') || trim(wb, '.') AS merged, n AS pair_count FROM rp$r""".stripMargin
    }.mkString("\nUNION ALL\n"))
    sb.append("\nORDER BY round")
    sb.toString
  }

  /** q125: ENCODE the corpus with the trained merges — the apply side
    * of tokenizer training (q121 trains; this tokenizes). The merge
    * table is trained on the word dictionary, applied back to the
    * dictionary as one nested-replace projection, and the corpus is
    * encoded by a broadcast join of its word stream against that
    * dictionary — per doc: word occurrences, post-merge token count,
    * pre-merge symbol (char) count, and the integer-micro compression
    * ratio. Scale shape: training cost is dictionary-sized; encoding
    * is ONE corpus scan + broadcast join + per-doc aggregation. */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val dictW = graft.operators.Bpe.dictionaryWithWords(Tables.documents(s, dir), "text")
    val (merges, _) = graft.operators.Bpe.trainSequential(
      dictW.select(col("wstr"), col("freq")), MergeRounds)
    val encoded = graft.operators.Bpe.applyMerges(dictW, merges)
      .select(col("word"),
        size(split(col("wstr"), "  ")).cast("long").as("n_tok"),
        length(col("word")).cast("long").as("n_sym"))
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .filter(col("word") =!= "")
      .join(broadcast(encoded), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_sym")).as("n_syms"))
      .withColumn("ratio_e6",
        round(lit(1000000.0) * col("n_tokens").cast("double") / col("n_syms").cast("double")).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** The oracle replays training via q121's chained CTEs (word carried
    * through the merge rounds — wstr is bijective with word, so pair
    * counts and argmaxes are unchanged), then encodes the corpus by
    * joining its word stream to the final dictionary. */
  val bpeEncodeSql: String = {
    val sb = new StringBuilder(trainCtes(withWord = true))
    sb.append(s""",
      |enc AS (SELECT word, CAST(len(string_split(wstr, '  ')) AS BIGINT) AS n_tok,
      |               CAST(length(word) AS BIGINT) AS n_sym
      |        FROM w$MergeRounds),
      |stream AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
      |           FROM documents)
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_words,
      |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(sum(n_sym) AS BIGINT) AS n_syms,
      |  CAST(ROUND(1000000.0 * CAST(sum(n_tok) AS DOUBLE) / CAST(sum(n_sym) AS DOUBLE)) AS BIGINT) AS ratio_e6
      |FROM stream JOIN enc USING (word)
      |WHERE word <> ''
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin)
    sb.toString
  }

  /** q152: tokenizer FERTILITY per (source, lang) stratum — the
    * tokenizer-quality eval every multilingual pipeline runs before
    * freezing a vocab (how many subword pieces a word costs, and how
    * many characters a piece carries, per language/source): docs,
    * word occurrences, post-merge token count, pre-merge symbol
    * count, fertility = tokens/word (e6) and chars-per-token (e6).
    * A stratum whose fertility is far above the corpus mean is the
    * one paying the token-budget tax at training time.
    *
    * Scale shape: q125's exactly — training cost is dictionary-sized,
    * the trained dictionary applies back as one projection, and the
    * corpus is ONE scan + broadcast dictionary join + stratum hash
    * agg (output dim-sized: sources x langs). */
  def fertility(s: SparkSession, dir: String): DataFrame = {
    val dictW = graft.operators.Bpe.dictionaryWithWords(Tables.documents(s, dir), "text")
    val (merges, _) = graft.operators.Bpe.trainSequential(
      dictW.select(col("wstr"), col("freq")), MergeRounds)
    val encoded = graft.operators.Bpe.applyMerges(dictW, merges)
      .select(col("word"),
        size(split(col("wstr"), "  ")).cast("long").as("n_tok"),
        length(col("word")).cast("long").as("n_sym"))
    Tables.documents(s, dir)
      .select(col("source"), col("lang"), col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .filter(col("word") =!= "")
      .join(broadcast(encoded), Seq("word"))
      .groupBy(col("source"), col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_sym")).as("n_syms"))
      .withColumn("fertility_e6",
        round(lit(1000000.0) * col("n_tokens").cast("double") /
          col("n_words").cast("double")).cast("long"))
      .withColumn("chars_per_tok_e6",
        round(lit(1000000.0) * col("n_syms").cast("double") /
          col("n_tokens").cast("double")).cast("long"))
      .orderBy(col("source"), col("lang"))
  }

  val fertilitySql: String = {
    val sb = new StringBuilder(trainCtes(withWord = true))
    sb.append(s""",
      |enc AS (SELECT word, CAST(len(string_split(wstr, '  ')) AS BIGINT) AS n_tok,
      |               CAST(length(word) AS BIGINT) AS n_sym
      |        FROM w$MergeRounds),
      |stream AS (SELECT source, lang, doc_id,
      |             unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
      |           FROM documents)
      |SELECT source, lang,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_words,
      |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(sum(n_sym) AS BIGINT) AS n_syms,
      |  CAST(ROUND(1000000.0 * CAST(sum(n_tok) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS fertility_e6,
      |  CAST(ROUND(1000000.0 * CAST(sum(n_sym) AS DOUBLE) / CAST(sum(n_tok) AS DOUBLE)) AS BIGINT) AS chars_per_tok_e6
      |FROM stream JOIN enc USING (word)
      |WHERE word <> ''
      |GROUP BY source, lang
      |ORDER BY source, lang""".stripMargin)
    sb.toString
  }

  // ---- q185: unigram-LM Viterbi segmentation (SentencePiece-style) ----

  val UnigramTopV = 64

  /** q185: the OTHER mainstream subword tokenizer next to BPE — a
    * unigram-LM piece vocabulary (top-64 substrings by mass, plus
    * every character) with integer floor-log2 bit costs, and the exact
    * Viterbi minimum-cost decomposition of every dictionary word
    * (Kudo 2018). Per word: optimal piece count, bit cost and the
    * segmentation itself; tie-breaks total on (cost, n_pieces, seg).
    *
    * Scale shape: see operators/UnigramLm.scala — dictionary-sized
    * throughout: one corpus scan builds (word, freq); the DP runs
    * MaxWordLen bounded rounds against the broadcast vocabulary with
    * k=1 heaps; the corpus-side encode (not gated here) is the same
    * broadcast dictionary join q125 uses for BPE. */
  def unigramSegment(s: SparkSession, dir: String): DataFrame = {
    val words = graft.operators.Bpe.dictionaryWithWords(Tables.documents(s, dir), "text")
      .select(col("word"), col("freq"))
    val vocab = graft.operators.UnigramLm.pieceVocab(words, UnigramTopV)
    graft.operators.UnigramLm.viterbiSegment(words, vocab)
      .orderBy(col("word"))
  }

  val unigramSegmentSql: String = {
    val P = graft.operators.UnigramLm.MaxPieceLen
    val L = graft.operators.UnigramLm.MaxWordLen
    // DP steps unrolled from the same constants as the Spark loop; the
    // dp CTEs are MATERIALIZED (the q121 lesson: DuckDB otherwise
    // re-inlines each referenced CTE exponentially)
    val steps = (1 to L).map { i =>
      val branches = (math.max(0, i - P) until i).map { j =>
        s"""SELECT w.word, d.cost + v.bits AS cost, d.np + 1 AS np,
           |    CASE WHEN d.seg = '' THEN v.piece ELSE d.seg || ' ' || v.piece END AS seg
           |  FROM wl w JOIN dp$j d ON w.word = d.word
           |  JOIN vocab v ON v.piece = substr(w.word, $j + 1, ${i - j})
           |  WHERE w.len >= $i""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""dp$i AS MATERIALIZED (SELECT word, cost, np, seg FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY word ORDER BY cost, np, seg) AS rn FROM (
         |$branches))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val finals = (1 to L).map { i =>
      s"""SELECT w.word, w.freq, w.len AS n_chars, d.np AS n_pieces, d.cost AS cost_bits, d.seg
         |FROM wl w JOIN dp$i d ON w.word = d.word AND w.len = $i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH words AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |pieces AS (SELECT substr(word, CAST(s AS INT), CAST(l AS INT)) AS piece,
       |    CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM words
       |  CROSS JOIN UNNEST(range(1, ${P + 1})) AS tl(l)
       |  CROSS JOIN UNNEST(range(1, ${L + 1})) AS ts(s)
       |  WHERE l <= length(word) AND s + l - 1 <= length(word)
       |  GROUP BY 1),
       |ranked AS (SELECT piece, cnt, length(piece) AS pl,
       |    ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rn FROM pieces),
       |vocab0 AS (SELECT piece, cnt FROM ranked WHERE pl = 1 OR rn <= $UnigramTopV),
       |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM vocab0),
       |vocab AS (SELECT piece,
       |    CAST(length(bin(t)) - length(bin(cnt)) AS BIGINT) AS bits
       |  FROM vocab0 CROSS JOIN tot),
       |wl AS (SELECT word, freq, CAST(length(word) AS BIGINT) AS len FROM words),
       |dp0 AS (SELECT word, CAST(0 AS BIGINT) AS cost, CAST(0 AS BIGINT) AS np, '' AS seg FROM wl),
       |$steps
       |$finals
       |ORDER BY word""".stripMargin
  }

  // ---- q200: vocab-size OOV operating curve ----

  val VocabCurveSizes: Seq[Long] = Seq(16L, 64L, 256L, 1024L)

  /** q200: the CHOOSE-VOCAB-SIZE operating curve — q129's OOV analysis
    * swept across vocab sizes {16, 64, 256, 1024}: per size the corpus
    * token mass left out-of-vocabulary, the covered type count, and
    * the e6 OOV rate. The curve a tokenizer build reads before fixing
    * its vocabulary budget; completes the operating-curve family
    * (q160 grams, q180 bands, q194 k, q197 delay) on the tokenizer
    * axis.
    *
    * Scale shape: ONE (doc, tok) scan folds to the token-count table;
    * a single global rank (bounded heap at the LARGEST size — rank
    * once, slice per size) prices every vocab size in one conditional
    * aggregation; the curve is a 4-row dim. Nothing is re-scanned per
    * size. */
  def vocabCurve(s: SparkSession, dir: String): DataFrame = {
    val docTok = Tables.documents(s, dir)
      .select(explode(graft.functions.TextFunctions.tokens(
        graft.functions.TextFunctions.fold(col("text")))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val g = docTok.withColumn("g", lit(1))
    val maxV = VocabCurveSizes.max.toInt
    val ranked = graft.plans.Plans.topKPerKeyRanked(g, Seq(g("g")),
      Seq((g("cnt"), true), (g("tok"), false)), maxV, "rnk")
      .select(col("tok"), col("cnt"), col("rnk"))
    val full = graft.operators.Dedup.stage(
      docTok.join(ranked.select(col("tok"), col("rnk")), Seq("tok"), "left"))
    val sizes = s.createDataFrame(VocabCurveSizes.map(Tuple1(_))).toDF("vocab_size")
    full.crossJoin(broadcast(sizes))
      .withColumn("in_vocab", col("rnk").isNotNull && col("rnk") <= col("vocab_size"))
      .groupBy(col("vocab_size"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("cnt")).as("n_tokens"),
        sum(when(col("in_vocab"), 1L).otherwise(0L)).as("covered_types"),
        sum(when(!col("in_vocab"), col("cnt")).otherwise(0L)).as("oov_tokens"))
      .withColumn("oov_rate_e6", expr("oov_tokens * 1000000 div n_tokens"))
      .orderBy(col("vocab_size"))
  }

  val vocabCurveSql: String = {
    val sizes = VocabCurveSizes.mkString("[", ", ", "]")
    val fold = "lower(strip_accents(translate(text, '-\u2010\u2011\u2012\u2013\u2014\u2015\u00ad', '       ')))"
    s"""WITH toks AS (SELECT string_split_regex(trim($fold), '\\s+') AS t FROM documents),
       |tokc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(t) AS tok FROM toks) WHERE tok <> '' GROUP BY tok),
       |ranked AS (SELECT tok, cnt,
       |    ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rnk FROM tokc),
       |f AS (SELECT r.*, CAST(v.vocab_size AS BIGINT) AS vocab_size,
       |    r.rnk <= v.vocab_size AS in_vocab
       |  FROM ranked r CROSS JOIN UNNEST($sizes) AS v(vocab_size))
       |SELECT vocab_size,
       |  COUNT(*) AS n_types,
       |  CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN in_vocab THEN 1 ELSE 0 END) AS BIGINT) AS covered_types,
       |  CAST(SUM(CASE WHEN NOT in_vocab THEN cnt ELSE 0 END) AS BIGINT) AS oov_tokens,
       |  CAST(SUM(CASE WHEN NOT in_vocab THEN cnt ELSE 0 END) AS BIGINT) * 1000000
       |    // CAST(SUM(cnt) AS BIGINT) AS oov_rate_e6
       |FROM f GROUP BY vocab_size ORDER BY vocab_size""".stripMargin
  }

  // ---- q209: WordPiece greedy longest-match segmentation ----

  val WpMaxPieceLen = 4
  val WpMinDf = 8
  /** Contract bound the oracle's candidate ranges cover (cf. q185's
    * MaxWordLen); longer words are excluded on both engines. */
  val WpMaxWordLen = 16

  /** q209: the THIRD mainstream subword tokenizer next to BPE (q121/
    * q125) and unigram-LM Viterbi (q185): WordPiece's greedy
    * longest-match-first segmentation (Wu et al. 2016, the BERT
    * tokenizer). The vocabulary distinguishes word-initial pieces from
    * continuation pieces (the `##` class): every single character plus
    * every 2..[[WpMaxPieceLen]]-char substring occurring in at least
    * [[WpMinDf]] distinct dictionary words, per class. Encoding walks
    * each word left to right, always consuming the LONGEST vocabulary
    * piece at the cursor — single characters guarantee totality, so no
    * UNK arises on the training corpus.
    *
    * Shape: everything is dictionary-sized (the corpus collapses to
    * (word, freq) in one scan). The longest-match table is a relational
    * join (candidates x broadcast vocab, max piece length per (word,
    * position)) and the greedy walk folds over the per-word max-length
    * array — bounded by word length, no driver iteration; the
    * corpus-side encode is the same broadcast dictionary join q125
    * uses for BPE. */
  def wordpieceSegment(s: SparkSession, dir: String): DataFrame = {
    val words = graft.operators.Bpe
      .dictionaryWithWords(Tables.documents(s, dir), "text")
      .select(col("word"), col("freq"))
    val w = graft.operators.Dedup.stage(
      words.withColumn("len", length(col("word")).cast("long"))
        .filter(col("len") <= WpMaxWordLen))
    val cand = graft.operators.Dedup.stage(w
      .select(col("word"), col("len"),
        explode(sequence(lit(1), col("len").cast("int"))).as("s"))
      .select(col("word"), col("s"),
        explode(sequence(lit(1),
          least(lit(WpMaxPieceLen), (col("len") - col("s") + 1).cast("int")))).as("l"))
      .withColumn("piece", expr("substring(word, s, l)"))
      .withColumn("cont", col("s") > 1))
    val vocab = cand.groupBy(col("piece"), col("cont"))
      .agg(countDistinct(col("word")).as("wdf"))
      .filter(length(col("piece")) === 1 || col("wdf") >= WpMinDf)
      .select(col("piece"), col("cont"))
    val jump = cand.join(broadcast(vocab), Seq("piece", "cont"))
      .groupBy(col("word"), col("s"))
      .agg(max(col("l")).as("maxl"))
    val jumpArr = jump
      .groupBy(col("word"))
      .agg(expr("transform(sort_array(collect_list(struct(s, maxl))), x -> x.maxl)")
        .as("ml"))
    w.join(jumpArr, Seq("word"))
      .select(col("word"), col("freq"), col("len").as("n_chars"), expr(
        """aggregate(
          |  sequence(1, CAST(len AS INT)),
          |  named_struct('pos', 1, 'np', CAST(0 AS BIGINT), 'seg', ''),
          |  (acc, i) -> IF(i = acc.pos,
          |    named_struct(
          |      'pos', acc.pos + element_at(ml, i),
          |      'np', acc.np + 1L,
          |      'seg', concat(acc.seg,
          |        IF(acc.seg = '', '', ' '),
          |        IF(i > 1, '##', ''),
          |        substring(word, i, element_at(ml, i)))),
          |    acc))""".stripMargin).as("fin"))
      .select(col("word"), col("freq"), col("n_chars"),
        col("fin.np").as("n_pieces"), col("fin.seg").as("seg"))
      .orderBy(col("word"))
  }

  val wordpieceSegmentSql: String =
    s"""WITH RECURSIVE words AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |wl AS (SELECT word, freq, CAST(length(word) AS BIGINT) AS len FROM words
       |  WHERE length(word) <= $WpMaxWordLen),
       |cand AS MATERIALIZED (SELECT word, s, l,
       |    substr(word, CAST(s AS INT), CAST(l AS INT)) AS piece, s > 1 AS cont
       |  FROM wl
       |  CROSS JOIN UNNEST(range(1, $WpMaxWordLen + 1)) AS ts(s)
       |  CROSS JOIN UNNEST(range(1, $WpMaxPieceLen + 1)) AS tl(l)
       |  WHERE s <= len AND s + l - 1 <= len),
       |vocab AS (SELECT piece, cont FROM (
       |    SELECT piece, cont, COUNT(DISTINCT word) AS wdf FROM cand GROUP BY 1, 2)
       |  WHERE length(piece) = 1 OR wdf >= $WpMinDf),
       |jmp AS MATERIALIZED (SELECT word, s, CAST(MAX(l) AS BIGINT) AS maxl
       |  FROM cand JOIN vocab USING (piece, cont) GROUP BY word, s),
       |walk AS (
       |  SELECT word, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS np, '' AS seg
       |  FROM wl
       |  UNION ALL
       |  SELECT w.word, w.pos + j.maxl, w.np + 1,
       |    (CASE WHEN w.seg = '' THEN '' ELSE w.seg || ' ' END) ||
       |    (CASE WHEN w.pos > 1 THEN '##' ELSE '' END) ||
       |    substr(w.word, CAST(w.pos AS INT), CAST(j.maxl AS INT))
       |  FROM walk w JOIN jmp j ON j.word = w.word AND j.s = w.pos)
       |SELECT w.word, w.freq, w.len AS n_chars, k.np AS n_pieces, k.seg
       |FROM wl w JOIN walk k ON k.word = w.word AND k.pos = w.len + 1
       |ORDER BY w.word""".stripMargin

  val queries: Map[String, Q] = Map(
    "q121_bpe_merges" -> (bpeMerges _),
    "q125_bpe_encode" -> (bpeEncode _),
    "q152_tokenizer_fertility" -> (fertility _),
    "q185_unigram_segment" -> (unigramSegment _),
    "q200_vocab_curve" -> (vocabCurve _),
    "q209_wordpiece_segment" -> (wordpieceSegment _))

  val oracles: Map[String, String] = Map(
    "q121_bpe_merges" -> bpeMergesSql,
    "q125_bpe_encode" -> bpeEncodeSql,
    "q152_tokenizer_fertility" -> fertilitySql,
    "q185_unigram_segment" -> unigramSegmentSql,
    "q200_vocab_curve" -> vocabCurveSql,
    "q209_wordpiece_segment" -> wordpieceSegmentSql)
}
