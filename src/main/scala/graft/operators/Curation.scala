package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions.e6

/** Training-data curation operators a 100 TB pipeline runs between
  * ingest and tokenization: repetition-based quality signals, PII
  * scrubbing, eval-set decontamination, and per-domain stratified
  * downsampling. Everything is a declarative column/agg plan —
  * codegen'd regexes and hash-agg chains, no UDFs, no driver loops —
  * and every emitted ratio is an integer (`*_e6`) so results are
  * engine-exact.
  */
object Curation {

  // ---- PII scrubbing -------------------------------------------------

  /** RE2-safe (no lookaround, no \b) so the DuckDB oracle compiles the
    * identical pattern. Email first, then phone-like digit runs. */
  val EmailRegex = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRegex = "\\+?[0-9][0-9 ()-]{6,}[0-9]"

  /** Scrubbed text: emails then phone-like runs replaced by tags. */
  def scrubPii(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailRegex, "<EMAIL>"), PhoneRegex, "<PHONE>")

  def emailCount(c: Column): Column = size(regexp_extract_all(c, lit(EmailRegex), lit(0)))

  /** Luhn mod-10 sum of the first `n` digits of a digit-string column,
    * positions aligned for a 16-digit PAN (leftmost position 1;
    * counting from the RIGHT of the full 16, even positions double, so
    * odd LEFT indexes double). Unrolled to n fixed codegen'd terms —
    * no fold, no UDF; `luhnSumSql` emits the identical expression for
    * DuckDB. A candidate is Luhn-valid iff the 16-digit sum ≡ 0 mod 10
    * — the checksum that separates card-shaped digit runs from real
    * PANs in a PII sweep (validated redaction beats regex-only: a
    * 1-in-10 false-positive rate drops to the checksum's). */
  def luhnSum(c: Column, n: Int): Column =
    (1 to n).map { i =>
      val d = substring(c, i, 1).cast("int")
      if (i % 2 == 1) { val dd = d * 2; when(dd > 9, dd - 9).otherwise(dd) }
      else d
    }.reduce(_ + _)

  /** The DuckDB twin of [[luhnSum]] over SQL expression `e`. */
  def luhnSumSql(e: String, n: Int): String =
    (1 to n).map { i =>
      val d = s"CAST(substr($e, $i, 1) AS INTEGER)"
      if (i % 2 == 1) s"(CASE WHEN 2 * $d > 9 THEN 2 * $d - 9 ELSE 2 * $d END)"
      else d
    }.mkString("(", " + ", ")")

  /** Phone matches are counted AFTER email removal (an email's digits
    * must not double-count), mirroring the scrub order. */
  def phoneCount(c: Column): Column =
    size(regexp_extract_all(regexp_replace(c, EmailRegex, "<EMAIL>"), lit(PhoneRegex), lit(0)))

  // ---- term counts: the one (doc, tok) table -------------------------

  /** The (idCol, tok, tf) count of each folded token in each document
    * (the funnel oracle's `qtokc`), which every token-level signal reads.
    * OUTER explode with the null filter on the generated column: no
    * isnotnull/size>0 predicate is inferred on the fold chain, so nothing
    * expensive lands in the scan filter (the q15/q61 pushdown trap). */
  def termCounts(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol), explode_outer(tokens(fold(col(textCol)))).as("tok"))
      .filter(col("tok").isNotNull)
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))

  // ---- repetition signals (Gopher-style quality filtering) -----------

  /** Per-document token repetition signals of a [[termCounts]] table:
    * token and distinct-token counts, most-frequent-token and
    * duplicate-token shares (e6 integers). */
  def tokenStats(terms: DataFrame, idCol: String): DataFrame =
    terms.groupBy(col(idCol)).agg(
        sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_distinct_tokens"),
        max(col("tf")).as("top_tok_cnt"))
      .select(col(idCol), col("n_tokens"), col("n_distinct_tokens"),
        e6(col("top_tok_cnt").cast("double") / col("n_tokens")).as("top_token_e6"),
        e6((col("n_tokens") - col("n_distinct_tokens")).cast("double")
          / col("n_tokens")).as("dup_token_e6"))

  /** [[tokenStats]] plus the most-frequent-bigram share
    * (`top_bigram_e6`): two hash-agg chains (token, bigram) joined on
    * doc id — each is a partial-agg shuffle of (doc, gram) pairs,
    * nothing quadratic, no windows over the corpus. */
  def repetitionStats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // outer explode over the pre-built bigram list, as in termCounts
    val bgStats = df
      .select(col(idCol), explode_outer(graft.functions.GraftFunctions
        .tokenShingles(tokens(fold(col(textCol))), 2)).as("bg"))
      .filter(col("bg").isNotNull)
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol)).agg(max(col("cnt")).as("top_bg_cnt"))
    tokenStats(termCounts(df, textCol, idCol), idCol)
      .join(bgStats, Seq(idCol), "left")
      .select(col(idCol),
        col("n_tokens"), col("n_distinct_tokens"), col("top_token_e6"),
        e6(coalesce(col("top_bg_cnt"), lit(0L)).cast("double")
          / greatest(col("n_tokens") - 1, lit(1L))).as("top_bigram_e6"),
        col("dup_token_e6"))
  }

  // ---- eval-set decontamination --------------------------------------

  /** For each training doc of a (idCol, shingle) table
    * ([[Dedup.shingles]]), how many of its distinct shingles appear
    * anywhere in the (small, broadcast) eval set. The flag uses the
    * integer predicate 2*hits >= shingles — no float compare.
    * `evalPred` selects the held-out docs (over the table's columns). */
  def contamination(sh: DataFrame, idCol: String, evalPred: Column): DataFrame = {
    val evalSh = sh.filter(evalPred).select(col("shingle")).distinct()
      .withColumn("hit", lit(1L))
    sh.filter(!evalPred)
      .join(broadcast(evalSh), Seq("shingle"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .select(col(idCol), col("n_shingles"), col("n_contaminated"),
        e6(col("n_contaminated").cast("double") / col("n_shingles")).as("contamination_e6"),
        (col("n_contaminated") * 2 >= col("n_shingles")).as("contaminated"))
  }

  /** Per-doc duplicated-n-gram share against the WHOLE corpus — the
    * exact-substring-dedup signal ("Deduplicating Training Data Makes
    * Language Models Better", Lee et al. 2022, applied at gram
    * granularity): a gram is duplicated when its document frequency is
    * >= 2, and a doc whose grams are mostly duplicated elsewhere is a
    * near-dup candidate. Shape: distinct (doc, gram) pairs feed one
    * gram-keyed df aggregation, joined back on gram (both sides
    * already hash-partitioned on the key) — no windows (a hot gram
    * would put its whole df count on one reducer), no pairs, nothing
    * quadratic; work is linear in corpus grams at any scale. */
  def dupNgrams(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    val sh = Dedup.stage(Dedup.shingles(df, textCol, idCol, n))
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("gram_df"))
    sh.join(dfreq, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("gram_df") > 1, 1L).otherwise(0L)).as("n_dup_grams"),
        max(col("gram_df")).as("max_gram_df"))
      .select(col(idCol), col("n_grams"), col("n_dup_grams"), col("max_gram_df"),
        e6(col("n_dup_grams").cast("double") / col("n_grams")).as("dup_share_e6"),
        (col("n_dup_grams") * 2 >= col("n_grams")).as("near_dup"))
  }

  // ---- exact-substring duplicate-SPAN removal (ExactSubstr) ----------

  /** Position base for the packed (doc, pos) order key: docs are far
    * shorter than 2^20 tokens, so `doc * PosBase + pos` is a single
    * long whose numeric order IS the (doc, pos) lexicographic order. */
  val PosBase = 1L << 20

  /** ExactSubstr-style duplicate-span REMOVAL (Lee et al. 2022) — the
    * span-level complement of [[dupNgrams]]' doc-level counts: every
    * occurrence of a k-token gram that appears more than once in the
    * corpus (within-doc repeats count), EXCEPT the globally first
    * occurrence in (doc, position) order, marks its k-token range for
    * deletion; per doc the marked ranges union into maximal spans and
    * the survivor text is reassembled in token order.
    *
    * Scale shape: the first-occurrence argmin is `min` of a packed
    * `doc*2^20+pos` LONG — HashAggregate with map-side partials (a
    * `min(struct(...))` would fall to SortAggregate, and a per-gram
    * rank window would serialize a boilerplate hot gram with millions
    * of occurrences onto one reducer). Deletion marking is then a
    * co-partitioned join back on the gram key; span merge + reassembly
    * are per-doc windows/aggs, bounded by document length. The kept
    * first occurrence of one gram may still overlap another gram's
    * deleted range — deletion is the union of marked ranges, exactly
    * as the suffix-array formulation behaves on overlapping repeats.
    *
    * Returns (idCol, n_tokens, n_removed, n_spans, kept_md5). */
  def exactSubstrDedup(df: DataFrame, textCol: String, idCol: String,
                       k: Int): DataFrame = {
    // token stream feeds the gram builder AND the reassembly scan
    val toks = Dedup.stage(df.select(col(idCol).cast("long").as("doc"),
      tokens(fold(col(textCol))).as("toks")))
    val occ = Dedup.stage(toks
      .select(col("doc"), posexplode(
        graft.functions.GraftFunctions.tokenShingles(col("toks"), k))
        .as(Seq("p0", "gram")))
      .select(col("doc"), (col("p0") + 1).as("pos"), col("gram")))
    val packed = col("doc") * PosBase + col("pos")
    val stats = occ.groupBy(col("gram")).agg(
      count(lit(1)).as("cnt"), min(packed).as("first_key"))
    val del = occ.join(stats, Seq("gram"))
      .filter(col("cnt") > 1 && packed =!= col("first_key"))
      .select(col("doc"), col("pos"))
    // Both sides of this LEFT join derive from the same staged `toks`;
    // rename the join columns on the right so the equi-keys are
    // unambiguous (no dataset-id resolution of a trivially-true
    // doc == doc predicate to rely on under refactoring).
    val rem = del
      .select(col("doc").as("rdoc"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("ti"))
      .distinct()
    val tok = toks
      .select(col("doc"), posexplode(col("toks")).as(Seq("i0", "tok")))
      .select(col("doc"), (col("i0") + 1).as("i"), col("tok"))
    val flagged = tok.join(rem,
        col("doc") === col("rdoc") && col("i") === col("ti"), "left")
      .select(col("doc"), col("i"), col("tok"),
        col("ti").isNotNull.as("removed"))
    val w = Window.partitionBy(col("doc")).orderBy(col("i"))
    flagged
      .withColumn("span_start",
        col("removed") && !coalesce(lag(col("removed"), 1).over(w), lit(false)))
      .groupBy(col("doc"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("removed"), 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("span_start"), 1L).otherwise(0L)).as("n_spans"),
        array_sort(collect_list(when(!col("removed"), struct(col("i"), col("tok")))))
          .as("kept"))
      .select(col("doc").as(idCol), col("n_tokens"), col("n_removed"),
        col("n_spans"),
        md5(coalesce(array_join(transform(col("kept"), x => x.getField("tok")), " "),
          lit(""))).as("kept_md5"))
  }

  // ---- per-domain stratified downsampling ----------------------------

  /** Exact per-stratum hash rank WITHOUT a per-stratum sort — the
    * two-level balanced-shard form (q131's trick, applied to an exact
    * total order): bucket each stratum's rows by the leading byte of
    * the md5 ordering key (256 sub-shards that are RANGE-CONTIGUOUS in
    * the sort order, since equal-length hex strings compare bytewise),
    * rank inside each (stratum, bucket) window, and add back
    * prefix-sum bucket offsets from a broadcast (strata × 256)-row
    * dim. The rank is IDENTICAL to `row_number() over (partition by
    * stratum order by md5(id), id)`, but no task ever sorts more than
    * ~1/256 of a stratum — a skewed stratum (one domain = half the
    * corpus) spreads over 256 bounded partitions instead of stalling
    * one reducer. `stratum_n` comes from the same tiny dim (a
    * partial-agg groupBy), not a corpus window. Returns the input
    * plus `rk` (1-based hash rank inside the stratum, long) and
    * `stratum_n` (long). */
  def stratumHashRank(df: DataFrame, stratumCol: String,
      idCol: String): DataFrame = {
    val keyed = df
      .withColumn("__h", md5(col(idCol).cast("string")))
      .withColumn("__sub", conv(substring(col("__h"), 1, 2), 16, 10).cast("int"))
    val byStratum = Window.partitionBy(col(stratumCol))
    val offs = keyed.groupBy(col(stratumCol), col("__sub"))
      .agg(count(lit(1)).as("__sub_n"))
      .withColumn("__off", coalesce(
        sum(col("__sub_n")).over(byStratum.orderBy(col("__sub"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("stratum_n", sum(col("__sub_n")).over(byStratum))
      .select(col(stratumCol), col("__sub"), col("__off"), col("stratum_n"))
    val subRk = Window.partitionBy(col(stratumCol), col("__sub"))
      .orderBy(col("__h"), col(idCol))
    keyed
      .withColumn("__sub_rk", row_number().over(subRk).cast("long"))
      .join(broadcast(offs), Seq(stratumCol, "__sub"))
      .withColumn("rk", col("__off") + col("__sub_rk"))
      .drop("__h", "__sub", "__sub_rk", "__off")
  }

  /** Two-level EXACT rank within a stratum under a VALUE ordering
    * (`valueCol` desc, `idCol` asc) — [[stratumHashRank]]'s trick
    * generalized from hash order to priority order: sub-shards are
    * VALUE RANGES (`valueCol div bucketWidth`), contiguous in the sort
    * order, so each (stratum, bucket) ranks independently and the
    * per-bucket counts prefix-sum (descending) into offsets on a tiny
    * dim. The rank is identical to `row_number() over (partition by
    * stratum order by value desc, id)`, but no task ever sorts more
    * than one value-bucket of a stratum. Requires non-negative
    * values (truncating div would fold negatives into bucket 0).
    * Returns the input plus `rk`. */
  def stratumValueRank(df: DataFrame, stratumCol: String, valueCol: String,
      idCol: String, bucketWidth: Long): DataFrame = {
    val keyed = df.withColumn("__b", expr(s"$valueCol div $bucketWidth"))
    val byStratum = Window.partitionBy(col(stratumCol))
    val offs = keyed.groupBy(col(stratumCol), col("__b"))
      .agg(count(lit(1)).as("__sub_n"))
      .withColumn("__off", coalesce(
        sum(col("__sub_n")).over(byStratum.orderBy(col("__b").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(stratumCol), col("__b"), col("__off"))
    val subRk = Window.partitionBy(col(stratumCol), col("__b"))
      .orderBy(col(valueCol).desc, col(idCol))
    keyed
      .withColumn("__sub_rk", row_number().over(subRk).cast("long"))
      .join(broadcast(offs), Seq(stratumCol, "__b"))
      .withColumn("rk", col("__off") + col("__sub_rk"))
      .drop("__b", "__sub_rk", "__off")
  }

  /** [[stratumValueRank]] under ASCENDING (`valueCol` asc, `idCol`
    * asc) order with an IN-PLAN adaptive bucket width — the
    * batch-pagination form (the reference's _id-paged job loops),
    * where the key range is not known a priori: a 1-row bounds
    * aggregate broadcasts back and buckets are
    * `(value - lo) div max(1, (hi - lo) div 4096)` — ≤ 4097 range-
    * contiguous sub-shards per stratum at ANY key scale, so the
    * (strata × buckets) offset dim stays broadcastable and no task
    * sorts more than ~1/4096 of a stratum. Identical to `row_number()
    * over (partition by stratum order by value, id)`, INCLUDING nulls:
    * a NULL `valueCol` lands in bucket -1, which sorts before every
    * value bucket — Spark's nulls-first ascending order. Degenerate
    * bounds (min == max, or an all-null column) collapse to one bucket
    * per stratum — correct, just without the sub-shard spread. */
  def stratumValueRankAsc(df: DataFrame, stratumCol: String, valueCol: String,
      idCol: String): DataFrame = {
    val bounds = df.agg(min(col(valueCol)).as("__lo"), max(col(valueCol)).as("__hi"))
    val keyed = df.crossJoin(broadcast(bounds))
      .withColumn("__b", coalesce(expr(
        s"($valueCol - __lo) div greatest(1L, (__hi - __lo) div 4096L)"),
        lit(-1L)))
      .drop("__lo", "__hi")
    val byStratum = Window.partitionBy(col(stratumCol))
    val offs = keyed.groupBy(col(stratumCol), col("__b"))
      .agg(count(lit(1)).as("__sub_n"))
      .withColumn("__off", coalesce(
        sum(col("__sub_n")).over(byStratum.orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(stratumCol), col("__b"), col("__off"))
    val subRk = Window.partitionBy(col(stratumCol), col("__b"))
      .orderBy(col(valueCol), col(idCol))
    keyed
      .withColumn("__sub_rk", row_number().over(subRk).cast("long"))
      .join(broadcast(offs), Seq(stratumCol, "__b"))
      .withColumn("rk", col("__off") + col("__sub_rk"))
      .drop("__b", "__sub_rk", "__off")
  }

  /** Exact per-stratum quota sample: rank rows inside each stratum by a
    * deterministic content hash and keep the first ceil(n/denom) —
    * pure integer quota, reproducible everywhere. The ranking is the
    * two-level `stratumHashRank` (no single-stratum sort); when strata
    * are huge and the quota needn't be exact, the scale relaxation is
    * a hash-threshold filter (keep iff md5 < p — map-only, no window),
    * same hash, same ordering semantics. */
  def stratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
      denom: Int): DataFrame =
    stratumHashRank(df, stratumCol, idCol)
      .withColumn("quota", expr(s"(stratum_n + ${denom - 1}) div $denom"))
      .filter(col("rk") <= col("quota"))

  // ---- context-window sequence packing ------------------------------

  /** Deterministic packing layout: stream each shard's docs in id
    * order, place every doc at the shard's running token offset, and
    * slice fixed `ctxLen` windows from the concatenation. seq_id /
    * offset_in_seq are integer div/mod of the exclusive cumsum; docs
    * crossing a window boundary are flagged. One cumulative-sum
    * window per shard — shards pack independently and in parallel,
    * there is no global coordination (the 100 TB shape: the shard
    * column is the output file grain). Token counts here are
    * whitespace tokens; swap in q41's BPE pre-tokens for byte-accurate
    * budgets. */
  def sequencePack(df: DataFrame, textCol: String, idCol: String,
      shardCol: String, ctxLen: Int): DataFrame =
    sequencePack(df, textCol, idCol, shardCol, ctxLen, orderCol = idCol)

  /** `orderCol` variant: docs pack into their shard's windows in
    * `orderCol` order (e.g. an epoch-shuffle position) instead of id
    * order — the layout a shuffled training run actually reads. */
  def sequencePack(df: DataFrame, textCol: String, idCol: String,
      shardCol: String, ctxLen: Int, orderCol: String): DataFrame = {
    val w = Window.partitionBy(col(shardCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val keep = (Seq(idCol, shardCol) ++ Option(orderCol).filter(_ != idCol))
      .distinct.map(col)
    df.select(keep :+ size(tokens(col(textCol))).cast("long").as("n_tokens"): _*)
      .withColumn("cum_tokens", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col(idCol), col(shardCol), col("n_tokens"), col("cum_tokens"),
        expr(s"cum_tokens div $ctxLen").as("seq_id"),
        (col("cum_tokens") % ctxLen).as("offset_in_seq"),
        (col("cum_tokens") % ctxLen + col("n_tokens") > ctxLen).as("straddles"))
  }

  // ---- data-mix allocation (largest-remainder quotas) ---------------

  /** Allocate a fixed document budget across strata to hit target
    * ppm shares, by largest-remainder rounding — all integer: raw
    * quota = (budget*share) div 1e6, and the leftover goes to the
    * largest (budget*share) mod 1e6 fractions (ties by key). Quotas
    * cap at availability; the shortfall column says what the mix is
    * missing. `counts` is an already-aggregated (key, n_docs) dim —
    * strata counts, not the corpus — so the windows here run over a
    * handful of rows by construction. */
  def mixAllocation(counts: DataFrame, keyCol: String,
      targets: Seq[(String, Long)], budget: Long): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    val tgt = targets.toDF(keyCol, "share_ppm")
    val all = Window.partitionBy(lit(1))
    val byFrac = Window.partitionBy(lit(1))
      .orderBy(col("frac").desc, col(keyCol))
    counts.join(tgt, Seq(keyCol))
      .withColumn("raw_quota", expr(s"($budget * share_ppm) div 1000000"))
      .withColumn("frac", expr(s"($budget * share_ppm) % 1000000"))
      .withColumn("remainder", lit(budget) - sum(col("raw_quota")).over(all))
      .withColumn("rk", row_number().over(byFrac))
      .withColumn("quota",
        col("raw_quota") + when(col("rk") <= col("remainder"), 1L).otherwise(0L))
      .withColumn("alloc", least(col("quota"), col("n_docs")))
      .select(col(keyCol), col("n_docs"), col("share_ppm"), col("quota"),
        col("alloc"), (col("quota") - col("alloc")).as("shortfall"),
        e6(col("alloc").cast("double") / col("n_docs")).as("rate_e6"))
  }

  // ---- characteristic terms (integer tf/df ranking) -----------------

  /** Top-k characteristic terms per document, ranked by
    * (tf desc, df asc, term asc) — document frequency IS the idf
    * ordering, so no engine-variant `ln` enters the comparison and the
    * pick is bit-reproducible. tf is the [[termCounts]] table; df
    * aggregates the same pairs once more by tok; the per-doc top-k
    * runs through TopKPerKeyExec (bounded heaps), not a window. */
  def topTerms(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    val tf = termCounts(df, textCol, idCol)
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, Seq("tok"))
      .select(col(idCol), col("tok"), col("tf"), col("df"))
    graft.plans.Plans.topKPerKeyRanked(scored, Seq(scored(idCol)),
      Seq((scored("tf"), true), (scored("df"), false), (scored("tok"), false)), k, "rnk")
      .select(col(idCol), col("rnk").cast("long").as("rnk"), col("tok"),
        col("tf"), col("df"))
  }

  // ---- line-level exact dedup (RefinedWeb / CCNet style) -------------

  /** Segment-level exact dedup: every segment whose corpus document
    * frequency reaches `minDf` is removed from EVERY document, and the
    * surviving text is reassembled in original order. This is the
    * duplicated-line removal step of CCNet / RefinedWeb-style corpus
    * cleaning — the per-LINE complement of the per-DOC q21 and the
    * n-gram-level q91. Shape: one segment-keyed aggregation (the df
    * table) plus a co-partitioned join back, then a doc-keyed re-agg —
    * linear in corpus segments, no windows over the corpus. The only
    * higher-order call (`transform` extracting the kept segments from
    * the sorted struct array) runs on one post-aggregation row per doc,
    * never in the corpus scan.
    *
    * `segsCol` is the caller's segmentation (an array<string> column) so
    * the same operator serves newline splits, sentence splits, or any
    * other line notion. */
  def lineDedup(df: DataFrame, idCol: String, segsCol: Column,
                joiner: String, minDf: Int = 2): DataFrame =
    lineDedupKeyed(df, idCol, Nil, segsCol, joiner, minDf)

  /** `lineDedup` with the document-frequency table keyed by
    * `(scopeCols…, seg)` instead of the segment alone — the per-DOMAIN
    * boilerplate notion of CCNet: a nav bar repeated across one site's
    * pages is boilerplate even if no other site carries it, while a
    * sentence shared by two sites is syndication, not boilerplate.
    * Scope columns ride through to the output. Same shape: the df agg
    * and the join-back share the `(scope, seg)` key, so they stay
    * co-partitioned. */
  def lineDedupKeyed(df: DataFrame, idCol: String, scopeCols: Seq[String],
                     segsCol: Column, joiner: String, minDf: Int): DataFrame = {
    // the segment stream feeds two consumers (the df table and the
    // join-back); stage it once instead of re-scanning the corpus
    val segs = Dedup.stage(df
      .select(col(idCol) +: scopeCols.map(col) :+
        posexplode_outer(segsCol).as(Seq("pos", "seg")): _*)
      .withColumn("seg", trim(col("seg")))
      .filter(col("seg").isNotNull && length(col("seg")) > 0))
    val dfKey = scopeCols :+ "seg"
    val dfreq = segs.groupBy(dfKey.map(col): _*)
      .agg(count_distinct(col(idCol)).as("seg_df"))
    val dup = col("seg_df") >= minDf
    segs.join(dfreq, dfKey)
      .groupBy(col(idCol) +: scopeCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(dup, 1L).otherwise(0L)).as("n_removed"),
        sum(when(dup, length(col("seg")).cast("long")).otherwise(0L)).as("chars_removed"),
        sum(when(!dup, length(col("seg")).cast("long")).otherwise(0L)).as("kept_chars"),
        array_sort(collect_list(when(!dup, struct(col("pos"), col("seg"))))).as("kept"))
      .select(col(idCol) +: scopeCols.map(col) :+ col("n_segs") :+
        col("n_removed") :+ col("chars_removed") :+ col("kept_chars") :+
        array_join(transform(col("kept"), x => x.getField("seg")), joiner)
          .as("kept_text"): _*)
  }

  // ---- unigram LM surprisal (CCNet-style quality scoring) ------------

  /** CCNet-style language-model quality scoring with an engine-exact
    * integer surrogate: a token's surprisal is
    * `floor(log2(N)) - floor(log2(count))` bits, computed as
    * binary-string lengths (`length(bin(x))`) so no transcendental
    * `ln` — which engines round differently in the last ulp — ever
    * enters a hash-compared column. Per-doc score = total bits over
    * token instances and milli-bits/token (integer floor division).
    * Input: a [[termCounts]] table. Shape: tok-level corpus counts →
    * token-keyed join back → doc-keyed re-agg (the q91 two-shuffle
    * shape); the corpus total is a 1-row broadcast. */
  def unigramSurprisal(terms: DataFrame, idCol: String): DataFrame = {
    // the (doc, tok) counts feed the LM table AND the scoring join-back,
    // pinned once (a caller's pin is read as it is); the null filter the
    // tok join infers, put on every read, lets the LM's two uses share one exchange
    val docTok = (if (Dedup.isPin(terms)) terms else Dedup.stage(terms))
      .filter(col("tok").isNotNull)
    val tokc = docTok.groupBy(col("tok")).agg(sum(col("tf")).as("cnt"))
    val total = tokc.agg(sum(col("cnt")).as("n_total"))
    val bits = tokc.crossJoin(broadcast(total))
      .select(col("tok"),
        (length(bin(col("n_total"))) - length(bin(col("cnt")))).cast("long").as("bits"))
    docTok.join(bits, Seq("tok"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("bits")).as("total_bits"))
      .withColumn("milli_bits_per_token",
        expr("(1000 * total_bits) div n_tokens"))
  }

  // ---- vocabulary coverage / OOV rate --------------------------------

  /** Frequency-based vocabulary build + per-doc out-of-vocabulary rate:
    * the vocab is the top-`v` tokens by (count desc, token asc) —
    * selected through TopKPerKeyExec's bounded heap (the vocab table is
    * dictionary-sized; nothing global-sorts the corpus) — and each doc
    * reports its token count, OOV instance count, OOV type count and
    * e6 OOV rate. The tokenizer-coverage eval every vocab build runs
    * before committing to a merge table (the apply-side complement of
    * q121/q125). */
  def vocabCoverage(df: DataFrame, textCol: String, idCol: String, v: Int): DataFrame = {
    val docTok = Dedup.stage(termCounts(df, textCol, idCol))
    val tokc = docTok.groupBy(col("tok")).agg(sum(col("tf")).as("cnt"))
      .withColumn("g", lit(1))
    val vocab = graft.plans.Plans.topKPerKeyRanked(tokc, Seq(tokc("g")),
      Seq((tokc("cnt"), true), (tokc("tok"), false)), v, "rnk")
      .select(col("tok"), lit(true).as("in_vocab"))
    docTok.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("tf")).otherwise(0L)).as("n_oov"),
        count_distinct(when(col("in_vocab").isNull, col("tok"))).as("n_oov_types"))
      .withColumn("oov_e6",
        e6(col("n_oov").cast("double") / col("n_tokens")))
  }

  // ---- deterministic upsampling (epochs-per-dataset repeats) ---------

  /** Materialize a data-mix's REPEAT counts: when a domain's sampling
    * quota exceeds its document count (the temperature mix upweights
    * small domains past availability), each doc repeats
    * `quota div n_docs` times and the first `quota mod n_docs` docs by
    * deterministic hash rank repeat once more — the "epochs per
    * dataset" step of published pretraining mixes, materialized
    * set-wise: Σ n_repeats per domain == quota exactly, on any engine.
    * `quotas` is a (stratumCol, quota) dim — broadcast; the rank is
    * the two-level `stratumHashRank` (q74's ordering, no
    * single-stratum sort). */
  def upsampleRepeats(df: DataFrame, stratumCol: String, idCol: String,
                      quotas: DataFrame): DataFrame =
    stratumHashRank(df, stratumCol, idCol)
      .join(broadcast(quotas), Seq(stratumCol))
      .withColumn("base_repeats", expr("quota div stratum_n"))
      .withColumn("extra", col("rk") <= expr("quota % stratum_n"))
      .withColumn("n_repeats",
        col("base_repeats") + when(col("extra"), 1L).otherwise(0L))

  // ---- BM25 lexical top-k retrieval ----------------------------------

  /** Sparse lexical retrieval over the corpus — the BM25-shaped
    * counterpart of the dense ANN family (layer E): per-term scores
    * use the saturated-tf form `tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))`
    * with k1=1.25, b=0.75 (both exactly representable doubles) and a
    * RATIONAL rarity weight `(N−df+0.5)/(N+0.5)` in place of the
    * engine-variant `ln` idf — every per-(doc, term) score is ONE
    * fixed IEEE double tree rounded to e6, and per-(query, doc) totals
    * sum the already-rounded integers, so ranking is bit-reproducible
    * at any parallelism. Shape: the (doc, tok) tf table is staged once
    * and probed by a BROADCAST query-term join (the inverted-index
    * seek — only query terms survive the probe); df is token-keyed,
    * dl doc-keyed, the one-row norms broadcast; ranking runs through
    * TopKPerKeyExec's bounded per-query heaps, never a corpus sort. */
  /** Staged BM25 corpus statistics — the (doc, tok) tf table (staged
    * once), token document frequencies, per-doc lengths and the one-row
    * norms. Shared by the base ranking and any re-scoring pass (q206's
    * pseudo-relevance feedback probes the same staged tables twice). */
  def bm25Stats(df: DataFrame, textCol: String, idCol: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val docTok = Dedup.stage(termCounts(df, textCol, idCol))
    val dfreq = docTok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val dl = docTok.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    val norms = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total"))
    (docTok, dfreq, dl, norms)
  }

  /** Per-(query, doc, term) e6-rounded BM25 term scores for a
    * (query_id, term) workload — the broadcast inverted-index probe. */
  def bm25TermScores(docTok: DataFrame, dfreq: DataFrame, dl: DataFrame,
                     norms: DataFrame, idCol: String,
                     queryTerms: DataFrame): DataFrame =
    docTok
      .join(broadcast(queryTerms), docTok("tok") === queryTerms("term"))
      .join(dfreq, Seq("tok"))
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(norms))
      .select(col("query_id"), col(idCol), col("tok"),
        e6((col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
            (col("n_docs").cast("double") + lit(0.5)) *
          ((col("tf").cast("double") * lit(2.25)) /
            (col("tf").cast("double") + lit(1.25) *
              (lit(0.25) + lit(0.75) * col("dl").cast("double") /
                (col("total").cast("double") / col("n_docs").cast("double"))))))
          .as("score_e6"))

  def bm25TopK(df: DataFrame, textCol: String, idCol: String,
               queryTerms: DataFrame, k: Int): DataFrame = {
    val (docTok, dfreq, dl, norms) = bm25Stats(df, textCol, idCol)
    bm25Rank(docTok, dfreq, dl, norms, idCol, queryTerms, k)
  }

  /** Base BM25 ranking against already-staged stats. */
  def bm25Rank(docTok: DataFrame, dfreq: DataFrame, dl: DataFrame,
               norms: DataFrame, idCol: String,
               queryTerms: DataFrame, k: Int): DataFrame = {
    val scored = bm25TermScores(docTok, dfreq, dl, norms, idCol, queryTerms)
    val perQd = scored.groupBy(col("query_id"), col(idCol))
      .agg(sum(col("score_e6")).as("score_e6"),
        count(lit(1)).as("n_terms_hit"))
    graft.plans.Plans.topKPerKeyRanked(perQd, Seq(perQd("query_id")),
      Seq((perQd("score_e6"), true), (perQd(idCol), false)), k, "rnk")
      .select(col("query_id").cast("long").as("query_id"),
        col("rnk").cast("long").as("rnk"), col(idCol), col("score_e6"),
        col("n_terms_hit"))
  }

  // ---- linear text-classifier inference (fasttext-style) -------------

  /** Corpus-scale inference of a linear bag-of-features text
    * classifier — the fasttext-shaped quality/domain scorer real
    * pipelines apply after training offline. Features are word
    * unigrams + bigrams hashed into `nBuckets`; the MODEL is a
    * bucket→integer-weight table (here synthesized deterministically
    * from the affine hash family — in production it arrives as a
    * trained table with exactly this schema) joined BROADCAST, so the
    * corpus is never shuffled for the model: (doc, bucket) counts →
    * broadcast weight join → per-doc integer logit. The score is all
    * integer; `keep` is the sign. */
  def textClassifier(df: DataFrame, textCol: String, idCol: String,
                     nBuckets: Int): DataFrame = {
    import graft.functions.{GraftFunctions, Hashing}
    val toked = df.select(col(idCol), tokens(fold(col(textCol))).as("toks"))
    val feats = toked
      .select(col(idCol), explode_outer(
        concat(col("toks"), GraftFunctions.tokenShingles(col("toks"), 2))).as("feat"))
      .filter(col("feat").isNotNull)
      .withColumn("bucket", Hashing.polyHash(col("feat")) % nBuckets)
      .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("cnt"))
    val weights = df.sparkSession.range(nBuckets).toDF("bucket")
      .withColumn("w", Hashing.affine(col("bucket"), 7) % 2001L - 1000L)
    feats.join(broadcast(weights), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_feats"),
        sum(col("cnt") * col("w")).as("score_sum"))
      .withColumn("milli_score", expr("(1000 * score_sum) div n_feats"))
      .withColumn("keep", col("score_sum") >= 0L)
  }

  // ---- DSIR importance weights (data selection) ----------------------

  /** Data Selection via Importance Resampling (Xie et al. 2023): a
    * doc's importance weight compares a TARGET unigram LM (docs where
    * `targetCol` is true, add-one smoothed over the raw vocabulary)
    * against the RAW corpus LM. The log-likelihood ratio is replaced
    * by its first-order surrogate `ln r ≈ r − 1` so no transcendental
    * — which engines round differently in the last ulp — enters a
    * hash-compared column: each token contributes its e6 likelihood-
    * ratio deviation `round(1e6·r) − 1e6` where
    * `r = ((cnt_tgt+1)·N_raw) / ((N_tgt+V)·cnt_raw)`, one fixed IEEE
    * double expression tree both engines evaluate identically.
    * `weight_e6 = Σ tf·dev > 0` means the doc looks more like the
    * target distribution than the background. Input: a [[termCounts]]
    * table, joined to `docs` for each doc's `targetCol` flag (so only
    * the terms of `docs`' ids count). Shape: the flagged (doc, tok)
    * table feeds both LM tables (token-keyed aggs), joined back on
    * token; LM normalizers are a 1-row broadcast. */
  def dsirWeights(terms: DataFrame, docs: DataFrame, idCol: String,
                  targetCol: Column): DataFrame = {
    val docTok = Dedup.stage(terms.join(
      docs.select(col(idCol), targetCol.as("is_target")), Seq(idCol)))
      .filter(col("tok").isNotNull) // one LM exchange, as in unigramSurprisal
    val lm = docTok.groupBy(col("tok")).agg(
      sum(col("tf")).as("cnt_raw"),
      sum(when(col("is_target"), col("tf")).otherwise(0L)).as("cnt_tgt"))
    val norms = lm.agg(
      sum(col("cnt_raw")).as("n_raw"),
      sum(col("cnt_tgt")).as("n_tgt"),
      count(lit(1)).as("vocab_n"))
    val devs = lm.crossJoin(broadcast(norms))
      .select(col("tok"),
        (round(lit(1000000.0) *
          ((col("cnt_tgt") + 1L).cast("double") * col("n_raw").cast("double")) /
          ((col("n_tgt") + col("vocab_n")).cast("double") * col("cnt_raw").cast("double")))
          .cast("long") - 1000000L).as("dev_e6"))
    docTok.join(devs, Seq("tok"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("dev_e6")).as("weight_e6"))
      .withColumn("per_token_dev_e6", expr("weight_e6 div n_tokens"))
  }

  // ---- deterministic epoch shuffle + shard layout --------------------

  /** The global training-data shuffle: every epoch permutes the corpus
    * by a seeded portable hash and deals docs into `nShards` balanced
    * shards; a doc's read order is (shard, pos). No global sort ever
    * runs — the permutation IS the hash order, the only window is
    * per-shard (the output file grain, like q75's packer), and a
    * different `seed` reshuffles everything deterministically.
    * Reproducible on any engine, any parallelism. */
  def epochShuffle(df: DataFrame, idCol: String, seed: String,
                   nShards: Int): DataFrame = {
    val keyed = df.select(col(idCol),
      graft.functions.Hashing.polyHash(
        concat(col(idCol).cast("string"), lit(":"), lit(seed))).as("shuffle_key"))
      .withColumn("shard", (col("shuffle_key") % nShards).cast("long"))
    keyed.withColumn("pos",
      row_number().over(Window.partitionBy(col("shard"))
        .orderBy(col("shuffle_key"), col(idCol))).cast("long"))
  }

  // ---- span-corruption statistics (T5-style masking prep) ------------

  /** T5-style span-corruption accounting: each token is masked by a
    * seeded deterministic hash draw (`rateMille`/1000 i.i.d.), runs of
    * masked tokens collapse into spans, and the doc reports the
    * input/target sequence lengths the corruption would produce
    * (each span costs one sentinel on both sides). The per-token draw
    * is map-side column math; the only window is per-doc over token
    * position (the lag that finds span starts). */
  def spanCorruptStats(df: DataFrame, textCol: String, idCol: String,
                       rateMille: Int, seed: String): DataFrame = {
    val toked = df
      .select(col(idCol), posexplode_outer(tokens(fold(col(textCol)))).as(Seq("pos", "tok")))
      .filter(col("tok").isNotNull)
      .withColumn("masked",
        graft.functions.Hashing.polyHash(
          concat(col(idCol).cast("string"), lit(":"), col("pos").cast("string"),
            lit(":"), lit(seed))) % 1000 < rateMille)
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    toked
      .withColumn("prev_masked", lag(col("masked"), 1).over(w))
      .withColumn("span_start",
        col("masked") && (col("prev_masked").isNull || !col("prev_masked")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked"),
        sum(when(col("span_start"), 1L).otherwise(0L)).as("n_spans"))
      .select(col(idCol), col("n_tokens"), col("n_masked"), col("n_spans"),
        e6(col("n_masked").cast("double") / col("n_tokens")).as("masked_e6"),
        (col("n_tokens") - col("n_masked") + col("n_spans")).as("n_input_tokens"),
        (col("n_masked") + col("n_spans")).as("n_target_tokens"))
  }
}
