package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.operators.{Curation, Dedup}

/** Training-data curation layer (SURVEY.md §2 D′): repetition-signal
  * quality filtering, PII scrubbing, eval-set decontamination, and
  * per-domain stratified downsampling — the steps between ingest and
  * tokenization in an LLM data pipeline.
  */
object CurationQueries extends QueryFamily {

  // shared oracle fragments (folded whitespace tokens, as DedupQueries)
  private val FoldSql =
    "lower(strip_accents(translate(text, '-‐‑‒–—―­', '       ')))"
  private val ToksSql = s"string_split_regex(trim($FoldSql), '\\s+')"
  private def e6Sql(e: String) = s"CAST(ROUND(($e) * 1000000.0) AS BIGINT)"

  // ---- q71: repetition / quality signals ----

  /** q71: Gopher-style word-level repetition signals per document —
    * token and distinct-token counts, most-frequent-token share,
    * most-frequent-bigram share, duplicate-token share (e6 integers).
    * Two (doc, gram) hash-agg chains, no windows, nothing quadratic. */
  def repetitionStats(s: SparkSession, dir: String): DataFrame =
    Curation.repetitionStats(Tables.documents(s, dir), "text", "doc_id")
      .orderBy(col("doc_id"))

  val repetitionStatsSql: String =
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |pos AS (SELECT doc_id, t, unnest(t) AS tok, generate_subscripts(t, 1) AS i FROM toks),
       |tokc AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM pos GROUP BY doc_id, tok),
       |toka AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       |    COUNT(*) AS n_distinct_tokens, MAX(cnt) AS top_tok_cnt
       |  FROM tokc GROUP BY doc_id),
       |bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS b FROM pos WHERE i + 1 <= len(t)),
       |bgc AS (SELECT doc_id, b, COUNT(*) AS cnt FROM bg GROUP BY doc_id, b),
       |bga AS (SELECT doc_id, MAX(cnt) AS top_bg_cnt FROM bgc GROUP BY doc_id)
       |SELECT toka.doc_id, n_tokens, n_distinct_tokens,
       |  ${e6Sql("CAST(top_tok_cnt AS DOUBLE) / n_tokens")} AS top_token_e6,
       |  ${e6Sql("CAST(COALESCE(top_bg_cnt, 0) AS DOUBLE) / GREATEST(n_tokens - 1, 1)")} AS top_bigram_e6,
       |  ${e6Sql("CAST(n_tokens - n_distinct_tokens AS DOUBLE) / n_tokens")} AS dup_token_e6
       |FROM toka LEFT JOIN bga ON toka.doc_id = bga.doc_id
       |ORDER BY toka.doc_id""".stripMargin

  // ---- q257: corpus-relative repetition-tail curve ----

  /** q257: the percentile REPETITION-cut rule —
    * [[graft.CurationPipeline]]'s `dupTailPct` mode, the q256
    * corpus-relative recipe applied to the quality gate's other
    * corpus-dependent constant (`maxDupE6`) — priced as a curve: for
    * each pct gate, the exact integer-rank percentile threshold
    * (PERCENTILE_DISC) of `dup_token_e6` over the corpus's repetition
    * stats, and the survivor set it implies (docs BELOW the threshold
    * survive; ties at the threshold are tail, the q256 convention).
    *
    * Scale shape: the corpus collapses to ONE dup-ratio histogram
    * (dim-grain — one row per distinct e6 ratio, value-bounded at
    * 1e6+1, never the corpus); the cumulative walk is a window over
    * that dim only; the 4-gate threshold dim broadcasts back and the
    * corpus prices every gate in one aggregate pass. The two
    * crossJoins are bounded broadcasts (1-row total, 4-row gates). */
  val DupTailPcts: Seq[Int] = Seq(50, 75, 90, 95)

  def dupTail(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val stats = Curation.tokenStats(
        Curation.termCounts(Tables.documents(s, dir), "text", "doc_id"), "doc_id")
      .select(col("doc_id"), col("dup_token_e6"))
    val hist = stats.groupBy(col("dup_token_e6")).agg(count(lit(1)).as("cnt"))
    val cum = hist.withColumn("cum",
        sum(col("cnt")).over(Window.orderBy(col("dup_token_e6"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(hist.agg(sum(col("cnt")).as("n_corpus"))))
    val pcts = DupTailPcts.map(_.toLong).toDF("pct")
    val thrs = cum.crossJoin(broadcast(pcts))
      .filter(col("cum") * 100 >= col("n_corpus") * col("pct"))
      .groupBy(col("pct")).agg(min(col("dup_token_e6")).as("thr"))
    stats.crossJoin(broadcast(thrs))
      .groupBy(col("pct"), col("thr"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dup_token_e6") < col("thr"), 1L).otherwise(0L)).as("n_kept"),
        coalesce(sum(when(col("dup_token_e6") < col("thr"), col("doc_id"))),
          lit(0L)).as("kept_id_sum"))
      .orderBy(col("pct"))
  }

  val dupTailSql: String = {
    val pcts = DupTailPcts.map(p => s"($p)").mkString(", ")
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |pos AS (SELECT doc_id, unnest(t) AS tok FROM toks),
       |tokc AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM pos GROUP BY doc_id, tok),
       |stat AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       |    COUNT(*) AS n_distinct FROM tokc GROUP BY doc_id),
       |de6 AS (SELECT doc_id,
       |    ${e6Sql("CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens")} AS v FROM stat),
       |hist AS (SELECT v, COUNT(*) AS cnt FROM de6 GROUP BY v),
       |cum AS (SELECT v, SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    (SELECT CAST(SUM(cnt) AS BIGINT) FROM hist) AS n FROM hist),
       |pcts(pct) AS (VALUES $pcts),
       |thrs AS (SELECT pct, MIN(v) AS thr FROM pcts JOIN cum ON cum * 100 >= n * pct GROUP BY pct)
       |SELECT CAST(pct AS BIGINT) AS pct, CAST(thr AS BIGINT) AS thr,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN v < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(COALESCE(SUM(CASE WHEN v < thr THEN doc_id END), 0) AS BIGINT) AS kept_id_sum
       |FROM de6 CROSS JOIN thrs GROUP BY pct, thr ORDER BY pct""".stripMargin
  }

  // ---- q72: PII scrubbing ----

  /** q72: regex PII scrub + per-segment redaction accounting. The
    * corpus has no natural PII, so each customer row derives a
    * deterministic contact line (same expression in the oracle) and
    * the operator under test is the scrub chain: email tag, then
    * phone-like digit runs, with counts taken in scrub order. Results
    * aggregate per market segment. */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val contact = concat(col("c_name"), lit(" reach me at user"), col("c_custkey"),
      lit("@ex"), col("c_nationkey"), lit(".example.com or +55 (11) 9"),
      lpad((col("c_custkey") * 7919 % 10000000).cast("string"), 7, "0"))
    Tables.customer(s, dir)
      .withColumn("contact", contact)
      .withColumn("scrubbed", Curation.scrubPii(col("contact")))
      .withColumn("n_emails", Curation.emailCount(col("contact")).cast("long"))
      .withColumn("n_phones", Curation.phoneCount(col("contact")).cast("long"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_emails")).as("emails_redacted"),
        sum(col("n_phones")).as("phones_redacted"),
        sum(length(col("contact")) - length(col("scrubbed"))).cast("long").as("chars_removed"))
      .orderBy(col("segment"))
  }

  val piiScrubSql: String = {
    val contact = "c_name || ' reach me at user' || c_custkey || '@ex' || c_nationkey || " +
      "'.example.com or +55 (11) 9' || lpad(CAST(c_custkey * 7919 % 10000000 AS VARCHAR), 7, '0')"
    val email = Curation.EmailRegex
    val phone = Curation.PhoneRegex
    s"""WITH base AS (SELECT c_mktsegment AS segment, $contact AS contact FROM customer),
       |scr AS (SELECT segment, contact,
       |    regexp_replace(regexp_replace(contact, '$email', '<EMAIL>', 'g'), '$phone', '<PHONE>', 'g') AS scrubbed,
       |    len(regexp_extract_all(contact, '$email')) AS n_emails,
       |    len(regexp_extract_all(regexp_replace(contact, '$email', '<EMAIL>', 'g'), '$phone')) AS n_phones
       |  FROM base)
       |SELECT segment, COUNT(*) AS n_rows,
       |  CAST(SUM(n_emails) AS BIGINT) AS emails_redacted,
       |  CAST(SUM(n_phones) AS BIGINT) AS phones_redacted,
       |  CAST(SUM(len(contact) - len(scrubbed)) AS BIGINT) AS chars_removed
       |FROM scr GROUP BY segment ORDER BY segment""".stripMargin
  }

  // ---- q170: Luhn-validated card-number audit (checksum PII tier) ----

  /** q170: checksum-validated PII detection — the precision tier above
    * q72's regex scrub. A 16-digit run is only treated as a card
    * number when its Luhn mod-10 checksum holds, which is what drops
    * regex false positives (order ids, timestamps) from the redaction
    * set: a random digit run passes Luhn 1 time in 10, a real PAN
    * always. The corpus has no natural PANs, so each customer derives
    * a deterministic 16-digit candidate whose check digit is correct
    * for custkey % 3 == 0 and off-by-5 otherwise (same expression in
    * the oracle); the operator under test is the unrolled 16-term
    * Luhn fold (`Curation.luhnSum` — pure codegen'd column math, no
    * UDF, no HOF). Per market segment: candidates, Luhn-valid count,
    * validated share, and the digits a validated-only redaction
    * removes vs the regex tier's overcount. */
  def luhnAudit(s: SparkSession, dir: String): DataFrame = {
    val pan15 = lpad(((col("c_custkey") * 7919L + 13L) % 1000000000000000L)
      .cast("string"), 15, "0")
    val base = Tables.customer(s, dir)
      .withColumn("pan15", pan15)
      .withColumn("chk",
        (lit(10) - (Curation.luhnSum(col("pan15"), 15) % 10)) % 10)
      .withColumn("digit",
        when(col("c_custkey") % 3 === 0, col("chk")).otherwise((col("chk") + 5) % 10))
      .withColumn("pan", concat(col("pan15"), col("digit").cast("string")))
      .withColumn("luhn_ok", Curation.luhnSum(col("pan"), 16) % 10 === 0)
    base.groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("luhn_ok"), 1L).otherwise(0L)).as("n_luhn_valid"),
        sum(when(!col("luhn_ok"), 1L).otherwise(0L)).as("n_rejected"))
      .withColumn("valid_share_e6",
        round(col("n_luhn_valid").cast("double") /
          col("n_candidates").cast("double") * lit(1000000.0)).cast("long"))
      .withColumn("digits_redacted", col("n_luhn_valid") * 16L)
      .withColumn("regex_overcount_digits", col("n_rejected") * 16L)
      .orderBy(col("segment"))
  }

  val luhnAuditSql: String = {
    val pan15 =
      "lpad(CAST((c_custkey * 7919 + 13) % 1000000000000000 AS VARCHAR), 15, '0')"
    val sum15 = Curation.luhnSumSql("pan15", 15)
    val sum16 = Curation.luhnSumSql("pan", 16)
    s"""WITH b0 AS (SELECT c_mktsegment AS segment, c_custkey, $pan15 AS pan15 FROM customer),
       |b1 AS (SELECT segment, c_custkey, pan15,
       |    (10 - ($sum15 % 10)) % 10 AS chk FROM b0),
       |b2 AS (SELECT segment, pan15 || CAST(
       |    CASE WHEN c_custkey % 3 = 0 THEN chk ELSE (chk + 5) % 10 END AS VARCHAR) AS pan
       |  FROM b1),
       |b3 AS (SELECT segment, ($sum16 % 10 = 0) AS luhn_ok FROM b2),
       |agg AS (SELECT segment, COUNT(*) AS n_candidates,
       |    CAST(SUM(CASE WHEN luhn_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_luhn_valid,
       |    CAST(SUM(CASE WHEN luhn_ok THEN 0 ELSE 1 END) AS BIGINT) AS n_rejected
       |  FROM b3 GROUP BY segment)
       |SELECT segment, n_candidates, n_luhn_valid, n_rejected,
       |  CAST(ROUND(CAST(n_luhn_valid AS DOUBLE) / CAST(n_candidates AS DOUBLE) * 1000000.0) AS BIGINT) AS valid_share_e6,
       |  n_luhn_valid * 16 AS digits_redacted,
       |  n_rejected * 16 AS regex_overcount_digits
       |FROM agg ORDER BY segment""".stripMargin
  }

  // ---- q73: eval-set decontamination ----

  val EvalMod = 97

  /** q73: benchmark-contamination check — docs with
    * doc_id % 97 == 0 form the held-out eval set; every training doc
    * reports how many of its distinct 3-gram shingles appear anywhere
    * in the eval set (broadcast eval shingles, integer flag
    * predicate). The decontamination step a pretraining corpus runs
    * against its eval suites. */
  def contamination(s: SparkSession, dir: String): DataFrame =
    Curation.contamination(Dedup.shingles(Tables.documents(s, dir), "text", "doc_id"),
      "doc_id", col("doc_id") % EvalMod === 0)
      .orderBy(col("doc_id"))

  val contaminationSql: String =
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |pos AS (SELECT doc_id, t, generate_subscripts(t, 1) AS i FROM toks),
       |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
       |  FROM pos WHERE i + 2 <= len(t)),
       |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % $EvalMod = 0),
       |tr AS (SELECT doc_id, sh.shingle, CASE WHEN ev.shingle IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM sh LEFT JOIN ev ON sh.shingle = ev.shingle
       |  WHERE doc_id % $EvalMod <> 0)
       |SELECT doc_id, COUNT(*) AS n_shingles,
       |  CAST(SUM(hit) AS BIGINT) AS n_contaminated,
       |  ${e6Sql("CAST(SUM(hit) AS DOUBLE) / COUNT(*)")} AS contamination_e6,
       |  CAST(SUM(hit) AS BIGINT) * 2 >= COUNT(*) AS contaminated
       |FROM tr GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- q74: per-domain stratified downsampling ----

  val SampleDenom = 5 // keep ceil(n/5) per source = a 20% quota

  /** q74: deterministic per-source quota sample — rank inside each
    * stratum by md5(doc_id) and keep the first ceil(n/5). Exact
    * integer quota; the hash makes the pick content-independent and
    * reproducible on any engine (the scale relaxation — hash-threshold
    * filter, no window — is noted on the operator). */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame =
    Curation.stratifiedSample(Tables.documents(s, dir), "source", "doc_id", SampleDenom)
      .select(col("doc_id"), col("source"), col("rk"),
        col("stratum_n").cast("long").as("stratum_n"), col("quota"))
      .orderBy(col("doc_id"))

  val stratifiedSampleSql: String =
    s"""WITH ranked AS (SELECT doc_id, source,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk,
       |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS stratum_n
       |  FROM documents)
       |SELECT doc_id, source, rk, stratum_n, (stratum_n + ${SampleDenom - 1}) // $SampleDenom AS quota
       |FROM ranked WHERE rk <= (stratum_n + ${SampleDenom - 1}) // $SampleDenom
       |ORDER BY doc_id""".stripMargin

  // ---- q75: context-window sequence packing ----

  val CtxLen = 512

  /** q75: deterministic sequence packing — the "concatenate docs with
    * an EOD token, slice fixed context windows" step of a pretraining
    * writer. Docs are streamed per source shard in doc_id order; each
    * doc starts at its shard's running token offset, and seq_id /
    * offset are that cumsum divided/modded by the context length
    * (docs straddling a boundary are flagged). One cumulative-sum
    * window per shard — shards pack in parallel, nothing global. */
  def sequencePack(s: SparkSession, dir: String): DataFrame =
    Curation.sequencePack(Tables.documents(s, dir), "text", "doc_id", "source", CtxLen)
      .orderBy(col("doc_id"))

  val sequencePackSql: String =
    s"""WITH counted AS (SELECT doc_id, source,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |cum AS (SELECT doc_id, source, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_tokens
       |  FROM counted)
       |SELECT doc_id, source, n_tokens, cum_tokens,
       |  cum_tokens // $CtxLen AS seq_id,
       |  cum_tokens % $CtxLen AS offset_in_seq,
       |  cum_tokens % $CtxLen + n_tokens > $CtxLen AS straddles
       |FROM cum ORDER BY doc_id""".stripMargin

  // ---- q76: characteristic terms (integer tf/df ranking) ----

  val TopTerms = 3

  /** q76: per-document characteristic terms — the tf-idf keyword
    * extraction step, ranked entirely with integers ((tf desc, df asc,
    * term asc) — df IS the idf ordering, no engine-variant log) so the
    * pick is bit-reproducible. tf from a (doc, tok) hash agg; df from
    * a tok-level agg of the same pairs; ranked via TopKPerKeyExec. */
  def topTerms(s: SparkSession, dir: String): DataFrame =
    Curation.topTerms(Tables.documents(s, dir), "text", "doc_id", TopTerms)
      .orderBy(col("doc_id"), col("rnk"))

  val topTermsSql: String =
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |pos AS (SELECT doc_id, unnest(t) AS tok FROM toks),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM pos GROUP BY doc_id, tok),
       |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
       |ranked AS (SELECT doc_id, tok, tf.tf, df.df,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tf.tf DESC, df.df, tok) AS rn
       |  FROM tf JOIN df USING (tok))
       |SELECT doc_id, CAST(rn AS BIGINT) AS rnk, tok,
       |  CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
       |FROM ranked WHERE rn <= $TopTerms
       |ORDER BY doc_id, rnk""".stripMargin

  // ---- q77: data-mix allocation ----

  /** Target language shares in ppm (sums to 1e6) and the doc budget.
    * Chosen so the largest-remainder step and the availability cap are
    * both exercised (fr's quota exceeds its corpus count). */
  val MixTargets: Seq[(String, Long)] = Seq(
    "de" -> 170000L, "en" -> 370000L, "es" -> 170000L,
    "fr" -> 170000L, "zh" -> 120000L)
  val MixBudget = 397L

  /** q77: the data-mixing step — allocate a fixed sequence budget
    * across languages to hit target shares, with integer
    * largest-remainder rounding and availability caps. The windows run
    * over the 5-row language dim, not the corpus. */
  def mixAllocation(s: SparkSession, dir: String): DataFrame =
    Curation.mixAllocation(
      Tables.documents(s, dir).groupBy(col("lang")).agg(count(lit(1)).as("n_docs")),
      "lang", MixTargets, MixBudget)
      .orderBy(col("lang"))

  val mixAllocationSql: String = {
    val values = MixTargets.map { case (l, p) => s"('$l', CAST($p AS BIGINT))" }.mkString(", ")
    s"""WITH tgt(lang, share_ppm) AS (VALUES $values),
       |counts AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
       |j AS (SELECT c.lang, c.n_docs, t.share_ppm,
       |    ($MixBudget * t.share_ppm) // 1000000 AS raw_quota,
       |    ($MixBudget * t.share_ppm) % 1000000 AS frac
       |  FROM counts c JOIN tgt t ON c.lang = t.lang),
       |w AS (SELECT *, $MixBudget - SUM(raw_quota) OVER () AS remainder,
       |    ROW_NUMBER() OVER (ORDER BY frac DESC, lang) AS rk
       |  FROM j),
       |q AS (SELECT lang, n_docs, share_ppm,
       |    raw_quota + (CASE WHEN rk <= remainder THEN 1 ELSE 0 END) AS quota
       |  FROM w)
       |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs, share_ppm, CAST(quota AS BIGINT) AS quota,
       |  CAST(LEAST(quota, n_docs) AS BIGINT) AS alloc,
       |  CAST(quota - LEAST(quota, n_docs) AS BIGINT) AS shortfall,
       |  ${e6Sql("CAST(LEAST(quota, n_docs) AS DOUBLE) / n_docs")} AS rate_e6
       |FROM q ORDER BY lang""".stripMargin
  }

  // ---- q158: DoReMi-style iterative domain reweighting ----

  val DoremiRounds = 5
  val DoremiEtaPerMilli = 1000L
  val DoremiBudget = 1000L

  /** q158: DoReMi-shaped domain reweighting (Xie et al. 2023) — the
    * ITERATIVE member of the data-mix family (q77 fixed targets, q104
    * temperature, q130 DSIR, q137 upsampling): domains whose LM loss
    * exceeds the corpus reference gain mix weight multiplicatively,
    * round by round. Losses are the q127 integer-bits surprisal
    * aggregated per source; each of the 5 rounds multiplies weights
    * by `1e6 + 1000·excess_milli` and renormalizes to Σ=1e6 with
    * q77's largest-remainder split — every step pure integer
    * arithmetic, so the whole trajectory is engine-exact. (In the
    * full DoReMi loop each round's excess comes from a proxy-model
    * training step; with static losses the ALGEBRA of the update —
    * the part an engine owns — is what's pinned here.) Output per
    * domain: corpus stats, loss, excess, final weight, and the doc
    * quota the final mix assigns from a 1000-doc budget.
    *
    * Scale shape: the only corpus-scale work is one (doc, tok) hash
    * agg chain (shared with q127); the iteration runs on the
    * DOMAIN-count dim table collected as a bounded model (the k-row
    * centroid recipe). */
  def doremiMix(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val dom = Curation.unigramSurprisal(Curation.termCounts(docs, "text", "doc_id"), "doc_id")
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("total_bits")).as("total_bits"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("total_bits"),
        expr("(1000 * total_bits) div n_tokens").as("loss_milli"))
    // dim-sized domain model: collect, iterate exactly, re-emit
    val rows = dom.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))).sortBy(_._1)
    val refMilli = 1000L * rows.map(_._4).sum / rows.map(_._3).sum
    val excess = rows.map { case (src, _, _, _, loss) =>
      src -> math.max(0L, loss - refMilli) }.toMap
    val k = rows.length
    // round 0: uniform weights by largest remainder over the source order
    var w: Seq[(String, Long)] = rows.zipWithIndex.map { case (r, i) =>
      r._1 -> (1000000L / k + (if (i < (1000000L % k)) 1L else 0L)) }
    (1 to DoremiRounds).foreach { _ =>
      val raw = w.map { case (src, wv) =>
        src -> wv * (1000000L + DoremiEtaPerMilli * excess(src)) / 1000000L }
      val sum = raw.map(_._2).sum
      val base = raw.map { case (src, rv) =>
        (src, rv * 1000000L / sum, rv * 1000000L % sum) }
      val rem = (1000000L - base.map(_._2).sum).toInt
      val bump = base.sortBy { case (src, _, frac) => (-frac, src) }
        .take(rem).map(_._1).toSet
      w = base.map { case (src, b, _) =>
        src -> (b + (if (bump(src)) 1L else 0L)) }
    }
    val wMap = w.toMap
    val rawQ = rows.map { case (src, _, _, _, _) =>
      (src, DoremiBudget * wMap(src) / 1000000L, DoremiBudget * wMap(src) % 1000000L) }
    val remQ = (DoremiBudget - rawQ.map(_._2).sum).toInt
    val bumpQ = rawQ.sortBy { case (src, _, frac) => (-frac, src) }
      .take(remQ).map(_._1).toSet
    import s.implicits._
    rows.map { case (src, nDocs, nToks, bits, loss) =>
      (src, nDocs, nToks, loss, excess(src), wMap(src),
        rawQ.find(_._1 == src).get._2 + (if (bumpQ(src)) 1L else 0L))
    }.toSeq.toDF("source", "n_docs", "n_tokens", "loss_milli",
      "excess_milli", "weight_e6", "quota_docs")
      .orderBy(col("source"))
  }

  val doremiMixSql: String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH dt AS (SELECT doc_id, tok, COUNT(*) AS dc FROM
         |    (SELECT doc_id, unnest($ToksSql) AS tok FROM documents)
         |  GROUP BY doc_id, tok),
         |tokc AS (SELECT tok, CAST(SUM(dc) AS BIGINT) AS cnt FROM dt GROUP BY tok),
         |nt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM tokc),
         |bits AS (SELECT tok,
         |    CAST(length(bin(n_total)) - length(bin(cnt)) AS BIGINT) AS bits
         |  FROM tokc CROSS JOIN nt),
         |dom AS (SELECT d.source,
         |    CAST(COUNT(DISTINCT dt.doc_id) AS BIGINT) AS n_docs,
         |    CAST(SUM(dc) AS BIGINT) AS n_tokens,
         |    CAST(SUM(dc * bits.bits) AS BIGINT) AS total_bits
         |  FROM dt JOIN bits USING (tok) JOIN documents d ON dt.doc_id = d.doc_id
         |  GROUP BY d.source),
         |ls AS (SELECT source, n_docs, n_tokens, total_bits,
         |    (1000 * total_bits) // n_tokens AS loss_milli FROM dom),
         |ref AS (SELECT (1000 * SUM(total_bits)) // SUM(n_tokens) AS ref_milli FROM ls),
         |ex AS (SELECT source, n_docs, n_tokens, loss_milli,
         |    GREATEST(0, loss_milli - ref_milli) AS excess_milli
         |  FROM ls CROSS JOIN ref),
         |kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM ex),
         |w0 AS (SELECT source,
         |    1000000 // k + (CASE WHEN ROW_NUMBER() OVER (ORDER BY source) <= 1000000 % k
         |      THEN 1 ELSE 0 END) AS w
         |  FROM ex CROSS JOIN kk)""".stripMargin)
    (1 to DoremiRounds).foreach { r =>
      sb.append(s""",
        |r$r AS (SELECT ex.source,
        |    w0.w * (1000000 + $DoremiEtaPerMilli * excess_milli) // 1000000 AS raw
        |  FROM w${r - 1} w0 JOIN ex ON w0.source = ex.source),
        |n$r AS (SELECT source, raw * 1000000 // SUM(raw) OVER () AS base,
        |    raw * 1000000 % SUM(raw) OVER () AS frac
        |  FROM r$r),
        |w$r AS (SELECT source, base + (CASE WHEN
        |      ROW_NUMBER() OVER (ORDER BY frac DESC, source)
        |        <= 1000000 - SUM(base) OVER () THEN 1 ELSE 0 END) AS w
        |  FROM n$r)""".stripMargin)
    }
    sb.append(s""",
      |q0 AS (SELECT source, $DoremiBudget * w // 1000000 AS rawq,
      |    $DoremiBudget * w % 1000000 AS fracq, w
      |  FROM w$DoremiRounds),
      |q1 AS (SELECT source, w, rawq + (CASE WHEN
      |      ROW_NUMBER() OVER (ORDER BY fracq DESC, source)
      |        <= $DoremiBudget - SUM(rawq) OVER () THEN 1 ELSE 0 END) AS quota
      |  FROM q0)
      |SELECT ex.source, n_docs, n_tokens,
      |  CAST(loss_milli AS BIGINT) AS loss_milli,
      |  CAST(excess_milli AS BIGINT) AS excess_milli,
      |  CAST(w AS BIGINT) AS weight_e6, CAST(quota AS BIGINT) AS quota_docs
      |FROM ex JOIN q1 ON ex.source = q1.source
      |ORDER BY ex.source""".stripMargin)
    sb.toString
  }

  // ---- q78: composite quality filter ----

  val MinTokens = 20L
  val MaxDupE6 = 650000L
  val MaxBigramE6 = 60000L
  val MaxTokenE6 = 130000L

  /** q78: the keep/drop decision a quality-filtering stage makes,
    * with machine-readable reason codes in fixed order — the composite
    * over q71's repetition signals plus a minimum-length gate. All
    * comparisons are integer (e6 thresholds). */
  def qualityFilter(s: SparkSession, dir: String): DataFrame = {
    val stats = Curation.repetitionStats(Tables.documents(s, dir), "text", "doc_id")
    stats
      .withColumn("reasons", concat_ws(",",
        when(col("n_tokens") < MinTokens, "too_short"),
        when(col("dup_token_e6") >= MaxDupE6, "repetitive"),
        when(col("top_bigram_e6") >= MaxBigramE6, "dominant_bigram"),
        when(col("top_token_e6") >= MaxTokenE6, "dominant_token")))
      .withColumn("keep", col("reasons") === "")
      .select(col("doc_id"), col("n_tokens"), col("keep"), col("reasons"))
      .orderBy(col("doc_id"))
  }

  val qualityFilterSql: String =
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |pos AS (SELECT doc_id, t, unnest(t) AS tok, generate_subscripts(t, 1) AS i FROM toks),
       |tokc AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM pos GROUP BY doc_id, tok),
       |toka AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       |    COUNT(*) AS n_distinct_tokens, MAX(cnt) AS top_tok_cnt
       |  FROM tokc GROUP BY doc_id),
       |bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS b FROM pos WHERE i + 1 <= len(t)),
       |bgc AS (SELECT doc_id, b, COUNT(*) AS cnt FROM bg GROUP BY doc_id, b),
       |bga AS (SELECT doc_id, MAX(cnt) AS top_bg_cnt FROM bgc GROUP BY doc_id),
       |stats AS (SELECT toka.doc_id, n_tokens,
       |    ${e6Sql("CAST(top_tok_cnt AS DOUBLE) / n_tokens")} AS top_token_e6,
       |    ${e6Sql("CAST(COALESCE(top_bg_cnt, 0) AS DOUBLE) / GREATEST(n_tokens - 1, 1)")} AS top_bigram_e6,
       |    ${e6Sql("CAST(n_tokens - n_distinct_tokens AS DOUBLE) / n_tokens")} AS dup_token_e6
       |  FROM toka LEFT JOIN bga ON toka.doc_id = bga.doc_id),
       |flagged AS (SELECT doc_id, n_tokens, concat_ws(',',
       |    CASE WHEN n_tokens < $MinTokens THEN 'too_short' END,
       |    CASE WHEN dup_token_e6 >= $MaxDupE6 THEN 'repetitive' END,
       |    CASE WHEN top_bigram_e6 >= $MaxBigramE6 THEN 'dominant_bigram' END,
       |    CASE WHEN top_token_e6 >= $MaxTokenE6 THEN 'dominant_token' END) AS reasons
       |  FROM stats)
       |SELECT doc_id, n_tokens, reasons = '' AS keep, reasons
       |FROM flagged ORDER BY doc_id""".stripMargin

  // ---- q91: cross-doc duplicated n-grams (exact-substring dedup) ----

  val DupGramN = 5

  /** q91: the exact-substring-dedup signal — for each doc, how many of
    * its distinct 5-gram shingles occur in ANY other document (gram
    * document-frequency >= 2), the duplicated share, and the near-dup
    * flag. This is the corpus-wide complement of q73 (which checks
    * overlap against a small eval set): one gram-keyed aggregation
    * plus a co-partitioned join back, linear in corpus grams. */
  def dupNgrams(s: SparkSession, dir: String): DataFrame =
    Curation.dupNgrams(Tables.documents(s, dir), "text", "doc_id", DupGramN)
      .orderBy(col("doc_id"))

  val dupNgramsSql: String = {
    val gram = (0 until DupGramN).map(j => s"t[i+$j]").mkString(" || ' ' || ")
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |pos AS (SELECT doc_id, t, generate_subscripts(t, 1) AS i FROM toks),
       |sh AS (SELECT DISTINCT doc_id, $gram AS shingle
       |  FROM pos WHERE i + ${DupGramN - 1} <= len(t)),
       |dfq AS (SELECT shingle, COUNT(*) AS gram_df FROM sh GROUP BY shingle)
       |SELECT doc_id, COUNT(*) AS n_grams,
       |  CAST(SUM(CASE WHEN gram_df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
       |  CAST(MAX(gram_df) AS BIGINT) AS max_gram_df,
       |  ${e6Sql("CAST(SUM(CASE WHEN gram_df > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)")} AS dup_share_e6,
       |  CAST(SUM(CASE WHEN gram_df > 1 THEN 1 ELSE 0 END) AS BIGINT) * 2 >= COUNT(*) AS near_dup
       |FROM sh JOIN dfq USING (shingle)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- q99: leakage-aware train/valid/test split ----

  // 80/7/13 buckets — chosen so the 20 testdata domains exercise all
  // three splits (their hash buckets cluster under 92)
  val SplitTrainPct = 80
  val SplitValidPct = 87

  /** q99: the deterministic corpus split every pretraining pipeline
    * runs — assigned at the DOMAIN level (hash of `source`, not the
    * doc), so near-duplicate documents from one site can never
    * straddle train and test (the leakage-aware split rule). The
    * bucket is the portable polynomial hash mod 100: 90/5/5. Map-only;
    * reproducible on any engine, any day, any partitioning. */
  def corpusSplit(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing
    Tables.documents(s, dir)
      .withColumn("domain_bucket",
        Hashing.polyHash(concat(col("source"), lit(":split"))) % 100)
      .withColumn("split",
        when(col("domain_bucket") < SplitTrainPct, "train")
          .when(col("domain_bucket") < SplitValidPct, "valid")
          .otherwise("test"))
      .select(col("doc_id"), col("source"), col("domain_bucket"), col("split"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  val corpusSplitSql: String = {
    val bucket = s"${graft.functions.Hashing.polyHashSql("source || ':split'")} % 100"
    s"""SELECT doc_id, source, $bucket AS domain_bucket,
       |  CASE WHEN $bucket < $SplitTrainPct THEN 'train'
       |       WHEN $bucket < $SplitValidPct THEN 'valid'
       |       ELSE 'test' END AS split,
       |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---- q104: temperature-scaled mix quotas (alpha = 1/2) ----

  val TempBudget = 1000L

  /** q104: the multilingual-mix temperature rule — sampling quotas
    * proportional to n^alpha with alpha = 1/2, which upweights small
    * domains relative to proportional sampling (the standard
    * temperature trick). alpha = 1/2 keeps the gate engine-exact:
    * sqrt is IEEE-correctly-rounded everywhere, so the e6-integer
    * weights are bit-identical, and the quota split is q77's
    * largest-remainder arithmetic on those integers. Windows touch
    * only the (source, n_docs) dim — never the corpus. */
  def temperatureMix(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val whole = Window.partitionBy(lit(1))
    val rkW = Window.partitionBy(lit(1)).orderBy(col("frac").desc, col("source"))
    Tables.documents(s, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("w_e6", round(sqrt(col("n_docs").cast("double")) * 1e6).cast("long"))
      .withColumn("tot_w", sum(col("w_e6")).over(whole))
      .withColumn("raw_quota", expr(s"($TempBudget * w_e6) div tot_w"))
      .withColumn("frac", expr(s"($TempBudget * w_e6) % tot_w"))
      .withColumn("remainder", lit(TempBudget) - sum(col("raw_quota")).over(whole))
      .withColumn("rk", row_number().over(rkW))
      .withColumn("quota",
        col("raw_quota") + when(col("rk") <= col("remainder"), 1L).otherwise(0L))
      .select(col("source"), col("n_docs"), col("w_e6"), col("quota"),
        least(col("quota"), col("n_docs")).as("alloc"))
      .orderBy(col("source"))
  }

  val temperatureMixSql: String =
    s"""WITH counts AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
       |w AS (SELECT source, n_docs,
       |    CAST(ROUND(SQRT(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT) AS w_e6
       |  FROM counts),
       |t AS (SELECT *, CAST(SUM(w_e6) OVER () AS BIGINT) AS tot_w FROM w),
       |q AS (SELECT *, ($TempBudget * w_e6) // tot_w AS raw_quota,
       |    ($TempBudget * w_e6) % tot_w AS frac FROM t),
       |r AS (SELECT *, $TempBudget - CAST(SUM(raw_quota) OVER () AS BIGINT) AS remainder,
       |    ROW_NUMBER() OVER (ORDER BY frac DESC, source) AS rk FROM q)
       |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, w_e6,
       |  CAST(raw_quota + (CASE WHEN rk <= remainder THEN 1 ELSE 0 END) AS BIGINT) AS quota,
       |  CAST(LEAST(raw_quota + (CASE WHEN rk <= remainder THEN 1 ELSE 0 END), n_docs) AS BIGINT) AS alloc
       |FROM r ORDER BY source""".stripMargin

  val queries: Map[String, Q] = Map(
    "q71_repetition_stats" -> (repetitionStats _),
    "q72_pii_scrub" -> (piiScrub _),
    "q170_luhn_audit" -> (luhnAudit _),
    "q73_contamination" -> (contamination _),
    "q74_stratified_sample" -> (stratifiedSample _),
    "q75_sequence_pack" -> (sequencePack _),
    "q76_top_terms" -> (topTerms _),
    "q77_mix_allocation" -> (mixAllocation _),
    "q78_quality_filter" -> (qualityFilter _),
    "q91_dup_ngrams" -> (dupNgrams _),
    "q99_corpus_split" -> (corpusSplit _),
    "q104_temperature_mix" -> (temperatureMix _),
    "q158_doremi_mix" -> (doremiMix _),
    "q257_dup_tail" -> (dupTail _))

  val oracles: Map[String, String] = Map(
    "q71_repetition_stats" -> repetitionStatsSql,
    "q72_pii_scrub" -> piiScrubSql,
    "q170_luhn_audit" -> luhnAuditSql,
    "q73_contamination" -> contaminationSql,
    "q74_stratified_sample" -> stratifiedSampleSql,
    "q75_sequence_pack" -> sequencePackSql,
    "q76_top_terms" -> topTermsSql,
    "q77_mix_allocation" -> mixAllocationSql,
    "q78_quality_filter" -> qualityFilterSql,
    "q91_dup_ngrams" -> dupNgramsSql,
    "q99_corpus_split" -> corpusSplitSql,
    "q104_temperature_mix" -> temperatureMixSql,
    "q158_doremi_mix" -> doremiMixSql,
    "q257_dup_tail" -> dupTailSql)
}
