package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.operators.{Curation, Dedup}

/** The LLM training-data flow composed end-to-end from graft
  * operators — raw documents in, packed training sequences out:
  *
  *   docs(doc_id, source, text)
  *     -> exact dedup (content hash, keep lowest id)
  *     -> quality filter (repetition signals + min length)
  *     -> eval-set decontamination (shingle overlap vs held-out docs)
  *     -> near-dup clustering (Jaccard pairs -> components, keep rep)
  *     -> per-source stratified downsample
  *     -> context-window sequence packing
  *
  * Each stage is one of the independently-tested operators; this
  * object only wires them. Each survivor set is a semi/anti join over
  * declarative plans, and every frame with more than one consumer is
  * written once as a parquet stage ([[Dedup.stageParquet]]) while the
  * flow is built, so building it runs Spark jobs.
  *
  * Each signal table is built once and every gate reads it, as in the
  * funnel oracle's CTE chain (`CurationFunnelQueries`; [[curate]] has
  * no LM tail or DSIR, and the dup-gram stage builds its own 5-grams):
  *
  *   terms = termCounts(rewritten)  (`qtokc`) -> tokenStats: quality gate
  *     -> unigramSurprisal: LM tail;  ⋉ unique (`ddt`) -> DSIR
  *   qsh = shingles(qualified)  (`csh`) -> contamination: decontaminate
  *     -> ⋉ clean (`dsh`) -> jaccardPairs: near-dup clusters
  */
object CurationPipeline {

  /** `dupTailPct`: when set, the repetition cut becomes
    * CORPUS-RELATIVE — docs at or past the corpus's own exact p-th
    * percentile of `dup_token_e6` are cut instead of the fixed
    * `maxDupE6` gate (the q256 LM-tail recipe applied to the quality
    * gate's other corpus-dependent constant: a boilerplate-heavy
    * corpus sits above any fixed ratio wholesale, a clean one never
    * reaches it — the percentile rule tracks the corpus). `minTokens`
    * stays fixed in both modes (structural, not corpus-dependent). */
  case class Config(
      minTokens: Long = 20L,
      maxDupE6: Long = 650000L,
      dupTailPct: Option[Int] = None,
      contaminationPct: Int = 50,
      sampleDenom: Int = 5,
      ctxLen: Int = 4096,
      jaccardDfCap: Int = 1000,
      dupGramN: Int = 5,
      dupSharePct: Int = 50,
      splitTrainPct: Int = 80,
      splitValidPct: Int = 87)

  // Every multi-consumer frame of the flow is staged once, at every
  // corpus size: each stage output feeds 2-3 consumers (a signal
  // computation plus the semi/anti join keeping the survivors), plan
  // reuse does not fire across joins, and unstaged, stage k re-runs
  // every upstream stage once per consumer (near-dup clustering once
  // per label-propagation round). A parquet stage, not a
  // localCheckpoint pin: a checkpointed frame carries its origin plan's
  // inflated size estimates into later join choices. Measured on a
  // 4-core box: `CurationBench` at sf0.1 took 43.4 s and 43.8 s with
  // the frames fused (unstaged below 8 MiB of scan input) and 19.8 s
  // and 21.9 s staged; the sf0.001 end-to-end spec 17.8 s fused and
  // 5.7 s staged. On the q253 funnel (the traced
  // `dedup_curation` benchmark run), lazy localCheckpoint pins read
  // 94 construct jobs, 168 MB input and 24.97 s, eager pins 102 jobs,
  // 190 MB and 25.58 s, and parquet stages 90 jobs, 87 MB and 23.07 s.
  // The stages land under `spark.graft.stagingDir` (else the JVM
  // tmpdir) in the caller's pin scope, which deletes them.

  /** `evalPred` marks held-out docs (they are removed from the output
    * and define the contamination set). Returns the packed layout of
    * the surviving corpus: (doc_id, source, n_tokens, cum_tokens,
    * seq_id, offset_in_seq, straddles). */
  def curate(docs: DataFrame, evalPred: Column,
      cfg: Config = Config()): DataFrame = {
    // 1. exact dedup: cheapest first, everything downstream shrinks
    val reps = Dedup.stageParquet(Dedup.exact(docs, "text", "doc_id"))

    // 2. quality gate: integer repetition thresholds (fixed, or the
    // corpus-relative dupTailPct percentile rule)
    val quality = qualitySurvivors(
      Curation.tokenStats(Curation.termCounts(reps, "text", "doc_id"), "doc_id"), cfg)
    val qualified = Dedup.stageParquet(reps.join(quality, Seq("doc_id"), "left_semi"))

    // 3. decontamination: drop training docs overlapping the eval set;
    // the qualified docs' shingles feed 4a too, recomputed per consumer
    val qsh = Dedup.shingles(qualified, "text", "doc_id")
    val clean = Dedup.stageParquet(decontaminate(qualified, qsh, evalPred, cfg))

    // 4a. near-dup clustering: keep one representative per cluster
    val clustered = Dedup.stageParquet(keepClusterReps(clean, qsh, cfg))

    // 4b. exact-substring signal AFTER clustering (Lee et al. 2022):
    // catches docs mostly built of n-grams duplicated across OTHER
    // surviving docs (boilerplate below the Jaccard threshold).
    // Running it after rep-keeping means duplicated content keeps its
    // one representative instead of losing every copy.
    val unique = dropDupGrams(clustered, cfg)

    // 5. per-source quota downsample, then 6. pack into context windows
    val sampled = Curation.stratifiedSample(unique, "source", "doc_id", cfg.sampleDenom)
      .select(col("doc_id"), col("source"), col("text"))
    Curation.sequencePack(sampled, "text", "doc_id", "source", cfg.ctxLen)
  }

  /** The CCNet/RefinedWeb-shaped extension of [[curate]]: the same
    * flow with the round's corpus-cleaning stages composed in —
    *
    *   exact dedup
    *     -> duplicated-LINE removal (q126: segments in >= minDf docs
    *        removed everywhere, text rewritten from the survivors)
    *     -> quality filter
    *     -> LM-surprisal tail drop (q127: docs at or past
    *        `surprisalTailMilli` milli-bits/token are cut — or, with
    *        `surprisalTailPct = Some(p)`, at or past the corpus's own
    *        exact p-th percentile, derived in one dim-sized pass;
    *        see [[valueTailThreshold]])
    *     -> decontamination -> near-dup clustering -> dup-gram filter
    *     -> optional DSIR selection (q130: keep docs whose importance
    *        weight vs `dsirTarget`'s LM is positive)
    *     -> stratified sample
    *     -> EPOCH SHUFFLE (q131) and packing in shuffled order — the
    *        layout a training run actually reads.
    *
    * `segs` is the line segmentation (array<string> over `text`). Each
    * survivor set is a semi/anti join and the text rewrite is the only
    * stage that materializes a new column. */
  def curateExtended(docs: DataFrame, evalPred: Column, segs: Column,
      dsirTarget: Option[Column] = None,
      seed: String = "ep1", nShards: Int = 8,
      surprisalTailMilli: Long = 5200L,
      lineMinDf: Int = 2,
      surprisalTailPct: Option[Int] = None,
      cfg: Config = Config()): DataFrame =
    curateExtendedStages(docs, evalPred, segs, dsirTarget, seed, nShards,
      surprisalTailMilli, lineMinDf, surprisalTailPct, cfg).last._2()

  /** The corpus-relative tail rule behind `surprisalTailPct` and
    * `dupTailPct`: the exact `pct`-th percentile (PERCENTILE_DISC,
    * integer-rank — the q81 exact-median machinery generalized) of any
    * BOUNDED-RESOLUTION integer value column. A fixed cut is
    * corpus-DEPENDENT: the 5200 milli-bits default, sized to the gate
    * corpora, sits below a high-entropy corpus's mean and empties the
    * pipeline (the zipf rungs at ~10.5 bits/token, SURVEY §5 r13).
    * The corpus collapses to a value histogram first (one row per
    * distinct integer value — bounded by the value resolution, never
    * the corpus), and the cumulative walk is a window over that dim
    * frame only. Returns ONE row (thr): the smallest value whose
    * cumulative doc count reaches pct% — docs AT or PAST it are the
    * (100-pct)% tail plus ties. */
  def valueTailThreshold(df: DataFrame, valueCol: String, pct: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(pct >= 1 && pct <= 100, s"pct must be in [1,100]: $pct")
    val hist = df.groupBy(col(valueCol))
      .agg(count(lit(1)).as("cnt"))
    val cum = hist.withColumn("cum",
      sum(col("cnt")).over(Window.orderBy(col(valueCol))
        .rowsBetween(Window.unboundedPreceding, 0)))
    cum.crossJoin(broadcast(hist.agg(sum(col("cnt")).as("n_corpus"))))
      .filter(col("cum") * 100 >= col("n_corpus") * pct)
      .agg(min(col(valueCol)).as("thr"))
  }

  /** `df`'s rows below the cut on `valueCol`: the fixed `cut`, or with
    * `pct` set the frame's own [[valueTailThreshold]] (one extra
    * dim-sized pass; the frame is read twice, so it is staged). */
  private def belowCut(df: DataFrame, valueCol: String, cut: Long,
      pct: Option[Int]): DataFrame = pct match {
    case Some(p) =>
      val staged = Dedup.stageParquet(df)
      staged.crossJoin(broadcast(valueTailThreshold(staged, valueCol, p)))
        .filter(col(valueCol) < col("thr"))
    case None => df.filter(col(valueCol) < cut)
  }

  /** The quality-gate survivor ids of a [[Curation.tokenStats]] frame:
    * the repetition cut (fixed `maxDupE6`, or the `dupTailPct` rule over
    * every doc) and the structural `minTokens` floor. */
  private def qualitySurvivors(stats: DataFrame, cfg: Config): DataFrame =
    belowCut(stats, "dup_token_e6", cfg.maxDupE6, cfg.dupTailPct)
      .filter(col("n_tokens") >= cfg.minTokens).select(col("doc_id"))

  /** `qualified`'s training docs, minus those whose eval-set share of
    * their shingles (`sh`) reaches `contaminationPct`. */
  private def decontaminate(qualified: DataFrame, sh: DataFrame, evalPred: Column,
      cfg: Config): DataFrame =
    qualified.filter(!evalPred).join(Curation.contamination(sh, "doc_id", evalPred)
      .filter(col("n_contaminated") * 100 >= col("n_shingles") * cfg.contaminationPct)
      .select(col("doc_id")), Seq("doc_id"), "left_anti")

  /** `clean` with one representative per near-dup cluster, the
    * clusters built from shingle table `sh` restricted to `clean`. */
  private def keepClusterReps(clean: DataFrame, sh: DataFrame, cfg: Config): DataFrame = {
    val pairs = Dedup.jaccardPairs(
      sh.join(clean.select(col("doc_id")), Seq("doc_id"), "left_semi"), "doc_id",
      dfCap = Some(cfg.jaccardDfCap))
      .select(col("doc_a"), col("doc_b"))
    clean.join(Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .filter(col("node") =!= col("lab")) // non-representatives
      .select(col("node").as("doc_id")), Seq("doc_id"), "left_anti")
  }

  /** `df` minus the docs whose share of `dupGramN`-grams duplicated in
    * other docs of `df` reaches `dupSharePct`. */
  private def dropDupGrams(df: DataFrame, cfg: Config): DataFrame =
    df.join(Curation.dupNgrams(df, "text", "doc_id", cfg.dupGramN)
      .filter(col("n_dup_grams") * 100 >= col("n_grams") * cfg.dupSharePct)
      .select(col("doc_id")), Seq("doc_id"), "left_anti")

  /** The staged decomposition of [[curateExtended]]: named stage
    * outputs, each built ON FIRST ACCESS (the thunks close over lazy
    * vals) so a measurement harness ([[CurationBench]]) can
    * materialize stage k before stage k+1's construction begins and
    * attribute wall-clock per stage — the near-dup clustering stage
    * runs its label-propagation rounds EAGERLY at construction, and
    * each multi-consumer frame is written as a parquet stage when its
    * thunk first runs, so a strict decomposition would charge all
    * upstream work to whichever stage is built first. The last entry
    * is [[curateExtended]]'s return value; forcing only it reproduces
    * the plain composed flow. */
  def curateExtendedStages(docs: DataFrame, evalPred: Column, segs: Column,
      dsirTarget: Option[Column] = None,
      seed: String = "ep1", nShards: Int = 8,
      surprisalTailMilli: Long = 5200L,
      lineMinDf: Int = 2,
      surprisalTailPct: Option[Int] = None,
      cfg: Config = Config()): Seq[(String, () => DataFrame)] = {
    // 1. exact dedup, then line-level dedup rewrites the text the rest
    // of the flow sees (boilerplate lines vanish before any signal)
    lazy val reps = Dedup.stageParquet(Dedup.exact(docs, "text", "doc_id"))
    lazy val rewritten = Dedup.stageParquet {
      val kept = Curation.lineDedup(reps, "doc_id", segs, ". ", lineMinDf)
        .select(col("doc_id"), col("kept_text"))
      reps.drop("text")
        .join(kept.withColumnRenamed("kept_text", "text"), Seq("doc_id"))
        .filter(length(col("text")) > 0)
    }
    // the (doc, tok) table of the rewritten text: the quality gate,
    // the LM tail and DSIR read it
    lazy val terms = Dedup.stageParquet(Curation.termCounts(rewritten, "text", "doc_id"))

    // 2. quality gate + 3. LM-surprisal tail drop (fixed milli-bits
    // cut, or — when `surprisalTailPct` is set — the corpus-relative
    // percentile cut derived from the SAME surprisal frame; see
    // [[valueTailThreshold]]). A doc with no term row has no
    // tokenStats row either, so the quality gate drops it; among the
    // docs it keeps, keeping those below the cut drops exactly the tail.
    lazy val qualified = Dedup.stageParquet {
      val lmKeep = belowCut(Curation.unigramSurprisal(terms, "doc_id"),
        "milli_bits_per_token", surprisalTailMilli, surprisalTailPct)
      rewritten
        .join(qualitySurvivors(Curation.tokenStats(terms, "doc_id"), cfg),
          Seq("doc_id"), "left_semi")
        .join(lmKeep.select(col("doc_id")), Seq("doc_id"), "left_semi")
    }

    // 4. decontaminate, 5. near-dup cluster, 6. dup-gram filter. The
    // qualified docs' shingles feed the first two, each consumer
    // recomputing them from the staged survivors
    lazy val qsh = Dedup.shingles(qualified, "text", "doc_id")
    lazy val clean = Dedup.stageParquet(decontaminate(qualified, qsh, evalPred, cfg))
    lazy val clustered = Dedup.stageParquet(keepClusterReps(clean, qsh, cfg))
    lazy val unique = {
      val u = dropDupGrams(clustered, cfg)
      // only multi-consumer when the DSIR stage follows
      if (dsirTarget.isDefined) Dedup.stageParquet(u) else u
    }

    // 7. optional DSIR target selection
    lazy val selected = dsirTarget match {
      case Some(target) =>
        val keep = Curation.dsirWeights(terms, unique, "doc_id", target)
          .filter(col("weight_e6") > 0L).select(col("doc_id"))
        unique.join(keep, Seq("doc_id"), "left_semi")
      case None => unique
    }

    // 8. stratified sample, 9. epoch shuffle, 10. pack in read order
    lazy val packed = {
      val sampled = Dedup.stageParquet(Curation.stratifiedSample(selected, "source", "doc_id", cfg.sampleDenom)
        .select(col("doc_id"), col("source"), col("text")))
      val shuffled = sampled.join(
        Curation.epochShuffle(sampled.select(col("doc_id")), "doc_id", seed, nShards)
          .select(col("doc_id"), col("shard"), col("pos")), Seq("doc_id"))
      Curation.sequencePack(shuffled, "text", "doc_id", "shard", cfg.ctxLen,
        orderCol = "pos")
    }

    Seq(
      "exact_dedup" -> (() => reps),
      "line_dedup" -> (() => rewritten),
      "quality_lm_gate" -> (() => qualified),
      "decontaminate" -> (() => clean),
      "neardup_cluster" -> (() => clustered),
      "dupgram_filter" -> (() => unique),
      "dsir_select" -> (() => selected),
      "shuffle_pack" -> (() => packed))
  }

  /** The packed layout tagged with its leakage-aware split: the q99
    * domain-hashed train/valid/test assignment applied AFTER curation,
    * so every packed sequence carries the split of its source domain
    * (near-dup documents of one site can never straddle splits). */
  def curateWithSplit(docs: DataFrame, evalPred: Column,
      cfg: Config = Config()): DataFrame = {
    import graft.functions.Hashing
    val bucket = Hashing.polyHash(concat(col("source"), lit(":split"))) % 100
    curate(docs, evalPred, cfg)
      .withColumn("domain_bucket", bucket)
      .withColumn("split",
        when(col("domain_bucket") < cfg.splitTrainPct, "train")
          .when(col("domain_bucket") < cfg.splitValidPct, "valid")
          .otherwise("test"))
  }

  /** curateExtended with SemDeDup (q156) in front: semantic near-dups
    * are pruned on the RAW corpus embeddings first (the paper runs
    * SemDeDup before any text-level filtering — paraphrase mass should
    * shrink everything downstream), then the surviving documents flow
    * through the full extended text pipeline. `embeddings` carries
    * (vec_id, embedding array<float>) keyed by the document id. */
  def curateSemantic(docs: DataFrame, embeddings: DataFrame,
      evalPred: Column, segs: Column,
      semK: Int, semDim: Int, semTauE6: Long,
      dsirTarget: Option[Column] = None,
      seed: String = "ep1", nShards: Int = 8,
      surprisalTailMilli: Long = 5200L,
      lineMinDf: Int = 2,
      surprisalTailPct: Option[Int] = None,
      cfg: Config = Config()): DataFrame = {
    val semDropped = graft.operators.Similarity
      .semDedupVerdicts(embeddings, semK, semDim, iters = 2, tauE6 = semTauE6)
      .filter(col("verdict") === "dropped")
      .select(col("vec_id").as("doc_id"))
    curateExtended(docs.join(semDropped, Seq("doc_id"), "left_anti"),
      evalPred, segs, dsirTarget, seed, nShards, surprisalTailMilli,
      lineMinDf, surprisalTailPct, cfg)
  }
}
