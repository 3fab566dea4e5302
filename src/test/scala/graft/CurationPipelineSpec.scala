package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.sentenceSegs
import graft.operators.{Curation, Dedup}

class CurationPipelineSpec extends SparkSpec {

  test("curate runs the full flow: dedup, quality, decontaminate, near-dup, sample, pack") {
    val good = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = spark.createDataFrame(Seq(
      (0L, "s", good), // eval doc: excluded from output, defines contamination
      (1L, "s", good.replace("alpha", "omega")), // near-copy of eval -> contaminated
      (2L, "s", "all work and no play " * 8), // repetitive -> quality-dropped
      (3L, "s", "too short to keep"), // < 20 tokens -> quality-dropped
      (4L, "s", (1 to 20).map(i => s"w$i").mkString(" ")), // clean keeper
      (5L, "s", (1 to 20).map(i => s"w$i").mkString(" ")), // exact dup of 4 -> dropped
      (6L, "s", (1 to 20).map(i => s"v$i").mkString(" ")), // clean keeper
      (7L, "s", (1 to 20).map(i => s"v$i").mkString(" ") + " extra"))) // near-dup of 6
      .toDF("doc_id", "source", "text")
    val out = CurationPipeline.curate(docs, col("doc_id") === 0,
      CurationPipeline.Config(sampleDenom = 1, ctxLen = 16))
      .orderBy(col("doc_id")).collect()
    // survivors: 4 (exact-dup rep) and 6 (near-dup rep); 20 tokens each
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(4L, 6L))
    assert(out.map(r => (r.getAs[Long]("seq_id"), r.getAs[Long]("offset_in_seq"),
      r.getAs[Boolean]("straddles"))).toSeq ==
      Seq((0L, 0L, true), (1L, 4L, true))) // 20-token docs in 16-token windows
  }

  test("curateWithSplit tags packed sequences with their domain split") {
    val docs = spark.createDataFrame(
      (0 until 40).map(i => (i.toLong, s"src$i", // 40 distinct domains
        (1 to 25).map(j => s"w${i}_$j").mkString(" "))))
      .toDF("doc_id", "source", "text")
    val out = CurationPipeline.curateWithSplit(docs, col("doc_id") === -1,
      CurationPipeline.Config(sampleDenom = 1, ctxLen = 64))
      .collect()
    assert(out.nonEmpty)
    // the split is a pure function of the source domain
    out.groupBy(_.getAs[String]("source")).values.foreach { rs =>
      assert(rs.map(_.getAs[String]("split")).distinct.length == 1)
    }
    assert(out.forall(r => Set("train", "valid", "test")(r.getAs[String]("split"))))
    // 40 domains hash into more than one split class
    assert(out.map(_.getAs[String]("split")).distinct.length >= 2)
  }

  test("boilerplate-prefix docs below the Jaccard bar die in the gram stage") {
    val boiler = (1 to 30).map(i => s"c$i").mkString(" ")
    val docs = spark.createDataFrame(Seq(
      (0L, "s", boiler), // 100% of its 5-grams appear in doc 1
      (1L, "s", boiler + " " + (1 to 40).map(i => s"b$i").mkString(" ")),
      (2L, "s", (1 to 30).map(i => s"u$i").mkString(" ")))) // unique keeper
      .toDF("doc_id", "source", "text")
    val out = CurationPipeline.curate(docs, col("doc_id") === -1,
      CurationPipeline.Config(sampleDenom = 1, ctxLen = 64))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // Jaccard(0,1) = 28/68 < 0.5 so clustering keeps both; the gram
    // stage then drops doc 0 (all its grams duplicated in doc 1) while
    // doc 1 (40% duplicated) and doc 2 survive
    assert(out == Set(1L, 2L))
  }

  test("sampleDenom thins the surviving corpus per source") {
    val docs = spark.createDataFrame(
      (1L to 40L).map(i => (i, s"src${i % 2}", (1 to 25).map(j => s"t${i}x$j").mkString(" "))))
      .toDF("doc_id", "source", "text")
    val out = CurationPipeline.curate(docs, lit(false),
      CurationPipeline.Config(sampleDenom = 4, ctxLen = 64))
    assert(out.count() == 10) // ceil(20/4) per source x 2 sources
  }

  test("curateExtended: line dedup rewrites text, shuffle orders the packing") {
    val boiler = "subscribe to our newsletter today friends"
    def body(i: Long) = (1 to 24).map(j => s"u${i}x$j").mkString(" ")
    val docs = spark.createDataFrame(Seq(
      (0L, "s0", s"$boiler. ${body(0)}"), // shares the boilerplate line with 1
      (1L, "s1", s"$boiler. ${body(1)}"),
      (2L, "s0", s"$boiler"), // ONLY boilerplate -> empty after line dedup
      (3L, "s1", body(3)),
      (4L, "s0", body(4))))
      .toDF("doc_id", "source", "text")
    val segs = split(col("text"), "\\. ")
    val out = CurationPipeline.curateExtended(docs, lit(false), segs,
      surprisalTailMilli = 1000000L, // inert for this corpus
      cfg = CurationPipeline.Config(minTokens = 5L, sampleDenom = 1, ctxLen = 16))
      .collect()
    // doc 2 dies with its only (duplicated) line; 0 and 1 survive MINUS
    // the boilerplate line (24 tokens left, not 24 + 6)
    assert(out.map(_.getAs[Long]("doc_id")).toSet === Set(0L, 1L, 3L, 4L))
    assert(out.forall(_.getAs[Long]("n_tokens") === 24L))
    // packing follows the epoch-shuffle position within each shard:
    // cum_tokens must be nondecreasing in pos order (pos is the window
    // order), i.e. per shard the cum sequence is 0, 24, 48, ...
    out.groupBy(_.getAs[Long]("shard")).foreach { case (_, rs) =>
      val cums = rs.map(_.getAs[Long]("cum_tokens")).sorted
      assert(cums.toSeq === rs.indices.map(_ * 24L))
    }
  }

  test("curateExtended: DSIR selection keeps only target-like docs") {
    // two sublanguages: target docs speak a/b/c, background speaks x/y/z;
    // a mixed doc leaning background must be cut by the DSIR stage
    def mk(i: Long, src: String, words: Seq[String]) =
      (i, src, (0 until 24).map(j => words(j % words.size)).mkString(" "))
    val docs = spark.createDataFrame(Seq(
      mk(0L, "t", Seq("alpha", "beta", "gamma", "delta")),
      mk(1L, "t", Seq("alpha", "beta", "gamma", "epsilon")),
      mk(2L, "b", Seq("xray", "yankee", "zulu", "whiskey")),
      mk(3L, "b", Seq("xray", "yankee", "zulu", "victor")),
      mk(4L, "b", Seq("xray", "beta", "zulu", "whiskey")))) // background-leaning mix
      .toDF("doc_id", "source", "text")
    val segs = split(col("text"), "\\. ")
    val out = CurationPipeline.curateExtended(docs, lit(false), segs,
      dsirTarget = Some(col("source") === "t"),
      surprisalTailMilli = 1000000L,
      cfg = CurationPipeline.Config(minTokens = 5L, maxDupE6 = 900000L,
        sampleDenom = 1, ctxLen = 64))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(out.contains(0L) && out.contains(1L), "target docs survive")
    assert(!out.contains(2L) && !out.contains(3L) && !out.contains(4L),
      "background and background-leaning docs are cut")
  }

  test("curateExtended runs end-to-end on the testdata corpus") {
    val docs = Tables.documents(spark, sfDir)
    val segs = split(regexp_replace(col("text"), " batch ", ". "), "\\. ")
    val out = CurationPipeline.curateExtended(docs, col("doc_id") % 97 === 0, segs)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Long]("shard") >= 0 && r.getAs[Long]("shard") < 8))
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (_, rs) =>
      // each shard's packed stream starts at zero and stays contiguous
      val sorted = rs.sortBy(_.getAs[Long]("cum_tokens"))
      assert(sorted.head.getAs[Long]("cum_tokens") === 0L)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("cum_tokens") ===
            a.getAs[Long]("cum_tokens") + a.getAs[Long]("n_tokens"))
        case _ =>
      }
    }
  }

  test("curateSemantic prunes the semantic near-dup before the text pipeline") {
    def body(i: Long) = (1 to 24).map(j => s"s${i}x$j").mkString(" ")
    val docs = spark.createDataFrame(
      (1L to 6L).map(i => (i, s"src$i", body(i))))
      .toDF("doc_id", "source", "text")
    // 8-dim embeddings: docs 4 and 5 are paraphrases (cos ~ 1) in the
    // same k-means cluster; every other within-cluster cosine < 0.95
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val emb = spark.createDataFrame(Seq(
      (1L, v(1, 0, 0, 0, 0, 0, 0, 0)),      // seed A
      (2L, v(0, 1, 0, 0, 0, 0, 0, 0)),      // seed B
      (3L, v(0.6, 0, 0.8, 0, 0, 0, 0, 0)),  // cluster A, cos to 1 = 0.6
      (4L, v(0, 0.6, 0, 0.8, 0, 0, 0, 0)),  // cluster B
      (5L, v(0, 0.601, 0, 0.799, 0, 0, 0, 0)), // near-copy of 4
      (6L, v(0.8, 0, -0.6, 0, 0, 0, 0, 0)))) // cluster A, cos to 3 = 0
      .toDF("vec_id", "embedding")
    val out = CurationPipeline.curateSemantic(docs, emb,
      lit(false), split(col("text"), "\\. "),
      semK = 2, semDim = 8, semTauE6 = 950000L,
      surprisalTailMilli = 1000000L,
      cfg = CurationPipeline.Config(minTokens = 5L, sampleDenom = 1, ctxLen = 64))
      .collect()
    val ids = out.map(_.getAs[Long]("doc_id")).toSet
    // exactly one of the paraphrase pair survives; everything else does
    assert(Set(1L, 2L, 3L, 6L).subsetOf(ids))
    assert(ids.intersect(Set(4L, 5L)).size === 1, ids)
    assert(ids.size === 5)
  }

  test("curateExtendedStages stages every multi-consumer frame at any corpus size; its scope deletes them") {
    def mk(i: Long, src: String, words: Seq[String]) =
      (i, src, (0 until 24).map(j => words(j % words.size)).mkString(" "))
    val inMemory = spark.createDataFrame(Seq(
      mk(1L, "t", Seq("alpha", "beta", "gamma", "delta")),
      mk(2L, "t", Seq("alpha", "beta", "gamma", "epsilon")),
      mk(3L, "b", Seq("xray", "yankee", "zulu", "whiskey")),
      mk(4L, "b", Seq("xray", "yankee", "zulu", "victor"))))
      .toDF("doc_id", "source", "text")
    // the parquet corpus sits below `spark.graft.stageMinInputBytes`
    assert(!Dedup.atScale(Tables.documents(spark, sfDir)))
    val multiConsumer = Seq("exact_dedup", "line_dedup", "quality_lm_gate",
      "decontaminate", "neardup_cluster", "dupgram_filter")
    val staging = Files.createTempDirectory("curation_stages").toFile
    spark.conf.set(Dedup.StagingDirConf, staging.toString)
    try Seq(
        "sf0.001" -> (Tables.documents(spark, sfDir), col("lang") === "en"),
        "in-memory" -> (inMemory, col("source") === "t")).foreach {
      case (corpus, (docs, target)) =>
        QueryRun.scoped(spark, "stages") {
          val stages = CurationPipeline.curateExtendedStages(docs, col("doc_id") % 97 === 0,
            sentenceSegs(col("text")), dsirTarget = Some(target),
            surprisalTailMilli = 1000000L,
            cfg = CurationPipeline.Config(minTokens = 5L, maxDupE6 = 900000L)).toMap
          multiConsumer.foreach(name => assert(Dedup.isPin(stages(name)()), s"$name ($corpus)"))
          assert(staging.list().nonEmpty, corpus)
        }
        assert(staging.list().isEmpty, s"$corpus: ${staging.list().toSeq}")
    } finally spark.conf.unset(Dedup.StagingDirConf)
  }

  test("curateExtendedStages gates read the table of their own survivor set, in every tail mode") {
    import spark.implicits._
    val evalPred = col("doc_id") % 97 === 0
    val target = col("lang") === "en"
    val tailMilli = 5200L
    def ids(df: DataFrame): Set[Long] = df.select(col("doc_id")).as[Long].collect().toSet
    // PERCENTILE_DISC over driver-side values
    def pctile(values: Seq[Long], pct: Int): Long = {
      val v = values.sorted
      v(v.indices.find(i => (i + 1) * 100L >= v.size.toLong * pct).get)
    }
    // connected components on the driver: every member but the min id
    def nonReps(pairs: Seq[(Long, Long)]): Set[Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.filter(x => find(x) != x).toSet
    }

    for ((tailPct, cfg) <- Seq(
        None -> CurationPipeline.Config(),
        Some(95) -> CurationPipeline.Config(),
        None -> CurationPipeline.Config(dupTailPct = Some(80)))) QueryRun.scoped(spark, "rewiring") {
      val mode = s"tailPct=$tailPct dupTailPct=${cfg.dupTailPct}"
      // every multi-consumer frame is a parquet stage, so each stage
      // and each shared table is computed once
      val stages = CurationPipeline.curateExtendedStages(
        Tables.documents(spark, sfDir), evalPred, sentenceSegs(col("text")),
        dsirTarget = Some(target), surprisalTailMilli = tailMilli,
        surprisalTailPct = tailPct, cfg = cfg).toMap

      // quality + LM tail from termCounts(rewritten)
      val rewritten = stages("line_dedup")()
      val terms = Curation.termCounts(rewritten, "text", "doc_id")
      val stats = Curation.tokenStats(terms, "doc_id")
        .select(col("doc_id"), col("n_tokens"), col("dup_token_e6"))
        .as[(Long, Long, Long)].collect().toSeq
      val milli = Curation.unigramSurprisal(terms, "doc_id")
        .select(col("doc_id"), col("milli_bits_per_token")).as[(Long, Long)].collect().toMap
      val dupThr = cfg.dupTailPct.fold(cfg.maxDupE6)(p => pctile(stats.map(_._3), p))
      val lmThr = tailPct.fold(tailMilli)(p => pctile(milli.values.toSeq, p))
      val qualified = stages("quality_lm_gate")()
      val wantQualified = stats.collect {
        case (id, n, dup) if n >= cfg.minTokens && dup < dupThr && milli(id) < lmThr => id
      }.toSet
      assert(ids(qualified) === wantQualified, mode)
      assert(wantQualified.nonEmpty && wantQualified.size < stats.size, mode)

      // decontamination from shingles(qualified)
      val contaminated = ids(Curation.contamination(
          Dedup.shingles(qualified, "text", "doc_id"), "doc_id", evalPred)
        .filter(col("n_contaminated") * 100 >= col("n_shingles") * cfg.contaminationPct))
      val clean = stages("decontaminate")()
      assert(ids(clean) === ids(qualified.filter(!evalPred)) -- contaminated, mode)

      // near-dup clusters from shingles(clean)
      val pairs = Dedup.jaccardPairs(Dedup.shingles(clean, "text", "doc_id"), "doc_id",
          dfCap = Some(cfg.jaccardDfCap))
        .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSeq
      val clustered = ids(stages("neardup_cluster")())
      assert(clustered === ids(clean) -- nonReps(pairs), mode)
      assert(pairs.nonEmpty, mode)

      // DSIR from termCounts(unique)
      val unique = stages("dupgram_filter")()
      val keep = ids(Curation.dsirWeights(Curation.termCounts(unique, "text", "doc_id"),
          unique, "doc_id", target)
        .filter(col("weight_e6") > 0L))
      val selected = ids(stages("dsir_select")())
      assert(selected === ids(unique).intersect(keep), mode)
      assert(selected.nonEmpty && selected.size < ids(unique).size, mode)
    }
  }
}
