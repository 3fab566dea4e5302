package graft

import graft.queries.{ContextQueries, DisambiguationQueries, RelationalQueries, SimilarityQueries, TextQueries}

/** Plan-shape audit: asserts the physical-plan properties the 100 TB
  * design depends on — filters reaching the parquet scan, small dims
  * broadcast, map-only pipelines staying shuffle-free. A plan
  * regression here is a scale bug even when results stay correct. */
class PlanAuditSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02 date-range listing pushes both predicates to the parquet scan") {
    val p = plan(RelationalQueries.dateRange(spark, sfDir))
    // the PushedFilters list is truncated in toString; date-range and
    // priority predicates both appear in their IsNotNull/range forms
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), IsNotNull(o_orderpriority), GreaterThanOrEqual(o_orderdate"), p)
  }

  test("q03 join pipeline broadcasts dims (customer, nation)") {
    val p = plan(RelationalQueries.joinEnrich(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q04 catalog join is fully broadcast — no shuffle before the final agg") {
    val p = plan(RelationalQueries.dimBroadcast(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
    // the only exchanges allowed are for the 5-row aggregate/sort
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q13 map-only text fold has no shuffle at all") {
    val p = plan(TextQueries.foldText(spark, sfDir).limit(1))
    assert(!p.contains("Exchange"), p)
  }

  test("q01 aggregation is partial (map-side combine before the shuffle)") {
    val p = plan(RelationalQueries.pricingAgg(spark, sfDir))
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
  }

  test("q26 ANN broadcasts the query set; the corpus is never shuffled for scoring") {
    val p = plan(SimilarityQueries.annBruteforce(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // ranking runs through the bounded-heap custom operator, not a
    // row_number window (which would shuffle every scored row into
    // <= n_queries partitions)
    assert(p.contains("TopKPerKey"), p)
    assert(!p.contains("Window"), p)
  }

  test("q25 near-dup has no cartesian product — candidates come from the band join") {
    val p = plan(SimilarityQueries.embedNearDup(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  private def scanCount(p: String): Int =
    p.linesIterator.count(_.contains("Scan parquet"))

  test("q38 disambiguation scans the corpus exactly once (single-pass token stream)") {
    val p = plan(DisambiguationQueries.disambiguation(spark, sfDir))
    assert(scanCount(p) == 1, p)
  }

  test("q56 context gazetteer scans the corpus exactly once (signals via one native pass)") {
    val p = plan(ContextQueries.contextGazetteer(spark, sfDir))
    assert(scanCount(p) == 1, p)
    // WINDOWLESS corpus path: the per-token signals (sentence ids,
    // char offsets, admin window, ctx-UF, grams) come from the
    // StreamSignals expression inside the scan stage — the only
    // exchange before the primary pick feeds the (doc, kw) aggregate,
    // and the only Window left ranks the tiny aggregated set
    assert(p.contains("graft_stream_signals"), p)
    assert("hashaggregate".r.findAllIn(p.toLowerCase).size >= 2, p) // partial + final
  }

  test("q57 suppression audit scans the corpus exactly once") {
    val p = plan(ContextQueries.suppressionAudit(spark, sfDir))
    assert(scanCount(p) == 1, p)
    assert(p.contains("graft_stream_signals"), p)
  }

  test("q64 occurrence sentences is windowless: signals + sentence text in the scan stage") {
    val p = plan(ContextQueries.occurrenceSentences(spark, sfDir))
    assert(scanCount(p) == 1, p)
    assert(p.contains("graft_stream_signals"), p)
    assert(!p.contains("Window"), p)
  }

  test("dedup shingles build with the native expression, not an interpreted lambda") {
    // q22's final plan starts from the staged shingle set, so audit the
    // builder itself (the pre-checkpoint corpus scan)
    val p = plan(graft.operators.Dedup.shingles(
      graft.Tables.documents(spark, sfDir), "text", "doc_id"))
    assert(p.contains("graft_token_shingles"), p)
    assert(!p.contains("transform("), p)
  }

  test("q46 lang-id is a pure scan: no explode, no join, no shuffle but the sort") {
    val p = plan(graft.queries.LangNgramQueries.langIdNgram(spark, sfDir))
    assert(!p.contains("Generate"), p)
    assert(!p.contains("Join"), p)
    // only the presentation-sort range exchange remains
    assert(!p.contains("hashpartitioning"), p)
  }

  test("gazetteer explodes do not leak expensive expressions into scan filters") {
    // regression guard for the Catalyst inferred-filter pushdown bug:
    // isnotnull/size>0 predicates on derived arrays must NOT be pushed
    // below the projections (which would inline and re-evaluate the
    // fold/offsets/starts chain per row at the scan — measured 14x on
    // q61). The outer explodes + struct-carried span fields keep every
    // Filter above its Generate, so no scan-level DataFilter may
    // mention the fold machinery.
    for (df <- Seq(
        TextQueries.keywordMentions(spark, sfDir),
        ContextQueries.matchSpans(spark, sfDir))) {
      val scanLines = plan(df).linesIterator.filter(_.contains("Scan parquet")).mkString("\n")
      assert(!scanLines.contains("aggregate("), scanLines)
      assert(!scanLines.contains("strip_accents"), scanLines)
    }
  }

  test("q79/q80 PQ search plans: broadcast ADC join, heap ranking, no cartesian, no window") {
    for (df <- Seq(
        SimilarityQueries.annPq(spark, sfDir),
        SimilarityQueries.annIvfPq(spark, sfDir))) {
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"), p)
      assert(p.contains("TopKPerKey"), p)
      assert(!p.contains("CartesianProduct"), p)
      assert(!p.contains("Window"), p)
    }
  }

  test("q90 listing pushes the portal predicate to every documents scan") {
    val p = plan(graft.queries.ListingQueries.cityFilterListing(spark, sfDir))
    // the mention chain runs on the FILTERED slice: each corpus scan
    // carries the portal pushdown, so at 100 TB the listing reads one
    // portal's partition, never the whole collection
    val scans = p.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(scans.nonEmpty && scans.forall(_.contains("EqualTo(source,src3)")), p)
    assert(p.contains("BroadcastHashJoin"), p) // the 2-row param dim
  }

  test("column pruning: token count reads only the needed columns") {
    val df = TextQueries.tokenCount(spark, sfDir)
    val p = plan(df)
    val scanLine = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(scanLine.contains("doc_id") && scanLine.contains("text"), scanLine)
    assert(!scanLine.contains("lang") && !scanLine.contains("source"), scanLine)
  }

  test("q91 dup-ngram signal: hash-agg joins, no window on the gram key") {
    // a window over partitionBy(shingle) would put a hot gram's whole
    // count on one reducer; the df side must be an aggregate + join
    val p = plan(graft.queries.CurationQueries.dupNgrams(spark, sfDir))
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q92/q93 scraper column math is map-only (no shuffle but the presentation sort)") {
    for (df <- Seq(
        graft.queries.ScrapeQueries.selectorRepair(spark, sfDir),
        graft.queries.ScrapeQueries.urlResolve(spark, sfDir))) {
      val p = plan(df)
      assert(!p.contains("Join"), p)
      assert(!p.contains("hashpartitioning"), p)
    }
  }

  test("q94/q95 retrieval plans: no cartesian, heap ranking, no ranking window") {
    for (df <- Seq(
        SimilarityQueries.annPqRefined(spark, sfDir),
        SimilarityQueries.annRecall(spark, sfDir))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), p)
      assert(!p.contains("Window"), p)
    }
  }

  test("q112 resolves the match stream with broadcast probes — no fact shuffle join") {
    val p = plan(graft.queries.GeoCliQueries.geoDisambiguate(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q114 collapses map-side before every shuffle, all url-keyed") {
    val p = plan(graft.queries.PayloadQueries.storeReplay(spark, sfDir))
    // every exchange is url-prefixed, and the corpus reaches no
    // exchange un-aggregated: both passes are partial-agg collapsed
    // (pair dim / occurrence keys) before shuffling — the corpus-wide
    // url-partitioned window sort this replaced serialized on the url
    // cardinality (211 partitions for 153M rows on the x256 ladder)
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(_.contains("url")), p)
    assert(p.contains("partial_max"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q118 shuffles only on article-prefixed keys") {
    val p = plan(graft.queries.MatchAggQueries.matchAggregate(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(e =>
      e.contains("article_id") || e.contains("l_orderkey") || e.contains("lc_article")), p)
  }

  test("q125 corpus encode is one scan + broadcast dictionary join — no shuffle join, no window") {
    val p = plan(graft.queries.TokenizerQueries.bpeEncode(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("q134 BM25 ranks through bounded heaps with a broadcast query-term probe") {
    val p = plan(graft.queries.CorpusOpsQueries.bm25(spark, sfDir))
    assert(p.contains("TopKPerKey"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // no corpus-wide ranking window; the only Sort is the k-row output
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q138 PageRank plans stay on the bounded domain graph — no cartesian anywhere") {
    val p = plan(graft.queries.CorpusOpsQueries.domainPagerank(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // rounds run on lineage-truncated checkpoints, not a re-derived corpus
    assert(!p.contains("Scan parquet") || scanCount(p) <= 1, p)
  }

  test("q139 Gram build is one native aggregate — no explode, no self-join, no count scan") {
    import org.apache.spark.sql.functions._
    val m = graft.Tables.embeddings(spark, sfDir)
      .select(graft.operators.Similarity.microVec(col("embedding")).as("m"))
      .agg(graft.operators.Similarity.gramCells(col("m"), 64).as("cells"))
    val p = plan(m)
    assert(p.contains("graft_gram_matrix"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Generate"), p)
    assert(scanCount(p) == 1, p)
  }

  test("q74/q137 stratum rank is two-level — no single-stratum row_number window") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sfDir)
    val quotas = docs.groupBy(col("source")).agg((count(lit(1)) * 3).as("quota"))
    for (df <- Seq(
        graft.operators.Curation.stratifiedSample(docs, "source", "doc_id", 5),
        graft.operators.Curation.upsampleRepeats(
          docs.select(col("doc_id"), col("source")), "source", "doc_id", quotas))) {
      val p = plan(df)
      // every corpus-grain rank runs inside a (stratum, md5-prefix
      // sub-shard) window — a skewed stratum spreads over 256 bounded
      // partitions instead of one task sorting the whole stratum
      val rnLines = p.linesIterator.filter(_.contains("row_number()")).toSeq
      assert(rnLines.nonEmpty, p)
      assert(rnLines.forall(_.contains("__sub")), p)
      // the prefix-sum offsets dim (strata x 256 rows) joins back broadcast
      assert(p.contains("BroadcastHashJoin"), p)
    }
  }

  test("q204 frontier rank is two-level — no single-domain priority window") {
    val p = plan(graft.queries.WebOpsQueries.crawlSchedule(spark, sfDir))
    // every row_number runs inside a (domain, priority-bucket) window;
    // the offsets dim joins back broadcast (the q74 lesson applied to
    // a value ordering)
    val rnLines = p.linesIterator.filter(_.contains("row_number()")).toSeq
    assert(rnLines.nonEmpty, p)
    assert(rnLines.forall(_.contains("__b")), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("r8 session queries: per-key windows only, no cartesian products") {
    // q220/q230: the sequence/attribution lookups ride per-USER windows
    for (df <- Seq(
        graft.queries.PatternMiningQueries.eventPattern(spark, sfDir),
        graft.queries.EventOpsQueries.attribution(spark, sfDir))) {
      val p = plan(df)
      val wins = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
      assert(wins.nonEmpty, p)
      // the corpus-grain lookup window partitions by user; any other
      // window sits above the channel/dim aggregation
      assert(wins.exists(_.contains("user_id")), p)
      assert(!p.contains("CartesianProduct"), p)
    }
    // q233/q239/q213: bucketed candidate joins — never a cartesian
    for (df <- Seq(
        graft.queries.IntegritySimQueries.sparseCosine(spark, sfDir),
        graft.queries.FuzzyMatchQueries.fuzzyTitles(spark, sfDir),
        graft.queries.InfraOpsQueries.geohashJoin(spark, sfDir))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), p)
    }
    // q208/q210: the closed-form recurrences are windows, not joins
    for (df <- Seq(
        graft.queries.EventOpsQueries.leakyBucket(spark, sfDir))) {
      val p = plan(df)
      assert(!p.contains("Join"), p)
    }
  }

  test("q181 CDC chunking is windowless; chunk-hash agg is partial") {
    val p = plan(graft.queries.CdcQueries.cdcChunks(spark, sfDir))
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("q183/q189 graph audits are window- and cartesian-free") {
    // the edge ranking itself runs through TopKPerKeyExec inside the
    // staged (localCheckpointed) build — asserted by the q26 test on
    // the shared helper; here the downstream audit must add no corpus
    // window and no cartesian product
    for (df <- Seq(
        graft.queries.VectorMiningQueries.knnGraph(spark, sfDir),
        graft.queries.VectorMiningQueries.knnTriangles(spark, sfDir))) {
      val p = plan(df)
      assert(!p.contains("Window"), p)
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("q184 MMR greedy rounds add no corpus window") {
    // shortlist + per-pick argmaxes run through bounded heaps inside
    // staged builds; the composed plan must stay window-free
    val p = plan(graft.queries.VectorMiningQueries.mmrRerank(spark, sfDir))
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q185 unigram DP joins the vocabulary broadcast") {
    val p = plan(graft.queries.TokenizerQueries.unigramSegment(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q147 gram argmin is a HashAggregate; only doc-grain windows") {
    val p = plan(graft.queries.CorpusOpsQueries.exactSubstr(spark, sfDir))
    // packed-long min keeps the gram stats in HashAggregate with
    // map-side partials; min(struct) would silently fall to
    // SortAggregate and a hot boilerplate gram would sort-serialize
    assert(p.contains("HashAggregate") && p.contains("partial_min"), p)
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the span-merge window is per-document, never corpus-wide
    val winLines = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.forall(_.contains("doc")), p)
  }

  test("q67/q68 cluster sizes come from a hash-agg join-back, not a cluster window") {
    // a CC label table is exactly where skew concentrates (one
    // boilerplate mega-component), so sizing must never be a
    // Window.partitionBy(cluster_id) — that serializes the biggest
    // cluster through one task. The plan may sort for the final
    // orderBy, but no Window operator may partition on cluster ids.
    for (df <- Seq(graft.queries.DedupQueries.dedupClusters(spark, sfDir),
        SimilarityQueries.embedClusters(spark, sfDir))) {
      val p = plan(df)
      val winLines = p.linesIterator.filter(_.contains("Window")).toSeq
      assert(winLines.forall(l => !l.contains("cluster_id")), p)
      assert(p.contains("partial_count"), p)
    }
  }

  test("q249 nprobe curve: bounded-heap ranking, no corpus window, no true cartesian") {
    // every arm ranks through TopKPerKeyExec (a row_number window over
    // nq x probed-list rows would serialize per query at scale); the
    // only nested-loop joins are the broadcast 1-row denominators and
    // the k-row centroid model
    val p = plan(SimilarityQueries.ivfNprobeCurve(spark, sfDir))
    assert(p.contains("TopKPerKey"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q250 code curve: bounded-heap ranking, broadcast truth join, no corpus window") {
    // every arm's ADC scan ranks through TopKPerKeyExec; the
    // truth-vs-arm recall join is a broadcast hash join over the two
    // query-sample-bounded tables (an SMJ would shuffle per arm); the
    // only nested-loop join is the 1-row denominator cross
    val p = plan(SimilarityQueries.pqCodeCurve(spark, sfDir))
    assert(p.contains("TopKPerKey"), p)
    assert(p.contains("LeftOuter, BuildRight"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q251 radius curve: truth is the mask-expansion equi-join, never an all-pairs") {
    // the exact-truth leg must stay linear in the value dictionary:
    // its only nested-loop joins are the broadcast bounded models
    // (the 2,324-row mask table, the 1-row rollup crosses) — a
    // CartesianProduct or a non-broadcast nested loop would mean the
    // all-pairs shape the expansion join exists to avoid
    val p = plan(graft.queries.DedupQueries.simhashSweep(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    // every nested-loop occurrence is a broadcast build
    assert(!p.linesIterator.exists(l =>
      l.contains("NestedLoopJoin") && !l.contains("BroadcastNestedLoopJoin")), p)
  }

  test("q239 fuzzy titles: blocked join, no cartesian, no corpus window") {
    // identical-title collapse -> (prefix, length-block) equi-join ->
    // threshold Levenshtein; the quadratic is bounded by bucket size
    val p = plan(graft.queries.FuzzyMatchQueries.fuzzyTitles(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("q240 vopt histogram collapses the corpus before the DP") {
    // the only corpus work is the one hash aggregation onto the
    // <=134-cell value dim (partial + final); the DP itself runs on
    // the bounded model, so the executed plan the corpus sees must be
    // agg-only: no join, no window, no cartesian
    val cells = graft.Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.expr(
        s"n_chars div ${graft.queries.SynopsisQueries.VoptRes}").as("v"))
      .groupBy("v").count()
    val p = plan(cells)
    assert(p.contains("HashAggregate") && p.contains("partial_count"), p)
    // and the full query's final output is the bucket dim joined back
    // to nothing corpus-sized: its plan contains no corpus scan at all
    val pq = plan(graft.queries.SynopsisQueries.voptHistogram(spark, sfDir))
    assert(!pq.contains("Scan parquet"), pq)
    assert(!pq.contains("CartesianProduct"), pq)
  }

  test("q248 t-closeness collapses the corpus to the staged class dim") {
    // the only corpus work is the one hash agg onto the (class, lang)
    // dim — partial + final over a single pruned scan
    val cells = graft.Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("lang"))
      .groupBy("source", "lang").count()
    val pc = plan(cells)
    assert(pc.contains("partial_count") && scanCount(pc) === 1, pc)
    // the full query stages that dim, so its executed plan re-scans
    // NOTHING corpus-sized: no parquet scan, no sort-merge join, no
    // cartesian (the cross joins are 1-row/bounded broadcasts)
    val p = plan(graft.queries.QualityAuditQueries.tCloseness(spark, sfDir))
    assert(scanCount(p) === 0, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q245 skyline: no dominance self-join; the x-dim broadcasts back") {
    // corpus -> ONE hash agg to the distinct-x dim; the dominance
    // threshold window runs on that bounded dim only, and the join
    // back to the corpus is broadcast
    val p = plan(graft.queries.FrontierQueries.paretoSkyline(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_max") || p.contains("partial_count"), p)
  }

  test("q246 phrase query: postings filter against broadcast terms before any shuffle") {
    val p = plan(graft.queries.FrontierQueries.phraseQuery(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the term dim and phrase-length dim are both broadcast; the only
    // corpus-wide work is the vote/occurrence hash-agg chain
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p)
    assert(scanCount(p) == 1, p)
  }

  test("q247 hash ring: assignment is map-side CASE math, no join before the matrix agg") {
    val p = plan(graft.queries.FrontierQueries.hashringShards(spark, sfDir))
    assert(!p.contains("Join"), p)
    assert(scanCount(p) == 1, p)
    assert(p.contains("partial_count"), p)
  }

  test("q255 linedf curve: arms fan out over broadcast histograms only") {
    val p = plan(graft.queries.CorpusOpsQueries.lineDfCurve(spark, sfDir))
    // every arm cross rides a broadcast of a df-histogram dim — the
    // corpus-sized segment/occurrence tables never multiply by arms
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q254 cdc curve: bounded arm fan-out, per-(arm, doc) window, no cartesian") {
    // the arm-chunk builder (the staged frame hides it from the
    // rollup plan): one text chunking scan, the 5-row broadcast arm
    // fan-out, and a (divisor, doc)-partitioned merge window
    val pb = plan(graft.queries.CdcQueries.cdcArmChunks(spark, sfDir))
    assert(!pb.contains("CartesianProduct"), pb)
    assert(pb.contains("BroadcastNestedLoopJoin"), pb)
    // (the single native chunking pass sits behind the fine table's
    // gate-scale stage checkpoint — the differential CdcCurveSpec
    // pins its semantics instead)
    // the merge window partitions by (divisor, doc_id) — a global
    // (unpartitioned) window here would serialize the corpus
    assert(pb.contains("windowspecdefinition(divisor"), pb)
    // the rollup over the staged arm table: hash joins only
    val p = plan(graft.queries.CdcQueries.cdcCurve(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q256 percentile threshold: the cumulative walk rides the milli-bits histogram, not the corpus") {
    import org.apache.spark.sql.functions.col
    val surp = graft.operators.Curation.unigramSurprisal(graft.operators.Curation
      .termCounts(Tables.documents(spark, sfDir), "text", "doc_id"), "doc_id")
    val p = plan(CurationPipeline.valueTailThreshold(surp, "milli_bits_per_token", 95))
    // ONE unpartitioned window exists by design, but its input is the
    // value histogram: the corpus collapses through a
    // milli_bits-keyed hash aggregate BEFORE the window, so the
    // single stratum is value-resolution-bounded (the q255
    // df-histogram grain), and the n_corpus side joins back as a
    // 1-row broadcast — no cartesian, no corpus sort-merge
    assert(p.contains("windowspecdefinition"), p)
    val windowIdx = p.indexOf("Window")
    val aggBeforeWindow = p.indexOf("HashAggregate", windowIdx) > 0
    assert(aggBeforeWindow, p) // the histogram agg feeds the window
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p) // 1-row n_corpus side
  }
}
