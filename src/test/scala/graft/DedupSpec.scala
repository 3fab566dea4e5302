package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup of 1
    (3L, "alpha beta gamma delta epsilon zeta eta iota"), // near dup of 1
    (4L, "one two three four five six seven eight")) // unrelated
    .toDF("doc_id", "text")

  test("exact dedup keeps the smallest id per content hash") {
    val reps = Dedup.exact(docs, "text", "doc_id").select("doc_id").as[Long].collect().sorted
    assert(reps.toSeq == Seq(1L, 3L, 4L))
  }

  test("jaccard pairs finds the near-dup and skips unrelated docs") {
    val reps = Dedup.exact(docs, "text", "doc_id")
    val pairs = Dedup.jaccardPairs(Dedup.shingles(reps, "text", "doc_id"), "doc_id")
      .select("doc_a", "doc_b", "intersect_n", "union_n").collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert(p.getLong(0) == 1L && p.getLong(1) == 3L)
    // 6 shingles each, 5 shared
    assert(p.getLong(2) == 5L && p.getLong(3) == 7L)
  }

  test("staging-parquet mode produces identical pairs and writes staging files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-staging").toString
    val reps = Dedup.exact(docs, "text", "doc_id")
    val defaultPairs = Dedup.jaccardPairs(Dedup.shingles(reps, "text", "doc_id"), "doc_id")
      .select("doc_a", "doc_b", "intersect_n", "union_n").collect().map(_.toSeq).toSet
    spark.conf.set(Dedup.StagingDirConf, dir)
    try {
      val stagedPairs = Dedup.jaccardPairs(Dedup.shingles(reps, "text", "doc_id"), "doc_id")
        .select("doc_a", "doc_b", "intersect_n", "union_n").collect().map(_.toSeq).toSet
      assert(stagedPairs == defaultPairs)
      val staged = new java.io.File(dir).list()
      assert(staged != null && staged.exists(_.startsWith("stage_")), s"no staging write in $dir")
    } finally spark.conf.unset(Dedup.StagingDirConf)
  }

  test("minhash candidates include the true near-dup pair") {
    val reps = Dedup.exact(docs, "text", "doc_id")
    val cands = Dedup.minhashCandidates(
      Dedup.minhashSignatures(Dedup.shingles(reps, "text", "doc_id"), "doc_id"), "doc_id")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 3L)))
    assert(!cands.contains((1L, 2L))) // removed by exact dedup already
  }

  test("simhash of identical docs is identical; near dups are hamming-close") {
    val sims = Dedup.simhash(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sims(1L) == sims(2L))
    assert(java.lang.Long.bitCount(sims(1L) ^ sims(3L)) <= 6)
    assert(java.lang.Long.bitCount(sims(1L) ^ sims(4L)) > 6)
  }

  test("connectedComponents labels every component with its min doc id") {
    // chain 5-6-9-12 needs the min to travel 3 hops (multi-iteration);
    // star 2-{1,3}, 3-7 merges through a hub; 10-11 is a plain pair
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (3L, 7L),
      (10L, 11L),
      (5L, 6L), (6L, 9L), (9L, 12L)).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      10L -> 10L, 11L -> 10L,
      5L -> 5L, 6L -> 5L, 9L -> 5L, 12L -> 5L))
  }

  test("spread repartitions a small scan to cluster parallelism, rows unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft_spread").toString
    (1L to 100L).toDF("id").coalesce(1).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val sp = Dedup.spread(df)
    assert(sp.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(sp.select(sum(col("id"))).head.getLong(0) == 5050L)
    assert(sp.count() == 100L)
  }

  test("spread is a no-op when the input already yields enough splits, and on scan-less plans") {
    val dir = java.nio.file.Files.createTempDirectory("graft_spread2").toString
    (1L to 100L).toDF("id").coalesce(1).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    // force the split estimate past the core count: 1-byte target splits
    val prev = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try assert(Dedup.spread(df) eq df)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.files.maxPartitionBytes", v)
      case None => spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
    // scan-less (in-memory) plans have no files: unchanged
    val mem = (1L to 10L).toDF("id")
    assert(Dedup.spread(mem) eq mem)
  }

  test("lsh bucket assignment is deterministic and brute-force topk ranks by cos_e6") {
    val vecs = Seq(
      (0L, Array.tabulate(64)(i => (i % 7).toFloat / 7f)),
      (10L, Array.tabulate(64)(i => (i % 7).toFloat / 7f)), // same direction as query 0
      (11L, Array.tabulate(64)(i => (63 - i % 7).toFloat / 63f)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" < 10)
    val c = vecs.filter($"vec_id" >= 10)
    val bf = Similarity.bruteForceTopK(q, c, 2).collect()
    assert(bf.head.getAs[Long]("vec_id") == 10L)
    assert(bf.head.getAs[Long]("cos_e6") == 1000000L)
    val b1 = Similarity.withLshBucket(c, "embedding").select("vec_id", "bucket").collect()
    val b2 = Similarity.withLshBucket(c, "embedding").select("vec_id", "bucket").collect()
    assert(b1.map(_.toSeq).toSeq == b2.map(_.toSeq).toSeq)
  }

  test("q156 SemDeDup: no two kept vectors in one cluster are near; drops are justified") {
    import org.apache.spark.sql.functions._
    // sf0.01: 500 vectors over k=64 clusters (sf0.001 has fewer vectors
    // than seeds, which makes every cluster a singleton and the test vacuous)
    val dir = "/root/testdata/sf0.01"
    val out = graft.queries.SimilarityQueries.semDedup(spark, dir).cache()
    assert(out.count() === Tables.embeddings(spark, dir).count())
    // non-vacuous on this corpus: the planted near-dups cause drops
    assert(out.filter(col("verdict") === "dropped").count() > 0)
    // every drop is justified; kept rows carry no neighbor stats
    assert(out.filter(col("verdict") === "dropped" &&
      (col("n_prio_near") < 1 ||
        col("max_cos_e6") < graft.queries.SimilarityQueries.SemDedupTauE6)).count() === 0)
    assert(out.filter(col("verdict") === "kept" && col("max_cos_e6").isNotNull).count() === 0)
    // the core SemDeDup guarantee: the kept set is an independent set
    // at the tau grain within every cluster
    val m = Tables.embeddings(spark, dir)
      .select(col("vec_id"), graft.operators.Similarity.microVec(col("embedding")).as("m"))
    val kept = out.filter(col("verdict") === "kept")
      .join(m, Seq("vec_id")).select(col("vec_id"), col("cluster"), col("m"))
    val keptB = kept.select(col("vec_id").as("b_id"), col("cluster"), col("m").as("b_m"))
    val nearKeptPairs = kept.join(keptB, Seq("cluster"))
      .filter(col("vec_id") < col("b_id"))
      .withColumn("cos_e6", round(
        graft.operators.Similarity.intDot(col("m"), col("b_m")).cast("double") /
          (graft.operators.Similarity.microNorm(col("m")) *
            graft.operators.Similarity.microNorm(col("b_m"))) * lit(1000000.0)).cast("long"))
      .filter(col("cos_e6") >= graft.queries.SimilarityQueries.SemDedupTauE6)
    assert(nearKeptPairs.count() === 0)
    out.unpersist()
  }

  test("q159: the quality representative is the longest member; moved implies strictly longer") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.{fold, tokens}
    val sel = graft.queries.DedupQueries.repSelection(spark, sfDir).cache()
    val clusters = graft.queries.DedupQueries.dedupClusters(spark, sfDir)
      .select(col("doc_id"), col("cluster_id"))
    // same clusters, same member counts as q67
    val sizes = clusters.groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
    val joined = sel.join(sizes, Seq("cluster_id"))
    assert(joined.count() === sel.count())
    assert(joined.filter(col("n_members") =!= col("n")).count() === 0)
    // the rep carries the cluster-max token count, and a moved rep is
    // STRICTLY longer than the min-id label (ties keep the min id)
    val toks = graft.operators.Dedup.exact(
      Tables.documents(spark, sfDir), "text", "doc_id")
      .select(col("doc_id"), size(tokens(fold(col("text")))).cast("long").as("nt"))
    val memberMax = clusters.join(toks, Seq("doc_id"))
      .groupBy(col("cluster_id")).agg(max(col("nt")).as("max_nt"))
    val k = sel.join(memberMax, Seq("cluster_id"))
    assert(k.filter(col("rep_n_tokens") =!= col("max_nt")).count() === 0)
    val labelToks = sel.join(toks.withColumnRenamed("doc_id", "cluster_id"), Seq("cluster_id"))
    assert(labelToks.filter(col("moved") && col("rep_n_tokens") <= col("nt")).count() === 0)
    sel.unpersist()
  }

  test("q173 diversity sample spends the budget equally across clusters") {
    import graft.queries.SimilarityQueries
    val rows = SimilarityQueries.diversitySample(spark, sfDir).collect()
    val byCluster = rows.groupBy(_.getAs[Long]("cluster"))
    // quotas are an equal split of the budget (max spread 1) summing to B
    val quotas = byCluster.map { case (_, rs) => rs.head.getAs[Long]("quota") }
    assert(quotas.sum === SimilarityQueries.DiversityBudget)
    assert(quotas.max - quotas.min <= 1L)
    byCluster.foreach { case (c, rs) =>
      val n = rs.length.toLong
      val quota = rs.head.getAs[Long]("quota")
      val alloc = rs.head.getAs[Long]("alloc")
      assert(rs.forall(_.getAs[Long]("cluster_n") == n))
      assert(alloc === math.min(quota, n))
      // picked set is exactly the alloc lowest hash ranks
      val picked = rs.filter(_.getAs[Boolean]("picked"))
      assert(picked.length.toLong === alloc, s"cluster $c")
      assert(picked.forall(_.getAs[Long]("rk") <= alloc))
      // ranks are a permutation of 1..n within the cluster
      assert(rs.map(_.getAs[Long]("rk")).sorted.toSeq === (1L to n).toSeq)
    }
    // balanced beats proportional: some small cluster is sampled at a
    // strictly higher rate than the corpus-wide budget share
    val total = rows.length.toLong
    val overSampled = byCluster.values.exists { rs =>
      val n = rs.length.toLong
      val alloc = rs.head.getAs[Long]("alloc")
      alloc * total > SimilarityQueries.DiversityBudget * n
    }
    assert(overSampled, "expected a rare cluster sampled above its proportional share")
  }

  test("q178 source MinHash matrix matches an in-memory sketch replay") {
    import graft.functions.Hashing
    val rows = graft.queries.DedupQueries.sourceSimilarity(spark, sfDir).collect()
    val segsBySource = Tables.documents(spark, sfDir)
      .select(col("source"), col("text")).collect()
      .flatMap { r =>
        r.getString(1).replace(" batch ", ". ").split("\\. ", -1).toSeq
          .map(_.trim).filter(_.nonEmpty).map(sg => (r.getString(0), sg))
      }.distinct.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).toSet }
    val sources = segsBySource.keys.toSeq.sorted
    assert(rows.length === sources.size * (sources.size - 1) / 2)
    def poly(s: String): Long =
      s.codePoints().toArray.foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)
    val sigs = segsBySource.map { case (s, set) =>
      val hs = set.map(poly)
      s -> (0 until graft.queries.DedupQueries.SrcSimK).map(k =>
        hs.map(h => (Hashing.hashA(k) * h + Hashing.hashB(k)) % 1000000007L).min)
    }
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("source_a"), r.getAs[String]("source_b"))
      val (sa, sb) = (segsBySource(a), segsBySource(b))
      val inter = (sa & sb).size.toLong
      val union = sa.size + sb.size - inter
      assert(r.getAs[Long]("n_inter") === inter)
      assert(r.getAs[Long]("exact_e6") === inter * 1000000L / union)
      val matches = sigs(a).zip(sigs(b)).count { case (x, y) => x == y }.toLong
      assert(r.getAs[Long]("est_e6") === matches * 1000000L /
        graft.queries.DedupQueries.SrcSimK)
    }
    // the sketch is a usable estimator at k=64: errors bounded, mean tight
    val errs = rows.map(r => math.abs(r.getAs[Long]("err_e6")))
    assert(errs.max <= 350000L, s"worst |err| ${errs.max}")
    assert(errs.sum / errs.length <= 120000L, s"mean |err| ${errs.sum / errs.length}")
  }

  test("q176 JL ratios concentrate near 1 and match an in-memory projection") {
    import graft.queries.SimilarityQueries
    val rows = SimilarityQueries.jlDistortion(spark, sfDir).collect()
    assert(rows.length === (SimilarityQueries.JlSampleBound / 2).toInt)
    val ratios = rows.flatMap(r => Option(r.getAs[Long]("ratio_e6")))
    assert(ratios.nonEmpty)
    // JL with k=16: individual ratios spread but all stay positive and
    // the sample mean concentrates near 1
    assert(ratios.forall(_ > 0L))
    val mean = ratios.sum / ratios.length
    assert(mean > 700000L && mean < 1300000L, s"mean ratio $mean")
    // replay one pair end to end in plain Scala
    val emb = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 2).orderBy(col("vec_id")).collect()
      .map(_.getSeq[Float](1).map(x =>
        java.math.BigDecimal.valueOf(x.toDouble * 1e6)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue()))
    val d = emb(0).zip(emb(1)).map { case (a, b) => a - b }
    val d2o = d.map(x => x * x).sum
    val d2p = (0 until SimilarityQueries.JlK).map { p =>
      val sp = d.zipWithIndex.map { case (x, j) =>
        if (graft.operators.Similarity.planeSign(p, j) > 0) x else -x
      }.sum
      sp * sp
    }.sum
    val r0 = rows.find(_.getAs[Long]("pair_id") == 0L).get
    assert(r0.getAs[Long]("d2_orig") === d2o)
    assert(r0.getAs[Long]("d2_proj") === d2p)
  }

  test("q195 containment matches a driver-side set transcription") {
    import org.apache.spark.sql.functions._
    import graft.queries.DedupQueries
    def foldText(t: String): String = {
      val hyphens = "-\u2010\u2011\u2012\u2013\u2014\u2015"
      val noHyphen = t.map(c => if (hyphens.contains(c)) ' ' else c)
        .filterNot(_ == '\u00ad')
      java.text.Normalizer.normalize(noHyphen, java.text.Normalizer.Form.NFD)
        .replaceAll("\\p{M}", "").toLowerCase
    }
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    // reps: min doc_id per exact text
    val keep = docs.groupBy(_._2).values.map(g => g.minBy(_._1)).map(_._1).toSet
    val shingleSets = docs.filter(d => keep(d._1)).map { case (id, t) =>
      val toks = foldText(t).trim.split("\\s+")
      id -> toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }.toMap
    // df cap
    val df = shingleSets.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val capped = shingleSets.view.mapValues(_.filter(sh =>
      df(sh) <= DedupQueries.JaccardDfCap)).toMap
    val ids = capped.keys.toSeq.sorted
    val expected = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      inter = (capped(a) & capped(b)).size.toLong
      minSz = math.min(capped(a).size, capped(b).size).toLong
      if minSz > 0 && inter * 1000000L >= minSz * DedupQueries.ContainThrE6
    } yield (a, b) -> ((inter, capped(a).size.toLong, capped(b).size.toLong))).toMap
    val rows = DedupQueries.containmentDedup(spark, sfDir).collect()
    assert(rows.length === expected.size)
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val key = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      val (inter, sa, sb) = expected(key)
      assert(r.getAs[Long]("intersect_n") === inter)
      assert(r.getAs[Long]("size_a") === sa)
      assert(r.getAs[Long]("size_b") === sb)
      val minSz = math.min(sa, sb)
      assert(r.getAs[Long]("containment_e6") ===
        math.round(1e6 * inter.toDouble / minSz))
      assert(r.getAs[Boolean]("asym") === (inter * 2 < sa + sb - inter))
    }
    // containment can only exceed (or equal) Jaccard — the asymmetry
    rows.foreach(r => assert(
      r.getAs[Long]("containment_e6") >= r.getAs[Long]("jaccard_e6")))
  }

  test("q195 asym fires on a genuinely embedded document (synthetic)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a long doc and a short doc fully quoted inside it: containment
    // of the short one is 1.0 while Jaccard is diluted by the union —
    // the case the corpus lacks but the operator must catch
    val quote = (1 to 12).map(i => s"tok$i").mkString(" ")
    val long = (1 to 60).map(i => s"word$i").mkString(" ") + " " + quote
    val docs = Seq((1L, long), (2L, quote)).toDF("doc_id", "text")
    val rows = graft.operators.Dedup.containmentPairs(
      graft.operators.Dedup.shingles(docs, "text", "doc_id"), "doc_id",
      graft.queries.DedupQueries.ContainThrE6).collect()
    assert(rows.length === 1)
    val r = rows(0)
    assert(r.getAs[Long]("containment_e6") === 1000000L)
    assert(r.getAs[Long]("jaccard_e6") < 500000L)
    assert(r.getAs[Boolean]("asym"), "the embedded quote is exactly the asym case")
  }

  test("q201 threshold curve is monotone and its 0.5 row equals q22's pair set") {
    import graft.queries.DedupQueries
    val rows = DedupQueries.jaccardCurve(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("thr_e6")).toSeq === DedupQueries.JaccardCurveThrE6)
    val pairs = rows.map(_.getAs[Long]("n_pairs")).toSeq
    val docs = rows.map(_.getAs[Long]("n_docs_affected")).toSeq
    assert(pairs.zip(pairs.tail).forall { case (a, b) => b <= a })
    assert(docs.zip(docs.tail).forall { case (a, b) => b <= a })
    rows.foreach { r =>
      assert(r.getAs[Long]("affected_rate_e6") ===
        r.getAs[Long]("n_docs_affected") * 1000000L / r.getAs[Long]("n_docs"))
    }
    // the 0.5 gate IS q22's own threshold — counts must agree exactly
    val q22pairs = DedupQueries.ngramJaccard(spark, sfDir).count()
    val row05 = rows.find(_.getAs[Long]("thr_e6") === 500000L).get
    assert(row05.getAs[Long]("n_pairs") === q22pairs)
    // this corpus's near-dup pairs all sit at ~0.95 Jaccard, so the
    // curve is flat across these gates — the measurement a dedup run
    // reads as "threshold choice does not matter here"
    assert(pairs.head >= pairs.last)
  }

  test("banded bounded-memory jaccard is row-identical to the single-pass shape") {
    import org.apache.spark.sql.functions.col
    val reps = Dedup.exact(Tables.documents(spark, sfDir), "text", "doc_id")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_a"), col("doc_b"), col("intersect_n"), col("size_a"),
        col("size_b"), col("union_n"), col("jaccard_e6"))
      .collect().map(_.toSeq).toSet
    val single = rows(Dedup.jaccardPairs(
      Dedup.shingles(reps, "text", "doc_id"), "doc_id",
      dfCap = Some(graft.queries.DedupQueries.JaccardDfCap)))
    assert(single.nonEmpty)
    val banded = rows(Dedup.jaccardPairsBanded(
      Dedup.shingles(reps, "text", "doc_id"), "doc_id",
      dfCap = Some(graft.queries.DedupQueries.JaccardDfCap), nBands = 4))
    assert(banded === single)
  }

  test("auto banding dispatches on the measured volume and stays row-identical") {
    import org.apache.spark.sql.functions.col
    val reps = Dedup.exact(Tables.documents(spark, sfDir), "text", "doc_id")
    def pairs() = Dedup.jaccardPairs(
      Dedup.shingles(reps, "text", "doc_id"), "doc_id",
      dfCap = Some(graft.queries.DedupQueries.JaccardDfCap))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_a"), col("doc_b"), col("intersect_n"), col("size_a"),
        col("size_b"), col("union_n"), col("jaccard_e6"))
      .collect().map(_.toSeq).toSet
    def isBanded(df: org.apache.spark.sql.DataFrame) =
      df.inputFiles.exists(_.contains("jacc_bands"))
    val single = rows(pairs())
    assert(single.nonEmpty)
    // below the staging threshold the probe never runs: one-pass
    assert(!isBanded(pairs()))
    spark.conf.set(Dedup.StageMinInputBytesConf, "0") // force at-scale
    try {
      // at scale with a tiny budget the volume exceeds it: banded,
      // and row-identical to the one-pass shape
      spark.conf.set(Dedup.AutoBandVolumeConf, "1")
      val banded = pairs()
      assert(isBanded(banded))
      assert(rows(banded) === single)
      // at scale with a huge budget: the probe says one pass (prefix
      // or plain), row-identical too
      spark.conf.set(Dedup.AutoBandVolumeConf, Long.MaxValue.toString)
      val within = pairs()
      assert(!isBanded(within))
      assert(rows(within) === single)
    } finally {
      spark.conf.unset(Dedup.StageMinInputBytesConf)
      spark.conf.unset(Dedup.AutoBandVolumeConf)
    }
  }

  test("prefix-filtered jaccard is row-identical to the single-pass shape") {
    import org.apache.spark.sql.functions.col
    val reps = Dedup.exact(Tables.documents(spark, sfDir), "text", "doc_id")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_a"), col("doc_b"), col("intersect_n"), col("size_a"),
        col("size_b"), col("union_n"), col("jaccard_e6"))
      .collect().map(_.toSeq).toSet
    val single = rows(Dedup.jaccardPairs(
      Dedup.shingles(reps, "text", "doc_id"), "doc_id",
      dfCap = Some(graft.queries.DedupQueries.JaccardDfCap)))
    assert(single.nonEmpty)
    // the explicit entry point, at both staging shapes (string keys
    // below the footprint threshold, dictionary sids above it)
    val prefix = rows(Dedup.jaccardPairsPrefix(
      Dedup.shingles(reps, "text", "doc_id"), "doc_id",
      dfCap = Some(graft.queries.DedupQueries.JaccardDfCap)))
    assert(prefix === single)
    spark.conf.set(Dedup.StageMinInputBytesConf, "0") // force at-scale shape
    try {
      val prefixScale = rows(Dedup.jaccardPairsPrefix(
        Dedup.shingles(reps, "text", "doc_id"), "doc_id",
        dfCap = Some(graft.queries.DedupQueries.JaccardDfCap)))
      assert(prefixScale === single)
    } finally spark.conf.unset(Dedup.StageMinInputBytesConf)
  }

  test("jaccard dispatch confs fail loudly on garbage and the budget derives from the heap") {
    val reps = Dedup.exact(Tables.documents(spark, sfDir), "text", "doc_id")
    def pairs() = Dedup.jaccardPairs(
      Dedup.shingles(reps, "text", "doc_id"), "doc_id",
      dfCap = Some(graft.queries.DedupQueries.JaccardDfCap))
    // garbage byte counts: a typed error naming the conf, not a bare
    // NumberFormatException ("For input string") halfway through a query
    for (bad <- Seq("8m", "-1", "")) {
      spark.conf.set(Dedup.StageMinInputBytesConf, bad)
      try {
        val e = intercept[IllegalArgumentException](pairs())
        assert(e.getMessage.contains(Dedup.StageMinInputBytesConf), s"minBytes=$bad")
      } finally spark.conf.unset(Dedup.StageMinInputBytesConf)
      spark.conf.set(Dedup.JaccardScratchBytesConf, bad)
      try {
        val e = intercept[IllegalArgumentException](
          Dedup.jaccardMergeBytes(spark.conf, "/tmp"))
        assert(e.getMessage.contains(Dedup.JaccardScratchBytesConf), s"scratch=$bad")
      } finally spark.conf.unset(Dedup.JaccardScratchBytesConf)
    }
    // budget override validation: 0 and negatives would divide-by-zero
    // or nonsense the band sizing — rejected before any plan is built
    spark.conf.set(Dedup.StageMinInputBytesConf, "0") // force at-scale
    try {
      for (bad <- Seq("0", "-5", "many")) {
        spark.conf.set(Dedup.AutoBandVolumeConf, bad)
        try {
          val e = intercept[IllegalArgumentException](pairs())
          assert(e.getMessage.contains(Dedup.AutoBandVolumeConf), s"budget=$bad")
        } finally spark.conf.unset(Dedup.AutoBandVolumeConf)
      }
    } finally spark.conf.unset(Dedup.StageMinInputBytesConf)
    // the default budget is heap-proportional (the knob's documented
    // scaling law applied to its own default): maxMemory / 700 B per
    // candidate, floored — and the effective budget reads the override
    assert(Dedup.autoBandVolumeDefault ===
      math.max(1000000L, Runtime.getRuntime.maxMemory() / Dedup.AutoBandBytesPerCandidate))
    assert(Dedup.autoBandVolume(spark.conf) === Dedup.autoBandVolumeDefault)
    spark.conf.set(Dedup.AutoBandVolumeConf, "123456789")
    try assert(Dedup.autoBandVolume(spark.conf) === 123456789L)
    finally spark.conf.unset(Dedup.AutoBandVolumeConf)
  }

  test("banded phase-1 length filter drops only never-qualifying pairs, identically to one-pass") {
    // a corpus DESIGNED to trip the 2*min >= max phase-1 prune: docs
    // 10/11 share every one of 10's shingles but 11 is 3x longer
    // (2*8 < 26 -> can never reach J >= 0.5, pruned before the
    // partial write); docs 20/21 are a qualifying near-dup pair at a
    // size ratio just INSIDE the bound; doc 30 is noise
    val longTail = (1 to 20).map(i => s"w$i").mkString(" ")
    val sized = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (11L, s"alpha beta gamma delta epsilon zeta eta theta iota kappa $longTail"),
      (20L, "red orange yellow green blue indigo violet umber"),
      (21L, "red orange yellow green blue indigo violet ochre"),
      (30L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_a"), col("doc_b"), col("intersect_n"), col("union_n"))
      .collect().map(_.toSeq).toSet
    val single = rows(Dedup.jaccardPairs(
      Dedup.shingles(sized, "text", "doc_id"), "doc_id"))
    // one-pass truth: only (20, 21) qualifies — (10, 11) shares all of
    // 10's shingles (containment!) but the size mismatch caps J below
    // 0.5: |A∩B| = 8, |A∪B| = 28
    assert(single.map(s => (s(0), s(1))) === Set((20L, 21L)))
    val banded = rows(Dedup.jaccardPairsBanded(
      Dedup.shingles(sized, "text", "doc_id"), "doc_id", None, nBands = 4))
    assert(banded === single)
    // the pruned containment pair is still a CONTAINMENT hit — the
    // length bound is Jaccard-specific, not a recall loss elsewhere
    val cont = Dedup.containmentPairs(
      Dedup.shingles(sized, "text", "doc_id"), "doc_id", thrE6 = 900000L)
      .filter(col("doc_a") === 10L && col("doc_b") === 11L)
    assert(cont.count() === 1L)
  }

  test("q251 radius curve: truth recomputed all-pairs, pigeonhole anchor, candidate volume") {
    import graft.queries.DedupQueries
    val rows = DedupQueries.simhashSweep(spark, sfDir)
      .collect().sortBy(_.getAs[Long]("radius"))
    assert(rows.map(_.getAs[Long]("radius")).toSeq ===
      (1 to DedupQueries.SimhashSweepRadius).map(_.toLong))

    // independent truth: collect the distinct simhash values (bounded
    // by the value dictionary) and brute-force every pair's hamming
    // distance driver-side — the expansion join must agree exactly
    val docs = Tables.documents(spark, sfDir)
    val reps = Dedup.exact(docs, "text", "doc_id")
    val values = Dedup.simhash(reps, "text", "doc_id")
      .select(col("simhash")).distinct()
      .collect().map(_.getLong(0)).sorted
    val hams = for {
      i <- values.indices
      j <- (i + 1) until values.length
    } yield java.lang.Long.bitCount(values(i) ^ values(j))
    // independent band candidates: same banding, driver-side
    def bandVals(v: Long) = (0 until Dedup.SimhashBandCount)
      .map(b => (b, (v >> (8 * b)) & 255L))
    val candHams = for {
      i <- values.indices
      j <- (i + 1) until values.length
      if bandVals(values(i)).zip(bandVals(values(j))).exists { case (a, b) => a == b }
    } yield java.lang.Long.bitCount(values(i) ^ values(j))
    rows.foreach { r =>
      val rad = r.getAs[Long]("radius").toInt
      val nTrue = hams.count(_ <= rad).toLong
      val nFound = candHams.count(_ <= rad).toLong
      assert(r.getAs[Long]("n_values") === values.length.toLong)
      assert(r.getAs[Long]("n_true") === nTrue, s"radius $rad")
      assert(r.getAs[Long]("n_found") === nFound, s"radius $rad")
      assert(r.getAs[Long]("n_candidates") === candHams.size.toLong)
      assert(r.getAs[Long]("recall_e6") ===
        (if (nTrue == 0) 1000000L
         else math.round(nFound.toDouble / nTrue * 1e6)), s"radius $rad")
    }
    // the pigeonhole anchor: 3 contiguous 8-bit bands guarantee a
    // shared band for any pair with hamming < 3, so r <= 2 arms MUST
    // read full recall; monotone nonincreasing recall in r after that
    rows.filter(_.getAs[Long]("radius") <= 2).foreach { r =>
      assert(r.getAs[Long]("recall_e6") === 1000000L,
        s"pigeonhole broken at radius ${r.getAs[Long]("radius")}")
    }
    val recalls = rows.map(_.getAs[Long]("recall_e6")).toSeq
    assert(recalls === recalls.sorted.reverse)
  }

  test("sketch geometry: 4 simhash bands give full recall at r <= 3 (pigeonhole)") {
    // q251 measures the radius curve so an operator can pick a band
    // count; the operators take it as a parameter. At 4 bands of 6
    // bits, any pair with hamming < 4 shares a band, so every r <= 3
    // arm must read recall 1.0 — the anchor the default 3-band
    // geometry only guarantees through r = 2.
    val docs = Tables.documents(spark, sfDir)
    val reps = Dedup.exact(docs, "text", "doc_id")
    val rows = Dedup.simhashRadiusCurve(
      Dedup.simhash(reps, "text", "doc_id"), "doc_id", maxRadius = 3, nBands = 4)
      .collect().sortBy(_.getAs[Long]("radius"))
    assert(rows.map(_.getAs[Long]("radius")).toSeq === Seq(1L, 2L, 3L))
    // non-vacuous: the corpus must hold true pairs somewhere in the
    // swept radii or full recall asserts nothing
    assert(rows.exists(_.getAs[Long]("n_true") > 0L), "vacuous corpus")
    rows.foreach { r =>
      assert(r.getAs[Long]("recall_e6") === 1000000L,
        s"4-band pigeonhole broken at radius ${r.getAs[Long]("radius")}")
    }
    // independent check of the 6-bit banding itself: driver-side
    // re-banding of the value dictionary agrees with the engine's
    // candidate volume
    val values = Dedup.simhash(reps, "text", "doc_id")
      .select(col("simhash")).distinct()
      .collect().map(_.getLong(0)).sorted
    def bandVals(v: Long) = (0 until 4).map(b => (b, (v >> (6 * b)) & 63L))
    val nCands = (for {
      i <- values.indices
      j <- (i + 1) until values.length
      if bandVals(values(i)).zip(bandVals(values(j))).exists { case (a, b) => a == b }
    } yield 1).size.toLong
    assert(rows.head.getAs[Long]("n_candidates") === nCands)

    // a geometry that does not tile the sketch is rejected loudly, not
    // silently truncated (dropped remainder bits would always collide)
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(Dedup.simhash(reps, "text", "doc_id"), "doc_id", nBands = 5)
    }

    // the minhash band count reshapes the signature the same way:
    // 2 bands x 4 rows has strictly fewer-or-equal collisions than
    // the default 4 x 2 on the same signatures (rows-per-band is the
    // precision knob)
    val sh = Dedup.shingles(reps, "text", "doc_id")
    val sig = Dedup.minhashSignatures(sh, "doc_id")
    val defaultCands = Dedup.minhashCandidates(sig, "doc_id").count()
    val strictCands = Dedup.minhashCandidates(sig, "doc_id", nBands = 2).count()
    assert(strictCands <= defaultCands,
      s"2x4 banding must not out-recall 4x2 ($strictCands > $defaultCands)")
  }

  /** A corpus whose pairwise Jaccards straddle the 0.3/0.5/0.7 gates:
    * 100/101 sit at 6/14 ≈ 0.43 (in at 0.3, out at 0.5), 100/102 at
    * 9/11 ≈ 0.82 (in everywhere), 10/11 at 8/28 ≈ 0.286 (out
    * everywhere — and pruned by the t = 0.3 LENGTH gate, since
    * 8·1e6 < 28·3e5 fails min ≥ t·max exactly at that edge). */
  private lazy val thrDocs = {
    val base = (1 to 12).map(i => s"t$i")
    val longTail = (1 to 20).map(i => s"w$i").mkString(" ")
    Seq(
      (100L, base.mkString(" ")),
      (101L, (base.take(8) ++ (9 to 12).map(i => s"u$i")).mkString(" ")),
      (102L, (base.take(11) :+ "v12").mkString(" ")),
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (11L, s"alpha beta gamma delta epsilon zeta eta theta iota kappa $longTail"),
      (30L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
  }

  test("tunable jaccard threshold: all three shapes match brute-force truth at t = 0.3 and 0.7") {
    val sh = Dedup.shingles(thrDocs, "text", "doc_id")
    // independent truth: exact driver-side all-pairs Jaccard over the
    // same shingle sets (6 docs — brute force is the oracle here)
    val sets = sh.collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ids = sets.keys.toSeq.sorted
    def truth(thrE6: Long): Set[Seq[Any]] = (for {
      i <- ids; j <- ids if i < j
      inter = (sets(i) & sets(j)).size.toLong
      union = (sets(i) | sets(j)).size.toLong
      if inter * 1000000L >= union * thrE6
    } yield Seq[Any](i, j, inter, union)).toSet
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_a"), col("doc_b"), col("intersect_n"), col("union_n"))
      .collect().map(_.toSeq).toSet
    def all3(thrE6: Long): Seq[Set[Seq[Any]]] = Seq(
      rows(Dedup.jaccardPairs(sh, "doc_id", thrE6 = thrE6)),
      rows(Dedup.jaccardPairsPrefix(sh, "doc_id", thrE6 = thrE6)),
      rows(Dedup.jaccardPairsBanded(sh, "doc_id", None, nBands = 4, thrE6 = thrE6)))
    val t3 = truth(300000L)
    val t5 = truth(500000L)
    val t7 = truth(700000L)
    // the corpus exercises every gate differently (101/102 share the
    // same t1..t8 prefix 101 shares with 100, so both ~0.43 pairs
    // clear the 0.3 gate and die at 0.5)
    assert(t3.map(s => (s(0), s(1))) === Set((100L, 101L), (100L, 102L), (101L, 102L)))
    assert(t5.map(s => (s(0), s(1))) === Set((100L, 102L)))
    assert(t7.map(s => (s(0), s(1))) === Set((100L, 102L)))
    all3(300000L).zipWithIndex.foreach { case (r, k) => assert(r === t3, s"shape $k @0.3") }
    all3(700000L).zipWithIndex.foreach { case (r, k) => assert(r === t7, s"shape $k @0.7") }
    // monotone in t, and the default-parameter form is the 0.5 gate
    assert(rows(Dedup.jaccardPairs(sh, "doc_id")) === t5)
    assert(t7.subsetOf(t5) && t5.subsetOf(t3))
    // bad thresholds die loudly before any plan is built
    for (bad <- Seq(0L, -1L, 1000001L))
      intercept[IllegalArgumentException](
        Dedup.jaccardPairs(sh, "doc_id", thrE6 = bad))
  }

  test("incremental band-merge (fold-every-band forced) is row-identical and leaves only survivors on disk") {
    val sh = Dedup.shingles(thrDocs, "text", "doc_id")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_a"), col("doc_b"), col("intersect_n"), col("union_n"),
        col("jaccard_e6"))
      .collect().map(_.toSeq).toSet
    val single = rows(Dedup.jaccardPairs(sh, "doc_id"))
    assert(single.nonEmpty)
    spark.conf.set(Dedup.JaccardMergeBytesConf, "0") // fold after EVERY band
    try {
      val banded = Dedup.jaccardPairsBanded(sh, "doc_id", None, nBands = 4)
      assert(rows(banded) === single)
      // the run dir must hold ONLY the survivor output: every band
      // partial and every accumulator epoch was folded then reclaimed
      val runDir = banded.inputFiles.head.replaceAll("/surv/.*$", "")
      assert(runDir.contains("jacc_bands"))
      val children = new java.io.File(new java.net.URI(runDir).getPath).list().toSeq
      assert(children === Seq("surv"), s"leftover scratch: $children")
    } finally spark.conf.unset(Dedup.JaccardMergeBytesConf)
    // 'off' (the pre-merge accumulate-all behavior) stays row-identical
    spark.conf.set(Dedup.JaccardMergeBytesConf, "off")
    try assert(rows(Dedup.jaccardPairsBanded(sh, "doc_id", None, nBands = 4)) === single)
    finally spark.conf.unset(Dedup.JaccardMergeBytesConf)
    // garbage merge conf: typed error naming the conf
    spark.conf.set(Dedup.JaccardMergeBytesConf, "-7")
    try {
      val e = intercept[IllegalArgumentException](
        Dedup.jaccardPairsBanded(sh, "doc_id", None, nBands = 4))
      assert(e.getMessage.contains(Dedup.JaccardMergeBytesConf))
    } finally spark.conf.unset(Dedup.JaccardMergeBytesConf)
    // the derived default is DISK-keyed: free scratch / divisor,
    // floored at 1 GiB — fold only as hard as the disk demands
    spark.conf.set(Dedup.JaccardScratchBytesConf, (60L << 30).toString)
    try assert(Dedup.jaccardMergeBytes(spark.conf, "/tmp") ===
      (60L << 30) / Dedup.JaccardMergeFreeDivisor)
    finally spark.conf.unset(Dedup.JaccardScratchBytesConf)
    spark.conf.set(Dedup.JaccardScratchBytesConf, "1000")
    try assert(Dedup.jaccardMergeBytes(spark.conf, "/tmp") === (1L << 30))
    finally spark.conf.unset(Dedup.JaccardScratchBytesConf)
  }

  test("banded pre-flight disk guard warns by default and refuses with remediation when told to") {
    val sh = Dedup.shingles(thrDocs, "text", "doc_id")
    val cap = Some(graft.queries.DedupQueries.JaccardDfCap)
    // refuse mode + a zero-byte scratch override: the typed error
    // carries the confs an operator needs, BEFORE phase 1 starts
    spark.conf.set(Dedup.JaccardDiskGuardConf, "refuse")
    spark.conf.set(Dedup.JaccardScratchBytesConf, "0")
    try {
      val e = intercept[IllegalStateException](
        Dedup.jaccardPairsBanded(sh, "doc_id", cap, nBands = 4))
      assert(e.getMessage.contains(Dedup.JaccardMergeBytesConf))
      assert(e.getMessage.contains(Dedup.StagingDirConf))
      // warn (the default) prints but proceeds on the same numbers
      spark.conf.set(Dedup.JaccardDiskGuardConf, "warn")
      assert(Dedup.jaccardPairsBanded(sh, "doc_id", cap, nBands = 4).count() > 0L)
      // garbage mode: typed error naming the conf
      spark.conf.set(Dedup.JaccardDiskGuardConf, "maybe")
      val g = intercept[IllegalArgumentException](
        Dedup.jaccardPairsBanded(sh, "doc_id", cap, nBands = 4))
      assert(g.getMessage.contains(Dedup.JaccardDiskGuardConf))
    } finally {
      spark.conf.unset(Dedup.JaccardDiskGuardConf)
      spark.conf.unset(Dedup.JaccardScratchBytesConf)
    }
  }

  test("jaccard dispatch functions: one pass within budget, capped bands past it, prefix on a light shape") {
    // pure functions of what the probe measures — no Spark job runs
    assert(Dedup.MaxAutoBands === 16)
    val vols = Seq(0L, 1L, 999L, 1000L, 1001L, 1999L, 2000L, 2001L, 15999L,
      16000L, 16001L, 1L << 40, Long.MaxValue)
    for (vol <- vols; budget <- Seq(1L, 1000L, 1L << 20, Long.MaxValue)) {
      val n = Dedup.autoBands(vol, budget)
      if (vol <= budget) assert(n === 1, s"vol=$vol budget=$budget")
      else {
        val ceil = BigInt(vol) / budget + (if (vol % budget == 0) 0 else 1)
        assert(n >= 2, s"vol=$vol budget=$budget")
        assert(n === ceil.min(Dedup.MaxAutoBands).toInt, s"vol=$vol budget=$budget")
      }
    }
    assert(Dedup.autoBands(1001L, 1000L) === 2)
    assert(Dedup.autoBands(5000L, 1000L) === 5)
    assert(Dedup.autoBands(16001L, 1000L) === Dedup.MaxAutoBands)
    assert(Dedup.autoBands(Long.MaxValue, 1L) === Dedup.MaxAutoBands)
    for (vol <- Seq(0L, 1L, 10L, 11L, 1L << 40); heavy <- Seq(0L, 1L, 5L, 6L, 1L << 39))
      assert(Dedup.prefixWins(vol, heavy) === (vol > 0 && 2 * heavy < vol), s"vol=$vol heavy=$heavy")
    // an empty volume: one pass, no prefix, no scratch
    assert(Dedup.autoBands(0L, 1L) === 1)
    assert(!Dedup.prefixWins(0L, 0L))
    assert(Dedup.peakScratchBytes(0L, 1, 1L << 30) === 0L)
    // the scratch estimate: none for one pass, the un-merged ceiling
    // with the merge off, else capped by the fold machinery
    val ceiling = 1000000L * Dedup.PartialBytesPerVolUnit
    assert(Dedup.peakScratchBytes(1000000L, 1, Long.MaxValue) === 0L)
    assert(Dedup.peakScratchBytes(1000000L, 4, Long.MaxValue) === ceiling)
    assert(Dedup.peakScratchBytes(1000000L, 4, 1000L) === 4000L + 2L * ceiling / 4)
    assert(Dedup.peakScratchBytes(1000000L, 4, 1L << 30) === ceiling)
  }

  test("cluster-mode budget floor: the heap derivation only rules in local mode") {
    // local mode: driver heap == executor heap, trust the derivation
    assert(Dedup.autoBandVolumeFor(isLocal = true, 5000000L) === 5000000L)
    // cluster mode: a ~1 GiB default driver heap would derive ~1.5e6
    // and silently band at-scale corpora — floored at the measured
    // r14 constant instead
    assert(Dedup.autoBandVolumeFor(isLocal = false, 1500000L) === Dedup.ClusterBudgetFloor)
    // a genuinely bigger derivation survives the floor
    assert(Dedup.autoBandVolumeFor(isLocal = false, 9e8.toLong) === 9e8.toLong)
  }
}
