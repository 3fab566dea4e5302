package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables
import graft.functions.Hashing
import graft.operators.{Dedup, Similarity}
import graft.plans.Plans

/** Large-scale pipeline primitives that turn O(corpus) shuffle work
  * into map-side probes — the operations a 100 TB training-data run
  * leans on between the dedup and retrieval stages:
  *
  *  - q108: a PORTABLE Bloom filter (explicit words + bit math over
  *    the engine-independent polynomial hash family) built from the
  *    eval-set shingles and probed map-side by every training shingle.
  *    This is the scan-time pre-filter that makes decontamination
  *    anti-joins cheap at scale: the exact join (q73) only has to
  *    process bloom-positive rows, and the filter itself is a few KB
  *    broadcast to every executor. Both the bloom verdict AND the
  *    exact verdict are emitted, so false positives are measurable —
  *    the quantity a deployment sizes `m` against.
  *  - q109: scalar-quantization (SQ8) ANN — per-dimension corpus
  *    min/max affine-maps each float to an int8 code (the FAISS
  *    `SQ8` recipe); the compressed scan ranks by exact integer
  *    squared-L2 in code space and a shortlist rescore loads raw
  *    vectors for the final integer-cosine ranking. Completes the
  *    quantization family next to PQ (q79/q94) and IVF-PQ (q80/q87):
  *    SQ8 is the variant that keeps 4x compression with near-exact
  *    recall and no training step.
  *  - q110: sliding-window chunking (window 32 tokens, stride 24) —
  *    the RAG/embedding-prep layout pass. Map-only: chunk boundaries
  *    are per-document arithmetic, no shuffle before the final
  *    presentation sort.
  *
  * Every emitted number is integer-exact cross-engine: bloom words are
  * BIGINT bit patterns from the portable hash, SQ8 codes 0..255 agree
  * because the affine map is the identical double expression tree, and
  * chunk hashes are md5 of reconstructed text.
  */
object ScaleOpsQueries extends QueryFamily {

  private val FoldSql =
    "lower(strip_accents(translate(text, '-‐‑‒–—―­', '       ')))"
  private val ToksSql = s"string_split_regex(trim($FoldSql), '\\s+')"

  // ---- q108: portable Bloom-filter decontamination pre-filter ----

  /** Filter geometry: m = 16384 bits (512 x 32-bit-used words), k = 3
    * probes from the affine poly-hash family. Sized for the test
    * corpus (eval shingles fill ~5-45% of bits across SFs, so false
    * positives exist and stay measurable); a production run sizes
    * m = -n ln p / (ln 2)^2 the same way. */
  val BloomBits = 16384L
  val BloomK = 3

  private def bloomPos(h: Column, j: Int): Column =
    Hashing.affine(h, j) % BloomBits

  def bloomFilter(s: SparkSession, dir: String): DataFrame = {
    val evalPred = col("doc_id") % CurationQueries.EvalMod === 0
    // distinct (doc, shingle) with the portable hash, staged once for
    // the three consumers (bloom build, exact eval set, probe side)
    val sh = Dedup.stage(
      Dedup.shingles(Tables.documents(s, dir), "text", "doc_id")
        .withColumn("h", Hashing.polyHash(col("shingle"))))
    // build: k bit positions per eval shingle, 32 bits per BIGINT word
    // (bit 63 would overflow DuckDB's checked left shift), bit_or
    val bloom = sh.filter(evalPred)
      .select(explode(array((0 until BloomK).map(j => bloomPos(col("h"), j)): _*)).as("pos"))
      .select(expr("pos div 32").as("w"), (col("pos") % 32).cast("int").as("b"))
      .groupBy(col("w"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), b))").as("word"))
    val evalSet = sh.filter(evalPred).select(col("shingle")).distinct()
      .withColumn("true_hit", lit(1L))
    // probe: 3 broadcast word lookups per shingle — map-side, the
    // corpus side never shuffles before the per-doc aggregation
    val probes = (0 until BloomK).foldLeft(
      sh.filter(!evalPred).select(
        col("doc_id") +: col("shingle") +:
          (0 until BloomK).map(j => bloomPos(col("h"), j).as(s"p$j")): _*)) {
      case (df, j) =>
        df.join(broadcast(bloom.as(s"f$j")),
            expr(s"p$j div 32") === col(s"f$j.w"), "left")
          .withColumn(s"hit$j",
            expr(s"coalesce(f$j.word, CAST(0 AS BIGINT)) & " +
              s"shiftleft(CAST(1 AS BIGINT), CAST(p$j % 32 AS INT))") =!= 0L)
          .drop("w", "word")
    }
    probes
      .withColumn("bloom_hit", (0 until BloomK).map(j => col(s"hit$j")).reduce(_ && _))
      .join(broadcast(evalSet), Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("n_bloom_hits"),
        sum(coalesce(col("true_hit"), lit(0L))).as("n_true_hits"))
      .select(col("doc_id"), col("n_shingles"), col("n_bloom_hits"), col("n_true_hits"),
        (col("n_bloom_hits") - col("n_true_hits")).as("n_false_pos"),
        (col("n_bloom_hits") * 2 >= col("n_shingles")).as("bloom_contaminated"),
        (col("n_true_hits") * 2 >= col("n_shingles")).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  val bloomFilterSql: String = {
    val h = Hashing.polyHashSql("shingle")
    def pos(j: Int) = s"(${Hashing.affineSql("h", j)}) % $BloomBits"
    val hits = (0 until BloomK).map(j =>
      s"(COALESCE(f$j.word, 0) & (CAST(1 AS BIGINT) << CAST(p$j % 32 AS INT))) <> 0")
      .mkString(" AND ")
    val joins = (0 until BloomK).map(j =>
      s"LEFT JOIN bloom f$j ON p.p$j // 32 = f$j.w").mkString("\n  ")
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |pos AS (SELECT doc_id, t, generate_subscripts(t, 1) AS i FROM toks),
       |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
       |  FROM pos WHERE i + 2 <= len(t)),
       |hsh AS (SELECT doc_id, shingle, $h AS h FROM sh),
       |bpos AS (${(0 until BloomK).map(j =>
              s"SELECT ${pos(j)} AS bp FROM hsh WHERE doc_id % ${CurationQueries.EvalMod} = 0")
              .mkString("\n  UNION ALL\n  ")}),
       |bloom AS (SELECT bp // 32 AS w,
       |    bit_or(CAST(1 AS BIGINT) << CAST(bp % 32 AS INT)) AS word
       |  FROM bpos GROUP BY 1),
       |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % ${CurationQueries.EvalMod} = 0),
       |p AS (SELECT doc_id, shingle,
       |    ${(0 until BloomK).map(j => s"${pos(j)} AS p$j").mkString(", ")}
       |  FROM hsh WHERE doc_id % ${CurationQueries.EvalMod} <> 0),
       |probed AS (SELECT p.doc_id, p.shingle,
       |    CASE WHEN $hits THEN 1 ELSE 0 END AS bloom_hit,
       |    CASE WHEN ev.shingle IS NULL THEN 0 ELSE 1 END AS true_hit
       |  FROM p
       |  $joins
       |  LEFT JOIN ev ON p.shingle = ev.shingle)
       |SELECT doc_id, COUNT(*) AS n_shingles,
       |  CAST(SUM(bloom_hit) AS BIGINT) AS n_bloom_hits,
       |  CAST(SUM(true_hit) AS BIGINT) AS n_true_hits,
       |  CAST(SUM(bloom_hit) - SUM(true_hit) AS BIGINT) AS n_false_pos,
       |  CAST(SUM(bloom_hit) AS BIGINT) * 2 >= COUNT(*) AS bloom_contaminated,
       |  CAST(SUM(true_hit) AS BIGINT) * 2 >= COUNT(*) AS contaminated
       |FROM probed GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- q109: SQ8 scalar-quantized ANN ----

  val SqShortlist = 10
  val SqTopK = 5
  private val Dim = Similarity.Dim
  private val QuerySetBound = SimilarityQueries.QuerySetBound

  /** SQ8 codes: affine-map each dimension by the CORPUS min/max into
    * 0..255 (queries clamp into the same range). The map is the same
    * double expression tree on both engines, so the rounded codes are
    * bit-identical; all downstream ranking is integer math. */
  private def sq8Codes(v: DataFrame, statarr: DataFrame): DataFrame =
    v.crossJoin(broadcast(statarr))
      .withColumn("c", org.apache.spark.sql.GraftInternals.column(
        graft.expressions.Sq8Encode(
          org.apache.spark.sql.GraftInternals.expression(col("embedding")),
          org.apache.spark.sql.GraftInternals.expression(col("mns")),
          org.apache.spark.sql.GraftInternals.expression(col("mxs")))))
      .select(col("vec_id"), col("c"))

  def sq8Ann(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val corpus = emb.filter(col("vec_id") >= QuerySetBound)
    val queries = emb.filter(col("vec_id") < QuerySetBound)
    // per-dim min/max over the corpus, folded into one broadcast row
    val stats = corpus.select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(min(col("x").cast("double")).as("mn"), max(col("x").cast("double")).as("mx"))
    val statarr = stats.agg(
      transform(array_sort(collect_list(struct(col("dim"), col("mn")))), p => p("mn")).as("mns"),
      transform(array_sort(collect_list(struct(col("dim"), col("mx")))), p => p("mx")).as("mxs"))
    // compressed scan: the corpus codes never shuffle; queries broadcast
    val scored = sq8Codes(corpus, statarr)
      .crossJoin(broadcast(sq8Codes(queries, statarr)
        .select(col("vec_id").as("q_vec_id"), col("c").as("qc"))))
      .withColumn("sq_dist", Similarity.sqDist(col("qc"), col("c")))
      .select(col("q_vec_id"), col("vec_id"), col("sq_dist"))
    val short = Plans.topKPerKeyRanked(scored, Seq(scored("q_vec_id")),
      Seq((scored("sq_dist"), false), (scored("vec_id"), false)), SqShortlist, "srank")
      .select(col("q_vec_id"), col("vec_id"))
    Similarity.exactRescoreTopK(short, queries, corpus, SqTopK)
      .select(col("q_vec_id"), col("rank").cast("long").as("rnk"),
        col("vec_id"), col("cos_e6"))
      .orderBy(col("q_vec_id"), col("rnk"))
  }

  val sq8AnnSql: String = {
    def code(vecExpr: String) =
      s"""list_transform(range(1, ${Dim + 1}), i ->
         |      GREATEST(0, LEAST(255,
         |        CASE WHEN mxs[i] > mns[i]
         |          THEN CAST(ROUND((CAST($vecExpr[i] AS DOUBLE) - mns[i]) * 255.0 / (mxs[i] - mns[i])) AS BIGINT)
         |          ELSE 128 END)))""".stripMargin
    val sqd =
      s"list_reduce(list_transform(range(1, ${Dim + 1}), i -> (q.c[i] - d.c[i]) * (q.c[i] - d.c[i])), (x, y) -> x + y)"
    val intDot =
      s"list_reduce(list_transform(range(1, ${Dim + 1}), i -> qv.m[i] * cv.m[i]), (x, y) -> x + y)"
    def ssq(m: String) =
      s"list_reduce(list_transform($m, x -> x * x), (x, y) -> x + y)"
    s"""WITH dims AS (SELECT unnest(range(1, ${Dim + 1})) AS i),
       |stats AS (SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS mn, max(CAST(embedding[i] AS DOUBLE)) AS mx
       |  FROM embeddings CROSS JOIN dims WHERE vec_id >= $QuerySetBound GROUP BY i),
       |statarr AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM stats),
       |codes AS (SELECT vec_id, ${code("embedding")} AS c
       |  FROM embeddings CROSS JOIN statarr),
       |pairs AS (SELECT q.vec_id AS q_vec_id, d.vec_id, $sqd AS sq_dist
       |  FROM codes q CROSS JOIN codes d
       |  WHERE q.vec_id < $QuerySetBound AND d.vec_id >= $QuerySetBound),
       |short AS (SELECT q_vec_id, vec_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id
       |      ORDER BY sq_dist, vec_id) AS srn
       |    FROM pairs)
       |  WHERE srn <= $SqShortlist),
       |v AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS m
       |  FROM embeddings),
       |resc AS (SELECT s.q_vec_id, s.vec_id,
       |    CAST(ROUND(CAST($intDot AS DOUBLE)
       |      / (SQRT(CAST(${ssq("qv.m")} AS DOUBLE)) * SQRT(CAST(${ssq("cv.m")} AS DOUBLE)))
       |      * 1000000.0) AS BIGINT) AS cos_e6
       |  FROM short s
       |  JOIN v qv ON s.q_vec_id = qv.vec_id
       |  JOIN v cv ON s.vec_id = cv.vec_id)
       |SELECT q_vec_id, rnk, vec_id, cos_e6 FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id
       |    ORDER BY cos_e6 DESC, vec_id) AS rnk
       |  FROM resc)
       |WHERE rnk <= $SqTopK
       |ORDER BY q_vec_id, rnk""".stripMargin
  }

  // ---- q110: sliding-window chunking ----

  val ChunkWindow = 32
  val ChunkStride = 24

  /** q110: overlapping retrieval chunks — starts at 0, stride 24,
    * window 32 tokens (8-token overlap carries boundary context), the
    * tail chunk keeps whatever remains. Per-doc arithmetic only. */
  def chunkWindows(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{fold, tokens}
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(fold(col("text"))).as("t"))
      .withColumn("n", size(col("t")))
    val starts = when(col("n") > 0,
      transform(sequence(lit(0), expr(s"(n - 1) div $ChunkStride")), i => i * ChunkStride))
    toks
      .select(col("doc_id"), col("t"), col("n"), explode_outer(starts).as("start_tok"))
      .filter(col("start_tok").isNotNull)
      .select(col("doc_id"),
        expr(s"start_tok div $ChunkStride").cast("long").as("chunk_ord"),
        col("start_tok").cast("long").as("start_tok"),
        least(lit(ChunkWindow), col("n") - col("start_tok")).cast("long").as("n_chunk_toks"),
        md5(array_join(slice(col("t"), col("start_tok") + 1, lit(ChunkWindow)), " ")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_ord"))
  }

  val chunkWindowsSql: String =
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |n AS (SELECT doc_id, t, len(t) AS n FROM toks),
       |starts AS (SELECT doc_id, t, n, unnest(range(0, n, $ChunkStride)) AS start_tok
       |  FROM n WHERE n > 0)
       |SELECT doc_id,
       |  start_tok // $ChunkStride AS chunk_ord,
       |  CAST(start_tok AS BIGINT) AS start_tok,
       |  CAST(LEAST($ChunkWindow, n - start_tok) AS BIGINT) AS n_chunk_toks,
       |  md5(array_to_string(t[start_tok + 1 : start_tok + $ChunkWindow], ' ')) AS chunk_md5
       |FROM starts ORDER BY doc_id, chunk_ord""".stripMargin

  // ---- q171: count-min-sketch heavy hitters + measured overestimate ----

  /** Sketch geometry: depth 3 (the affine poly-hash family, as q108's
    * Bloom probes), width 32 — deliberately NARROW for the test
    * vocabulary so collisions exist and the overestimate is a
    * measurable, non-trivial number (the quantity a deployment sizes
    * `w = e/ε` against). */
  val CmsDepth = 3
  val CmsWidth = 32L
  val CmsTopK = 20

  /** q171: the count-min sketch next to q102's KMV and q108's Bloom —
    * the streaming-friendly heavy-hitter counter (Cormode &
    * Muthukrishnan 2005). The sketch is built FROM THE VOCAB TABLE,
    * not the corpus (the (tok) hash agg already exists in every
    * pipeline; the sketch is a 3x32-cell fold of it), and the exact
    * top-k rides along so each heavy hitter's estimate error is part
    * of the gate — the eval-harness genre of q95/q128/q160.
    *
    * Scale shape: corpus → (tok) hash agg (vocab-sized) → 3-cell
    * posexplode of the vocab → (d, cell) hash agg (96 rows). The exact
    * top-k goes through TopKPerKeyExec's bounded heap; the probe joins
    * the 96-row counter table BROADCAST. Nothing corpus-sized sorts,
    * and CMS estimate >= exact count by construction — asserted in the
    * spec, visible in the gate. */
  /** The (d, cell) counter table folded from a (tok, c) count table —
    * shared by the batch query and `StreamingCmsCounter` (the sketch
    * is an abelian sum, so per-batch counters fold to exactly the
    * batch sketch in any arrival order). */
  def cmsCounters(tokCounts: DataFrame): DataFrame =
    tokCounts
      .withColumn("hs", Hashing.polyHash(col("tok")))
      .select(col("c"), posexplode(array((0 until CmsDepth).map(d =>
        Hashing.affine(col("hs"), d) % CmsWidth): _*)).as(Seq("d", "cell")))
      .groupBy(col("d"), col("cell")).agg(sum(col("c")).as("cnt"))

  /** CMS estimates (min over depth rows) for a (tok) probe set against
    * a counter table. */
  def cmsEstimates(probes: DataFrame, counters: DataFrame): DataFrame =
    probes
      .withColumn("hs", Hashing.polyHash(col("tok")))
      .select(col("tok"), posexplode(array((0 until CmsDepth).map(d =>
        Hashing.affine(col("hs"), d) % CmsWidth): _*)).as(Seq("d", "cell")))
      .join(broadcast(counters), Seq("d", "cell"))
      .groupBy(col("tok")).agg(min(col("cnt")).as("cms_est"))

  def cmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{fold, tokens}
    val uni = Dedup.stage(Tables.documents(s, dir)
      .select(explode_outer(tokens(fold(col("text")))).as("tok"))
      .filter(col("tok").isNotNull)
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .withColumn("hs", Hashing.polyHash(col("tok"))))
    val counters = cmsCounters(uni.select(col("tok"), col("c")))
    val keyed = uni.withColumn("g", lit(1))
    val top = Plans.topKPerKeyRanked(keyed, Seq(keyed("g")),
      Seq((keyed("c"), true), (keyed("tok"), false)), CmsTopK, "rnk")
      .select(col("rnk").cast("long").as("rnk"), col("tok"), col("c"), col("hs"))
    top
      .select(col("rnk"), col("tok"), col("c"),
        posexplode(array((0 until CmsDepth).map(d =>
          Hashing.affine(col("hs"), d) % CmsWidth): _*)).as(Seq("d", "cell")))
      .join(broadcast(counters), Seq("d", "cell"))
      .groupBy(col("rnk"), col("tok"), col("c"))
      .agg(min(col("cnt")).as("cms_est"))
      .withColumn("overcount", col("cms_est") - col("c"))
      .withColumn("over_e6",
        round(col("overcount").cast("double") / col("c").cast("double") *
          lit(1000000.0)).cast("long"))
      .select(col("rnk"), col("tok"), col("c").as("exact"), col("cms_est"),
        col("overcount"), col("over_e6"))
      .orderBy(col("rnk"))
  }

  val cmsHeavyHittersSql: String = {
    def cellArm(src: String, d: Int) =
      s"SELECT tok, c, $d AS d, (${Hashing.affineSql("hs", d)}) % $CmsWidth AS cell FROM $src"
    val arms = (0 until CmsDepth).map(d => cellArm("h", d)).mkString("\n  UNION ALL ")
    s"""WITH pos AS (SELECT unnest($ToksSql) AS tok FROM documents),
       |uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM pos GROUP BY tok),
       |h AS (SELECT tok, c, ${Hashing.polyHashSql("tok")} AS hs FROM uni),
       |cells AS ($arms),
       |counters AS (SELECT d, cell, CAST(SUM(c) AS BIGINT) AS cnt
       |  FROM cells GROUP BY d, cell),
       |topk AS (SELECT rn AS rnk, tok, c, hs FROM (
       |    SELECT *, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rn FROM h)
       |  WHERE rn <= $CmsTopK)
       |SELECT t.rnk, t.tok, t.c AS exact,
       |  MIN(co.cnt) AS cms_est,
       |  MIN(co.cnt) - t.c AS overcount,
       |  CAST(ROUND(CAST(MIN(co.cnt) - t.c AS DOUBLE) / CAST(t.c AS DOUBLE) * 1000000.0) AS BIGINT) AS over_e6
       |FROM topk t
       |JOIN cells pc ON pc.tok = t.tok
       |JOIN counters co ON co.d = pc.d AND co.cell = pc.cell
       |GROUP BY t.rnk, t.tok, t.c
       |ORDER BY t.rnk""".stripMargin
  }

  // ---- q252: CMS (width x depth) accuracy operating curve ----

  /** The (width, depth) arms swept by q252, ordered by memory
    * footprint (cells = width x depth, the cost axis). (32, 3) is
    * q171's production configuration. */
  val CmsSweep: Seq[(Int, Int)] = Seq((16, 1), (32, 3), (64, 3), (256, 5))

  /** q252: the ACCURACY operating curve of the q171 count-min sketch —
    * the (width, depth) memory knob a counting deployment sizes, the
    * way q108 measures bloom false positives against `m` and
    * q180/q249/q250/q251 close the other sketch knobs: per arm,
    * the exact overcount distribution of the CMS estimate over EVERY
    * distinct token (sum / max / mean-e6), plus `n_over_bound` — how
    * many tokens exceed the classic `2N/width` Markov bound the
    * sketch's 2^-depth guarantee is stated against (integer-exact:
    * the comparison is `over * width > 2N`, no division). Same
    * deterministic affine hash family as q171, so every arm is
    * engine-reproducible.
    *
    * Scale shape: the whole sweep costs ONE corpus pass — tokens
    * aggregate once, every (arm, depth) cell assignment rides one
    * explode of a 12-struct literal array, counters collapse to
    * Σ width*depth = 1,584 rows and broadcast back; the per-arm
    * rollups are conditional aggregations over the estimate table.
    * Nothing rescans the corpus per arm. */
  def cmsCurve(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{fold, tokens}
    import graft.functions.VectorFunctions.e6
    import s.implicits._
    val uni = Dedup.stage(Tables.documents(s, dir)
      .select(explode_outer(tokens(fold(col("text")))).as("tok"))
      .filter(col("tok").isNotNull)
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .withColumn("hs", Hashing.polyHash(col("tok"))))
    val structs = CmsSweep.zipWithIndex.flatMap { case ((w, d), arm) =>
      (0 until d).map(dep => struct(
        lit(arm.toLong).as("arm"), lit(dep.toLong).as("depth"),
        (Hashing.affine(col("hs"), dep) % w).as("cell")))
    }
    val cells = Dedup.stage(uni
      .select(col("tok"), col("c"), explode(array(structs: _*)).as("x"))
      .select(col("tok"), col("c"), col("x.arm").as("arm"),
        col("x.depth").as("depth"), col("x.cell").as("cell")))
    val counters = cells.groupBy(col("arm"), col("depth"), col("cell"))
      .agg(sum(col("c")).as("cnt"))
    val est = cells.join(broadcast(counters), Seq("arm", "depth", "cell"))
      .groupBy(col("arm"), col("tok"), col("c"))
      .agg(min(col("cnt")).as("cms_est"))
      .withColumn("over", col("cms_est") - col("c"))
    val tot = uni.agg(sum(col("c")).as("total_n"))
    val meta = CmsSweep.zipWithIndex
      .map { case ((w, d), arm) => (arm.toLong, w.toLong, d.toLong) }
      .toDF("arm", "width", "depth")
    est.join(broadcast(meta), Seq("arm")).crossJoin(broadcast(tot))
      .groupBy(col("arm"), col("width"), col("depth"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("c")).as("sum_exact"),
        sum(col("over")).as("sum_over"),
        max(col("over")).as("max_over"),
        sum(when(col("over") * col("width") > lit(2L) * col("total_n"), 1L)
          .otherwise(0L)).as("n_over_bound"))
      .select(col("width"), col("depth"),
        (col("width") * col("depth")).as("cells"),
        col("n_tokens"), col("sum_exact"), col("sum_over"), col("max_over"),
        e6(col("sum_over").cast("double") / col("sum_exact")).as("mean_over_e6"),
        col("n_over_bound"))
      .orderBy(col("cells"), col("width"))
  }

  val cmsCurveSql: String = {
    val cellArms = CmsSweep.zipWithIndex.flatMap { case ((w, d), arm) =>
      (0 until d).map(dep =>
        s"SELECT tok, c, CAST($arm AS BIGINT) AS arm, CAST($dep AS BIGINT) AS depth, (${Hashing.affineSql("hs", dep)}) % $w AS cell FROM h")
    }.mkString("\n  UNION ALL ")
    val metaRows = CmsSweep.zipWithIndex
      .map { case ((w, d), arm) => s"($arm, $w, $d)" }.mkString(", ")
    s"""WITH pos AS (SELECT unnest($ToksSql) AS tok FROM documents),
       |uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM pos GROUP BY tok),
       |h AS (SELECT tok, c, ${Hashing.polyHashSql("tok")} AS hs FROM uni),
       |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total_n FROM uni),
       |cells AS (
       |  $cellArms),
       |counters AS (SELECT arm, depth, cell, CAST(SUM(c) AS BIGINT) AS cnt
       |  FROM cells GROUP BY arm, depth, cell),
       |est AS (SELECT ce.arm, ce.tok, ce.c, MIN(co.cnt) AS cms_est
       |  FROM cells ce JOIN counters co USING (arm, depth, cell)
       |  GROUP BY ce.arm, ce.tok, ce.c),
       |meta AS (SELECT CAST(arm AS BIGINT) AS arm, CAST(width AS BIGINT) AS width,
       |    CAST(depth AS BIGINT) AS depth
       |  FROM (VALUES $metaRows) t(arm, width, depth))
       |SELECT m.width, m.depth, m.width * m.depth AS cells,
       |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(e.c) AS BIGINT) AS sum_exact,
       |  CAST(SUM(e.cms_est - e.c) AS BIGINT) AS sum_over,
       |  CAST(MAX(e.cms_est - e.c) AS BIGINT) AS max_over,
       |  CAST(ROUND(CAST(SUM(e.cms_est - e.c) AS DOUBLE) / SUM(e.c) * 1000000.0) AS BIGINT) AS mean_over_e6,
       |  CAST(SUM(CASE WHEN (e.cms_est - e.c) * m.width > 2 * t.total_n THEN 1 ELSE 0 END) AS BIGINT) AS n_over_bound
       |FROM est e JOIN meta m USING (arm) CROSS JOIN tot t
       |GROUP BY m.arm, m.width, m.depth
       |ORDER BY cells, width""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q252_cms_curve" -> ((s, dir) => cmsCurve(s, dir)),
    "q108_bloom_filter" -> ((s, dir) => bloomFilter(s, dir)),
    "q109_sq8_ann" -> ((s, dir) => sq8Ann(s, dir)),
    "q110_chunk_windows" -> ((s, dir) => chunkWindows(s, dir)),
    "q171_cms_heavy_hitters" -> ((s, dir) => cmsHeavyHitters(s, dir)))

  val oracles: Map[String, String] = Map(
    "q252_cms_curve" -> cmsCurveSql,
    "q108_bloom_filter" -> bloomFilterSql,
    "q109_sq8_ann" -> sq8AnnSql,
    "q110_chunk_windows" -> chunkWindowsSql,
    "q171_cms_heavy_hitters" -> cmsHeavyHittersSql)
}
