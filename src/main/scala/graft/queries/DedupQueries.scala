package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.functions.Hashing
import graft.functions.TextFunctions.{sentenceSegs, sentenceSegsSql}
import graft.operators.Dedup

/** Layer D of SURVEY.md §2: the dedup family over `documents`.
  * Near-dup detection always runs on exact-dedup survivors (reps) —
  * the production ordering for a training-data pipeline.
  */
object DedupQueries extends QueryFamily {

  private def reps(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(s, dir), "text", "doc_id")

  // ---- shared oracle fragments ----
  private val FoldSql =
    "lower(strip_accents(translate(text, '-‐‑‒–—―­', '       ')))"
  private val ToksSql = s"string_split_regex(trim($FoldSql), '\\s+')"

  private[queries] val RepsCte =
    """reps AS (SELECT doc_id, text, lang, source, n_chars FROM (
      |    SELECT doc_id, text, lang, source, n_chars,
      |      MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep
      |    FROM documents) WHERE doc_id = keep)""".stripMargin

  private[queries] val ShinglesCte =
    s"""toks AS (SELECT doc_id, $ToksSql AS t FROM reps),
       |pos AS (SELECT doc_id, t, unnest(t) AS tok, generate_subscripts(t, 1) AS i FROM toks),
       |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
       |  FROM pos WHERE i + 2 <= len(t))""".stripMargin

  /** q21: exact content dedup — surviving representatives. */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    reps(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))

  val dedupExactSql: String =
    s"""WITH $RepsCte
       |SELECT doc_id, lang, source, n_chars FROM reps ORDER BY doc_id""".stripMargin

  /** q22: n-gram (3-shingle) Jaccard near-dup pairs at >= 0.5, via the
    * shingle inverted-index join (never all-pairs). The df cap drops
    * shingles shared by more docs than can indicate near-duplication —
    * the join cost bound Sum(df^2) needs it at scale. */
  val JaccardDfCap = 1000

  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(Dedup.shingles(reps(s, dir), "text", "doc_id"), "doc_id",
      dfCap = Some(JaccardDfCap))
      .select(col("doc_a"), col("doc_b"), col("intersect_n"), col("size_a"),
        col("size_b"), col("union_n"), col("jaccard_e6"))
      .orderBy(col("doc_a"), col("doc_b"))

  val ngramJaccardSql: String =
    s"""WITH $RepsCte,
       |$ShinglesCte,
       |shc AS (SELECT doc_id, shingle FROM (
       |    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
       |  WHERE df <= $JaccardDfCap),
       |sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM shc GROUP BY doc_id),
       |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS intersect_n
       |  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |j AS (SELECT doc_a, doc_b, intersect_n,
       |    sa.set_size AS size_a, sb.set_size AS size_b,
       |    sa.set_size + sb.set_size - intersect_n AS union_n
       |  FROM pairs JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, intersect_n, size_a, size_b, union_n,
       |  CAST(ROUND(1000000.0 * (CAST(intersect_n AS DOUBLE) / CAST(union_n AS DOUBLE))) AS BIGINT) AS jaccard_e6
       |FROM j WHERE intersect_n * 2 >= union_n
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q23: MinHash (8 seeded portable hashes) + banded LSH (4x2)
    * candidate pairs with band-agreement counts. */
  def minhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashCandidates(
      Dedup.minhashSignatures(Dedup.shingles(reps(s, dir), "text", "doc_id"), "doc_id"),
      "doc_id")
      .orderBy(col("doc_a"), col("doc_b"))

  val minhashLshSql: String = {
    val mins = (0 until Dedup.MinhashK)
      .map(k => s"MIN(${Hashing.affineSql("h_base", k)}) AS h$k")
      .mkString(",\n    ")
    // geometry from the same constants the operator reads, so
    // engine and oracle stay pinned to one (bands x rows) shape
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
    s"""WITH $RepsCte,
       |$ShinglesCte,
       |hashed AS (SELECT doc_id, ${Hashing.polyHashSql("shingle")} AS h_base FROM sh),
       |sigs AS (SELECT doc_id,
       |    $mins
       |  FROM hashed GROUP BY doc_id),
       |bands AS (
       |  $bandSelects)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  COUNT(DISTINCT a.band_id) AS n_bands
       |FROM bands a JOIN bands b
       |  ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id
       |GROUP BY doc_a, doc_b
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** q24: 24-bit SimHash near-dup value pairs (3 bands of 8 bits,
    * hamming<=3), value-clustered (see Dedup.simhashPairs). */
  def simhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Dedup.simhash(reps(s, dir), "text", "doc_id"), "doc_id")
      .select(col("sim_a"), col("sim_b"), col("n_docs_a"), col("n_docs_b"),
        col("min_doc_a"), col("min_doc_b"), col("hamming"))
      .orderBy(col("sim_a"), col("sim_b"))

  val simhashPairsSql: String = {
    val votes = (0 until Dedup.SimhashBits)
      .map(j => s"CAST(SUM(((h >> $j) & 1) * 2 - 1) AS BIGINT) AS v$j")
      .mkString(",\n    ")
    val bits = (0 until Dedup.SimhashBits)
      .map(j => s"(CASE WHEN v$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    val width = Dedup.SimhashBits / Dedup.SimhashBandCount
    val bandSelects = (0 until Dedup.SimhashBandCount)
      .map(b => s"SELECT simhash, n_docs, min_doc, $b AS band_id, (simhash >> ${width * b}) & ${(1L << width) - 1} AS band_val FROM vals")
      .mkString("\n  UNION ALL ")
    s"""WITH $RepsCte,
       |stok AS (SELECT DISTINCT doc_id, tok FROM
       |  (SELECT doc_id, unnest($ToksSql) AS tok FROM reps)),
       |hashed AS (SELECT doc_id, ${Hashing.polyHashSql("tok")} AS h FROM stok),
       |votes AS (SELECT doc_id,
       |    $votes
       |  FROM hashed GROUP BY doc_id),
       |sims AS (SELECT doc_id, $bits AS simhash FROM votes),
       |vals AS (SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc
       |  FROM sims GROUP BY simhash),
       |bands AS (
       |  $bandSelects),
       |cand AS (SELECT DISTINCT a.simhash AS sim_a, b.simhash AS sim_b,
       |    a.n_docs AS n_docs_a, b.n_docs AS n_docs_b,
       |    a.min_doc AS min_doc_a, b.min_doc AS min_doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.simhash < b.simhash)
       |SELECT sim_a, sim_b, n_docs_a, n_docs_b, min_doc_a, min_doc_b,
       |  CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
       |ORDER BY sim_a, sim_b""".stripMargin
  }

  /** q67: near-dup CLUSTERING — the q22 Jaccard pairs closed into
    * connected components, labeled by the component's min doc id, with
    * cluster sizes and the kept representative flagged. This is the
    * step that turns pairwise near-dup hits into dedup groups (keep
    * one per group) in a training-data pipeline. The oracle computes
    * the same components via a recursive transitive-closure CTE
    * (UNION-dedup, terminates; near-dup components are tiny). */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.jaccardPairs(
      Dedup.shingles(reps(s, dir), "text", "doc_id"), "doc_id",
      dfCap = Some(JaccardDfCap))
    val labels = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .select(col("node").as("doc_id"), col("lab").as("cluster_id"))
    // Cluster size via hash-agg + co-partitioned join-back, NOT a
    // cluster-partitioned window: CC label tables are where transitive
    // chaining welds boilerplate families into one mega-component, and a
    // window would sort that whole component through a single task. The
    // partial-agg count is map-side combinable and the join reuses the
    // cluster_id hash partitioning.
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).cast("long").as("cluster_size"))
    labels.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("keep"))
      .orderBy(col("doc_id"))
  }

  // ---- q159: quality-aware cluster representative selection ----

  /** q159: which member of each near-dup cluster SURVIVES — the
    * representative-selection policy of a real pipeline (keep the
    * LONGEST member: truncated mirrors and snippet copies lose to the
    * full document), where q67's min-id convention is only a label.
    * Per q67 cluster: member count, the quality representative by
    * (token count desc, doc_id asc), and whether the policy moved the
    * pick away from the min-id label. The argmax is one `max(struct)`
    * hash aggregate — partial-agg, co-partitioned with the cluster
    * labels, no corpus window (a per-cluster rank window would
    * serialize the biggest cluster at 100 TB; max(struct) stays
    * map-side combinable). */
  def repSelection(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{fold, tokens}
    val pairs = Dedup.jaccardPairs(
      Dedup.shingles(reps(s, dir), "text", "doc_id"), "doc_id",
      dfCap = Some(JaccardDfCap))
    val labels = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .select(col("node").as("doc_id"), col("lab").as("cluster_id"))
    val toks = reps(s, dir).select(col("doc_id"),
      size(tokens(fold(col("text")))).cast("long").as("n_tokens"))
    labels.join(toks, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("n_tokens"), (-col("doc_id")).as("neg_id"),
          col("doc_id"))).as("best"))
      .select(col("cluster_id"), col("n_members"),
        col("best.doc_id").as("rep_doc_id"),
        col("best.n_tokens").as("rep_n_tokens"),
        (col("best.doc_id") =!= col("cluster_id")).as("moved"))
      .orderBy(col("cluster_id"))
  }

  val repSelectionSql: String =
    s"""WITH RECURSIVE $RepsCte,
       |$ShinglesCte,
       |shc AS (SELECT doc_id, shingle FROM (
       |    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
       |  WHERE df <= $JaccardDfCap),
       |sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM shc GROUP BY doc_id),
       |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS intersect_n
       |  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |near AS (SELECT doc_a, doc_b
       |  FROM cand JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE intersect_n * 2 >= sa.set_size + sb.set_size - intersect_n),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM near
       |  UNION SELECT doc_b AS src, doc_a AS dst FROM near),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |lab AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
       |  FROM reach GROUP BY src),
       |tk AS (SELECT doc_id, CAST(len($ToksSql) AS BIGINT) AS n_tokens FROM reps),
       |r AS (SELECT lab.cluster_id, lab.doc_id, tk.n_tokens,
       |    ROW_NUMBER() OVER (PARTITION BY lab.cluster_id
       |      ORDER BY tk.n_tokens DESC, lab.doc_id) AS rn
       |  FROM lab JOIN tk ON lab.doc_id = tk.doc_id),
       |g AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members FROM lab GROUP BY cluster_id)
       |SELECT g.cluster_id, g.n_members, r.doc_id AS rep_doc_id,
       |  r.n_tokens AS rep_n_tokens, r.doc_id <> g.cluster_id AS moved
       |FROM g JOIN r ON g.cluster_id = r.cluster_id AND r.rn = 1
       |ORDER BY g.cluster_id""".stripMargin

  val dedupClustersSql: String =
    s"""WITH RECURSIVE $RepsCte,
       |$ShinglesCte,
       |shc AS (SELECT doc_id, shingle FROM (
       |    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
       |  WHERE df <= $JaccardDfCap),
       |sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM shc GROUP BY doc_id),
       |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS intersect_n
       |  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |near AS (SELECT doc_a, doc_b
       |  FROM cand JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE intersect_n * 2 >= sa.set_size + sb.set_size - intersect_n),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM near
       |  UNION SELECT doc_b AS src, doc_a AS dst FROM near),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |lab AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
       |  FROM reach GROUP BY src),
       |sized AS (SELECT doc_id, cluster_id,
       |    COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |  FROM lab)
       |SELECT doc_id, cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size,
       |  doc_id = cluster_id AS keep
       |FROM sized ORDER BY doc_id""".stripMargin

  // ---- q178: MinHash source-similarity sketch vs exact Jaccard ----

  val SrcSimK = 64

  /** q178: the source×source SIMILARITY matrix by MinHash SKETCH, with
    * the exact Jaccard riding along — mirror/syndication detection at
    * the grain where a 100 TB deployment actually runs it: per-source
    * signatures are k=64 minima of the affine poly-hash family over
    * the source's distinct segment set, so comparing two SOURCES costs
    * 64 integer equality tests instead of a segment-set join, and the
    * full matrix costs sources²·k — independent of corpus size once
    * the one signature pass is paid. The exact grain (q150) emits
    * shared-segment counts; this emits the resemblance estimate
    * `matches/k` next to the true Jaccard, so the gate carries the
    * sketch's measured error (the q128/q95 eval genre).
    *
    * Scale shape: ONE staged distinct-(source, seg) pass feeds both
    * the signature build (64 min aggs — partial, map-side) and the
    * exact intersection (segment-keyed self-join whose fan-out is
    * bounded by sources², since the distinct grain caps a segment's df
    * at the source count). Signatures and sizes are a sources-sized
    * dim, broadcast; the matrix math never touches the corpus. */
  def sourceSimilarity(s: SparkSession, dir: String): DataFrame = {
    val segs = Dedup.stage(Tables.documents(s, dir)
      .select(col("source"),
        explode(sentenceSegs(col("text"))).as("seg"))
      .withColumn("seg", trim(col("seg")))
      .filter(length(col("seg")) > 0)
      .distinct())
    val withH = segs.withColumn("hs", Hashing.polyHash(col("seg")))
    val sigAggs = count(lit(1)).as("n_segs") +:
      (0 until SrcSimK).map(k => min(Hashing.affine(col("hs"), k)).as(s"m$k"))
    val sig = withH.groupBy(col("source")).agg(sigAggs.head, sigAggs.tail: _*)
    def side(tag: String) = sig.select(
      col("source").as(s"source_$tag"), col("n_segs").as(s"n_$tag"),
      array((0 until SrcSimK).map(k => col(s"m$k")): _*).as(s"sig_$tag"))
    val inter = segs.as("a")
      .join(segs.as("b"), col("a.seg") === col("b.seg") &&
        col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_inter"))
    broadcast(side("a")).join(broadcast(side("b")), col("source_a") < col("source_b"))
      .join(inter, Seq("source_a", "source_b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
      .withColumn("n_match",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), (acc, x) => acc + x))
      .withColumn("exact_e6", expr("n_inter * 1000000 div n_union"))
      .withColumn("est_e6", expr(s"n_match * 1000000 div $SrcSimK"))
      .withColumn("err_e6", col("est_e6") - col("exact_e6"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_inter"), col("n_union"), col("exact_e6"), col("est_e6"),
        col("err_e6"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val sourceSimilaritySql: String = {
    val minCols = (0 until SrcSimK)
      .map(k => s"MIN(${Hashing.affineSql("hs", k)}) AS m$k").mkString(",\n    ")
    val matchSum = (0 until SrcSimK)
      .map(k => s"(CASE WHEN x.m$k = y.m$k THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH p AS (SELECT source,
       |    ${sentenceSegsSql("text")} AS segs
       |  FROM documents),
       |segs AS (SELECT DISTINCT source, trim(seg) AS seg FROM (
       |    SELECT source, unnest(segs) AS seg FROM p)
       |  WHERE trim(seg) <> ''),
       |h AS (SELECT source, seg, ${Hashing.polyHashSql("seg")} AS hs FROM segs),
       |sig AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_segs,
       |    $minCols
       |  FROM h GROUP BY source),
       |inter AS (SELECT a.source AS source_a, b.source AS source_b,
       |    CAST(COUNT(*) AS BIGINT) AS n_inter
       |  FROM segs a JOIN segs b ON a.seg = b.seg AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT x.source AS source_a, y.source AS source_b,
       |  x.n_segs AS n_a, y.n_segs AS n_b,
       |  COALESCE(i.n_inter, 0) AS n_inter,
       |  x.n_segs + y.n_segs - COALESCE(i.n_inter, 0) AS n_union,
       |  COALESCE(i.n_inter, 0) * 1000000 // (x.n_segs + y.n_segs - COALESCE(i.n_inter, 0)) AS exact_e6,
       |  CAST(($matchSum) * 1000000 // $SrcSimK AS BIGINT) AS est_e6,
       |  CAST(($matchSum) * 1000000 // $SrcSimK AS BIGINT)
       |    - COALESCE(i.n_inter, 0) * 1000000 // (x.n_segs + y.n_segs - COALESCE(i.n_inter, 0)) AS err_e6
       |FROM sig x JOIN sig y ON x.source < y.source
       |LEFT JOIN inter i ON i.source_a = x.source AND i.source_b = y.source
       |ORDER BY source_a, source_b""".stripMargin
  }

  // ---- q195: containment (asymmetric-Jaccard) dedup ----

  val ContainThrE6 = 800000L

  /** q195: CONTAINMENT near-dup pairs — |A∩B| / min(|A|,|B|) >= 0.8
    * over the q22 shingle sets. The asymmetric complement of q22's
    * Jaccard: a short doc fully embedded in a long one (quotes,
    * aggregator pages) scores containment ~ 1 while Jaccard is diluted
    * by the union — the LSH-Ensemble case. `asym` marks pairs q22's
    * own 0.5 gate would have missed; on this corpus every
    * high-containment pair is also high-Jaccard (near-equal-length
    * near-dups), and the ledger REPORTING that absence is the point —
    * a real crawl corpus lights the column up.
    *
    * Scale shape: identical to q22 — df-capped inverted-index join
    * (Sum(df²) bound), sizes doc-keyed; threshold predicate exact
    * integer, ratios single IEEE divisions. */
  def containmentDedup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.containmentPairs(
      graft.operators.Dedup.shingles(reps(s, dir), "text", "doc_id"), "doc_id",
      ContainThrE6, dfCap = Some(JaccardDfCap))
      .select(col("doc_a"), col("doc_b"), col("intersect_n"), col("size_a"),
        col("size_b"), col("min_size"), col("containment_e6"),
        col("jaccard_e6"), col("asym"))
      .orderBy(col("doc_a"), col("doc_b"))

  val containmentDedupSql: String =
    s"""WITH $RepsCte,
       |$ShinglesCte,
       |shc AS (SELECT doc_id, shingle FROM (
       |    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
       |  WHERE df <= $JaccardDfCap),
       |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shc GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(COUNT(*) AS BIGINT) AS intersect_n
       |  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, intersect_n,
       |  sa.sz AS size_a, sb.sz AS size_b,
       |  LEAST(sa.sz, sb.sz) AS min_size,
       |  CAST(ROUND(1000000.0 * (CAST(intersect_n AS DOUBLE) / LEAST(sa.sz, sb.sz))) AS BIGINT) AS containment_e6,
       |  CAST(ROUND(1000000.0 * (CAST(intersect_n AS DOUBLE) / (sa.sz + sb.sz - intersect_n))) AS BIGINT) AS jaccard_e6,
       |  intersect_n * 2 < sa.sz + sb.sz - intersect_n AS asym
       |FROM inter
       |JOIN sizes sa ON doc_a = sa.doc_id
       |JOIN sizes sb ON doc_b = sb.doc_id
       |WHERE intersect_n * 1000000 >= LEAST(sa.sz, sb.sz) * $ContainThrE6
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- q201: Jaccard dedup-threshold operating curve ----

  val JaccardCurveThrE6: Seq[Long] = Seq(300000L, 500000L, 700000L)

  /** q201: the CHOOSE-THRESHOLD curve for near-dup dedup — the q22
    * pair machinery evaluated at Jaccard gates 0.3 / 0.5 / 0.7: per
    * threshold the surviving pair count, the documents touched by at
    * least one pair (the mass a keep-one-per-cluster pass would
    * thin), and the touched-doc rate. Lower gates delete more and
    * risk false merges; the curve prices that before a corpus-wide
    * dedup commits. Operating-curve family (q160/q180/q194/q197/q200)
    * on the dedup axis.
    *
    * Scale shape: the candidate pair table (df-capped inverted-index
    * join, threshold-free) computes ONCE; per-doc max-Jaccard is one
    * doc-keyed agg over its two directions; all three gates price as
    * conditional sums in a single aggregation — nothing is re-joined
    * per threshold. */
  def jaccardCurve(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.stage(Dedup.containmentPairs(
      Dedup.shingles(reps(s, dir), "text", "doc_id"), "doc_id",
      0L, dfCap = Some(JaccardDfCap))
      .select(col("doc_a"), col("doc_b"), col("jaccard_e6")))
    val docMax = pairs.select(col("doc_a").as("doc_id"), col("jaccard_e6"))
      .union(pairs.select(col("doc_b").as("doc_id"), col("jaccard_e6")))
      .groupBy(col("doc_id")).agg(max(col("jaccard_e6")).as("max_j"))
    val nDocs = reps(s, dir).agg(count(lit(1)).as("n_docs"))
    val thr = s.createDataFrame(JaccardCurveThrE6.map(Tuple1(_))).toDF("thr_e6")
    val pairCounts = pairs.crossJoin(broadcast(thr))
      .groupBy(col("thr_e6"))
      .agg(sum(when(col("jaccard_e6") >= col("thr_e6"), 1L).otherwise(0L)).as("n_pairs"))
    val docCounts = docMax.crossJoin(broadcast(thr))
      .groupBy(col("thr_e6"))
      .agg(sum(when(col("max_j") >= col("thr_e6"), 1L).otherwise(0L)).as("n_docs_affected"))
    pairCounts.join(docCounts, Seq("thr_e6"))
      .crossJoin(broadcast(nDocs))
      .withColumn("affected_rate_e6", expr("n_docs_affected * 1000000 div n_docs"))
      .select(col("thr_e6"), col("n_pairs"), col("n_docs_affected"),
        col("n_docs"), col("affected_rate_e6"))
      .orderBy(col("thr_e6"))
  }

  val jaccardCurveSql: String = {
    val thrs = JaccardCurveThrE6.mkString("[", ", ", "]")
    s"""WITH $RepsCte,
       |$ShinglesCte,
       |shc AS (SELECT doc_id, shingle FROM (
       |    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
       |  WHERE df <= $JaccardDfCap),
       |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shc GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(COUNT(*) AS BIGINT) AS i
       |  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS MATERIALIZED (SELECT doc_a, doc_b,
       |    CAST(ROUND(1000000.0 * (CAST(i AS DOUBLE) / (sa.sz + sb.sz - i))) AS BIGINT) AS jaccard_e6
       |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id),
       |dm AS (SELECT doc_id, CAST(MAX(jaccard_e6) AS BIGINT) AS max_j FROM (
       |    SELECT doc_a AS doc_id, jaccard_e6 FROM pairs
       |    UNION ALL SELECT doc_b AS doc_id, jaccard_e6 FROM pairs)
       |  GROUP BY doc_id),
       |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM reps),
       |pc AS (SELECT CAST(t.thr_e6 AS BIGINT) AS thr_e6,
       |    CAST(SUM(CASE WHEN jaccard_e6 >= t.thr_e6 THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
       |  FROM pairs CROSS JOIN UNNEST($thrs) AS t(thr_e6) GROUP BY 1),
       |dc AS (SELECT CAST(t.thr_e6 AS BIGINT) AS thr_e6,
       |    CAST(SUM(CASE WHEN max_j >= t.thr_e6 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_affected
       |  FROM dm CROSS JOIN UNNEST($thrs) AS t(thr_e6) GROUP BY 1)
       |SELECT pc.thr_e6, pc.n_pairs, dc.n_docs_affected, nd.n_docs,
       |  dc.n_docs_affected * 1000000 // nd.n_docs AS affected_rate_e6
       |FROM pc JOIN dc ON pc.thr_e6 = dc.thr_e6 CROSS JOIN nd
       |ORDER BY pc.thr_e6""".stripMargin
  }

  // ---- q251: simhash hamming-radius operating curve ----

  /** The radius arms swept by q251 — up to maxHamming; by pigeonhole
    * the 3x8-bit band join has FULL recall at r <= 2 (two flipped
    * bits can spoil at most two of three bands), so r = 3 is the
    * first arm that can lose pairs: the number the curve exists to
    * measure. */
  val SimhashSweepRadius = 3

  /** q251: the RADIUS operating curve of the q24 simhash band index —
    * q180 sweeps MinHash band geometry, q201 the jaccard threshold,
    * q249/q250 the dense-index knobs; this closes the family for the
    * bit-sketch near-dup machinery: per hamming radius r in {1,2,3},
    * the TRUE distinct-value pair count within r (exact, via the
    * 2,324-mask hamming-ball expansion join — never an all-pairs)
    * vs the pairs the banded join surfaces, with the band-candidate
    * volume as the cost axis. The r <= 2 arms must read recall 1.0
    * (pigeonhole anchor, spec-pinned); r = 3's shortfall is what
    * tuning bands-vs-radius trades. */
  def simhashSweep(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashRadiusCurve(
      Dedup.simhash(reps(s, dir), "text", "doc_id"), "doc_id",
      SimhashSweepRadius)

  val simhashSweepSql: String = {
    val votes = (0 until Dedup.SimhashBits)
      .map(j => s"CAST(SUM(((h >> $j) & 1) * 2 - 1) AS BIGINT) AS v$j")
      .mkString(",\n    ")
    val bits = (0 until Dedup.SimhashBits)
      .map(j => s"(CASE WHEN v$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    val width = Dedup.SimhashBits / Dedup.SimhashBandCount
    val bandSelects = (0 until Dedup.SimhashBandCount)
      .map(b => s"SELECT simhash, $b AS band_id, (simhash >> ${width * b}) & ${(1L << width) - 1} AS band_val FROM vals")
      .mkString("\n  UNION ALL ")
    val radii = (1 to SimhashSweepRadius).map(r => s"($r)").mkString(", ")
    s"""WITH $RepsCte,
       |stok AS (SELECT DISTINCT doc_id, tok FROM
       |  (SELECT doc_id, unnest($ToksSql) AS tok FROM reps)),
       |hashed AS (SELECT doc_id, ${Hashing.polyHashSql("tok")} AS h FROM stok),
       |votes AS (SELECT doc_id,
       |    $votes
       |  FROM hashed GROUP BY doc_id),
       |sims AS (SELECT doc_id, $bits AS simhash FROM votes),
       |vals AS (SELECT DISTINCT simhash FROM sims),
       |bitpos AS (SELECT unnest(range(0, ${Dedup.SimhashBits})) AS i),
       |m1 AS (SELECT CAST(1 AS BIGINT) << i AS mask, 1 AS r FROM bitpos),
       |m2 AS (SELECT (CAST(1 AS BIGINT) << a.i) | (CAST(1 AS BIGINT) << b.i) AS mask, 2 AS r
       |  FROM bitpos a, bitpos b WHERE a.i < b.i),
       |m3 AS (SELECT (CAST(1 AS BIGINT) << a.i) | (CAST(1 AS BIGINT) << b.i) | (CAST(1 AS BIGINT) << c.i) AS mask, 3 AS r
       |  FROM bitpos a, bitpos b, bitpos c WHERE a.i < b.i AND b.i < c.i),
       |masks AS (SELECT * FROM m1 UNION ALL SELECT * FROM m2 UNION ALL SELECT * FROM m3),
       |truth AS (SELECT m.r FROM vals v CROSS JOIN masks m
       |  JOIN vals w ON w.simhash = xor(v.simhash, m.mask)
       |  WHERE v.simhash < w.simhash),
       |bands AS (
       |  $bandSelects),
       |cand AS (SELECT DISTINCT a.simhash AS sim_a, b.simhash AS sim_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.simhash < b.simhash),
       |ch AS (SELECT CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming FROM cand),
       |nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_values FROM vals),
       |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM ch),
       |sw AS (SELECT radius FROM (VALUES $radii) t(radius))
       |SELECT CAST(s.radius AS BIGINT) AS radius, nv.n_values,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM truth WHERE r <= s.radius) AS n_true,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ch WHERE hamming <= s.radius) AS n_found,
       |  CASE WHEN (SELECT COUNT(*) FROM truth WHERE r <= s.radius) = 0 THEN CAST(1000000 AS BIGINT)
       |    ELSE CAST(ROUND(((SELECT CAST(COUNT(*) AS DOUBLE) FROM ch WHERE hamming <= s.radius)
       |      / (SELECT COUNT(*) FROM truth WHERE r <= s.radius)) * 1000000.0) AS BIGINT) END AS recall_e6,
       |  nc.n_candidates
       |FROM sw s CROSS JOIN nv CROSS JOIN nc
       |ORDER BY radius""".stripMargin
  }

  // ---- q258: the pair machinery at a NON-default Jaccard gate ----

  /** The q258 gate: 0.7 — the strict end of q201's operating curve. */
  val TunedThrE6 = 700000L

  /** q258: q22's near-dup pair machinery run at Jaccard >= 0.7 —
    * `thrE6` threaded end-to-end through [[Dedup.jaccardPairs]]
    * (q201 PRICES the 0.3/0.5/0.7 curve; this gates that the
    * production operator actually APPLIES a tuned verdict: the
    * threshold predicate, the prefix length |x| − ⌈t·|x|⌉ + 1 and
    * the banded length bound min ≥ t·max all re-derive from t, all
    * three shapes spec-pinned identical at t ∈ {0.3, 0.7}).
    *
    * Scale shape: identical to q22 — same df-capped inverted join,
    * same dispatch (prefix/banded auto verdicts apply at ANY t); the
    * only change is the integer gate constants. */
  def ngramJaccardTuned(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(Dedup.shingles(reps(s, dir), "text", "doc_id"), "doc_id",
      dfCap = Some(JaccardDfCap), thrE6 = TunedThrE6)
      .select(col("doc_a"), col("doc_b"), col("intersect_n"), col("size_a"),
        col("size_b"), col("union_n"), col("jaccard_e6"))
      .orderBy(col("doc_a"), col("doc_b"))

  val ngramJaccardTunedSql: String =
    s"""WITH $RepsCte,
       |$ShinglesCte,
       |shc AS (SELECT doc_id, shingle FROM (
       |    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
       |  WHERE df <= $JaccardDfCap),
       |sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM shc GROUP BY doc_id),
       |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS intersect_n
       |  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |j AS (SELECT doc_a, doc_b, intersect_n,
       |    sa.set_size AS size_a, sb.set_size AS size_b,
       |    sa.set_size + sb.set_size - intersect_n AS union_n
       |  FROM pairs JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, intersect_n, size_a, size_b, union_n,
       |  CAST(ROUND(1000000.0 * (CAST(intersect_n AS DOUBLE) / CAST(union_n AS DOUBLE))) AS BIGINT) AS jaccard_e6
       |FROM j WHERE intersect_n * 1000000 >= union_n * $TunedThrE6
       |ORDER BY doc_a, doc_b""".stripMargin

  val queries: Map[String, Q] = Map(
    "q258_jaccard_tuned" -> (ngramJaccardTuned _),
    "q251_simhash_sweep" -> (simhashSweep _),
    "q195_containment" -> (containmentDedup _),
    "q201_jaccard_curve" -> (jaccardCurve _),
    "q21_dedup_exact" -> (dedupExact _),
    "q22_ngram_jaccard" -> (ngramJaccard _),
    "q23_minhash_lsh" -> (minhashLsh _),
    "q24_simhash" -> (simhashPairs _),
    "q67_dedup_clusters" -> (dedupClusters _),
    "q159_rep_selection" -> (repSelection _),
    "q178_source_minhash" -> (sourceSimilarity _))

  val oracles: Map[String, String] = Map(
    "q258_jaccard_tuned" -> ngramJaccardTunedSql,
    "q251_simhash_sweep" -> simhashSweepSql,
    "q195_containment" -> containmentDedupSql,
    "q201_jaccard_curve" -> jaccardCurveSql,
    "q21_dedup_exact" -> dedupExactSql,
    "q22_ngram_jaccard" -> ngramJaccardSql,
    "q23_minhash_lsh" -> minhashLshSql,
    "q24_simhash" -> simhashPairsSql,
    "q67_dedup_clusters" -> dedupClustersSql,
    "q159_rep_selection" -> repSelectionSql,
    "q178_source_minhash" -> sourceSimilaritySql)
}
