package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.functions.TextFunctions._

/** The deduplication family for LLM-training-data pipelines, all
  * expressed as shuffle-bounded joins/aggregations (never O(n^2) over
  * the corpus):
  *
  *  - exact: content-hash groupBy (the scalable form of the reference's
  *    unique (portal_name, url) ingest index, article_indexes.py:13)
  *  - n-gram Jaccard: shingle inverted-index self-join; candidate work
  *    is Sum(df(shingle)^2), bounded by a document-frequency cap that
  *    drops non-discriminative shingles (they cannot identify near-dups
  *    anyway) — the standard skew kill at 100 TB
  *  - MinHash+LSH: K portable seeded poly-hashes -> banded signatures
  *    -> bucket join; only bucket collisions are compared
  *  - SimHash: one portable hash per token, 16 bit-votes, banded bucket
  *    join + hamming filter via bit_count(xor)
  *
  * Pipelines should run `exact` first and near-dup detection on the
  * surviving representatives — that is how these operators are wired in
  * DedupQueries.
  */
object Dedup {

  /** Spark conf key: when set to a directory, every [[stage]] pin is a
    * parquet stage and all [[scratchDir]] data lives below it. */
  val StagingDirConf = "spark.graft.stagingDir"

  /** Spark local property (per thread) naming the pin scope: the owner
    * (a query, a streamed batch) that releases every pin [[stage]]
    * makes while it is set, and no other owner's ([[withPinScope]]). */
  val PinScope = "graft.pin.scope"

  /** The one materialization point: a pinned frame feeding several
    * consumers (self-join sides, size aggregates, loop rounds) runs
    * once, and its lineage is truncated. Default: `localCheckpoint` —
    * fast, executor-local, NOT fault-tolerant (a lost executor fails
    * the job at 1000-node scale). With `spark.graft.stagingDir` set:
    * an eager parquet stage under [[scratchDir]], which any executor
    * can re-read from shared storage.
    *
    * The pin belongs to the current [[PinScope]], whose owner releases
    * it: the query (`QueryRun`), the streamed batch
    * (`StreamingState.run`), or a loop that [[release]]s round k-1 once
    * round k is pinned. Reading a released checkpoint fails loudly
    * (`CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`), never with wrong rows. */
  def stage(df: DataFrame, eager: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    if (spark.conf.getOption(StagingDirConf).isDefined) return stageParquet(df)
    // named before any job runs, so a failed eager job leaves no
    // unnamed pin that its scope's release would miss
    val pinned = df.localCheckpoint(eager = false)
    val rdds = pinnedRdds(pinned)
    rdds.foreach(_.setName(pinName(spark.sparkContext.getLocalProperty(PinScope))))
    if (eager) rdds.foreach(_.count())
    pinned
  }

  /** Writes `df` to a fresh `stage_` dir under [[scratchDir]] and
    * returns the read-back scan. */
  def stageParquet(df: DataFrame): DataFrame = {
    val path = scratchDir(df.sparkSession, "stage")
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Releases the pins `df` reads: its [[stage]] checkpoints and stage
    * dirs, never a table's files. */
  def release(df: DataFrame): Unit = {
    val spark = df.sparkSession
    pinnedRdds(df).filter(isPinRdd).foreach(_.unpersist(blocking = false))
    df.inputFiles.map(new Path(_).getParent).distinct
      .filter(isStageDir(spark, _)).foreach(deleteScratch(spark, _))
  }

  /** Whether `df` is a bare read of a [[stage]] pin (its checkpoint, or its
    * stage dir under the scratch root), which an operator reads as it is. */
  def isPin(df: DataFrame): Boolean = df.queryExecution.logical match {
    case r: LogicalRDD => isPinRdd(r.rdd)
    case p => p.children.isEmpty && df.inputFiles.nonEmpty &&
      df.inputFiles.forall(f => isStageDir(df.sparkSession, new Path(f).getParent))
  }

  /** Runs `body` in a fresh [[PinScope]] of `owner` on this thread,
    * then releases every pin made in it, and its scratch dir; an outer
    * scope's pins are never touched. */
  def withPinScope[T](spark: SparkSession, owner: String, blocking: Boolean)(body: => T): T = {
    val sc = spark.sparkContext
    val (outer, scope) = (sc.getLocalProperty(PinScope), s"$owner-${java.util.UUID.randomUUID()}")
    sc.setLocalProperty(PinScope, scope)
    try body finally {
      sc.setLocalProperty(PinScope, outer)
      sc.getPersistentRDDs.values.filter(_.name == pinName(scope)).foreach(_.unpersist(blocking))
      deleteScratch(spark, new Path(scratchBase(spark), ScopeDirPrefix + scope))
    }
  }

  /** A fresh `<kind>_<uuid>` scratch dir below `spark.graft.stagingDir`
    * (executor-visible storage on a cluster), else the JVM tmpdir, in
    * the current pin scope's dir if any; deleted at JVM exit at the
    * latest (Hadoop FileSystem delete-on-exit). */
  def scratchDir(spark: SparkSession, kind: String): String = {
    val base = new Path(scratchBase(spark))
    val parent = Option(spark.sparkContext.getLocalProperty(PinScope))
      .fold(base)(s => new Path(base, ScopeDirPrefix + s))
    val dir = new Path(parent, s"${kind}_${java.util.UUID.randomUUID()}")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    fs.deleteOnExit(if (parent == base) dir else parent)
    dir.toString
  }

  private val PinPrefix = "graft.pin"
  private val ScopeDirPrefix = "graft_scope_"
  private def pinName(scope: String): String = s"$PinPrefix[${Option(scope).getOrElse("")}]"
  private def pinnedRdds(df: DataFrame) = df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
  private def isPinRdd(r: org.apache.spark.rdd.RDD[_]) = Option(r.name).exists(_.startsWith(PinPrefix))
  /** A `stage_` dir directly under the scratch root or a scope dir in it. */
  private def isStageDir(spark: SparkSession, d: Path): Boolean = {
    val base = new Path(scratchBase(spark))
    val root = base.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(base)
    d.getName.startsWith("stage_") && (d.getParent == root ||
      d.getParent.getName.startsWith(ScopeDirPrefix) && d.getParent.getParent == root)
  }

  /** The scratch root: `spark.graft.stagingDir`, else the JVM tmpdir. */
  def scratchBase(spark: SparkSession): String =
    spark.conf.getOption(StagingDirConf).getOrElse(System.getProperty("java.io.tmpdir"))

  private def deleteScratch(spark: SparkSession, dir: Path): Unit = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.delete(dir, true)) fs.cancelDeleteOnExit(dir)
  }

  /** Exact dedup: keep the smallest id per content hash. Min-agg +
    * join-back rather than a min-over-window: WindowExec sorts every
    * partition by the key even with no ORDER BY, and that corpus-wide
    * sort is the spill driver at 64x scale — two hash shuffles on the
    * same key are strictly cheaper and AQE-skew-aware. Same rows. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val hashed = df.withColumn("content_key", md5(col(textCol)))
    val keep = hashed.groupBy(col("content_key"))
      .agg(min(col(idCol)).as("keep_id"))
      .withColumnRenamed("content_key", "__ck")
    // null-SAFE key equality: md5(NULL text) is NULL, and a plain
    // equi-join would silently drop every NULL-text row — <=> groups
    // them into one content class (keep one row per id-min), matching
    // the min-over-window form this replaced. EqualNullSafe on the
    // sole key still plans as a hash join.
    hashed.join(keep, col("content_key") <=> col("__ck"))
      .filter(col(idCol) === col("keep_id"))
      .select(df.columns.map(col) :+ col("content_key"): _*)
  }

  /** Distinct (id, shingle) pairs of `n`-token shingles over folded
    * text. The shingle list is built BEFORE an OUTER explode (fewer-
    * than-n-token docs yield null, dropped by a filter on the
    * generated attribute), so no `isnotnull`/`size>0` predicate is
    * inferred on the fold chain and nothing expensive is pushed into
    * the scan filter (see q43's identical guard). */
  def shingles(df: DataFrame, textCol: String, idCol: String, n: Int = 3): DataFrame =
    df.select(col(idCol), tokens(fold(col(textCol))).as("toks"))
      // native one-pass shingle builder (the former transform/concat_ws
      // lambda was CodegenFallback — interpreted per row under every
      // dedup-family corpus scan); fewer-than-n-token docs yield an
      // empty array, whose outer explode emits one null row, dropped
      .select(col(idCol),
        explode_outer(graft.functions.GraftFunctions.tokenShingles(col("toks"), n)).as("shingle"))
      .filter(col("shingle").isNotNull)
      .distinct()

  /** Near-dup pairs by n-gram Jaccard via inverted-index join.
    * The >=0.5 threshold is the integer predicate 2*|A∩B| >= |A∪B| — no
    * float in the filter. `dfCap` drops shingles seen in more docs. */
  /** df-cap as hash-agg + inner join (NOT a count-over-window: the
    * window sorts the whole exploded shingle table by key, which is
    * the spill driver at 64x — see [[exact]]). At scale the surviving shingles
    * are simultaneously DICTIONARY-ENCODED to a dense long id
    * (`monotonically_increasing_id` on the df dim — no sort, so the
    * encode step stays corpus-scale-safe), so every downstream
    * shuffle/join/probe keys on 8-byte longs instead of ~26-byte
    * shingle strings; below [[StageMinInputBytes]] the encode join
    * costs more than it saves and a plain semi-join keeps the string
    * key. Bijective shingle↔sid, identical result rows either way. */
  private def dfCapped(sh: DataFrame, cap: Int, encode: Boolean,
      keepDf: Boolean = false): DataFrame = {
    val df = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap)
    val extra = if (keepDf) Seq(col("df")) else Seq.empty
    if (encode) {
      val dict = df.select((Seq(col("shingle"),
        monotonically_increasing_id().as("sid")) ++ extra): _*)
      sh.join(dict, Seq("shingle"))
        .select(sh.columns.filter(_ != "shingle").map(col) ++
          (col("sid") +: extra): _*)
    } else if (keepDf) sh.join(df, Seq("shingle"))
    else sh.join(df.select(col("shingle")), Seq("shingle"), "left_semi")
  }

  /** Staged (id, join-key, set_size) rows for the inverted-index
    * self-join: the shingle set is materialized once (it feeds the
    * size aggregate plus both join sides, and plan reuse does not fire
    * across joins), and per-doc set sizes are CARRIED THROUGH the join
    * rather than joined back afterwards — the candidate-pair aggregate
    * is ~30% of corpus² on a dense corpus and almost all of it dies on
    * the threshold filter, so re-shuffling it twice against a
    * corpus-sized `sizes` table (which is NOT broadcastable at real
    * scale) was the 64x spill driver. min(size) inside the aggregate
    * recovers the per-doc constant exactly. The size-carrying join is
    * itself corpus-sized, and BOTH self-join sides consume it — so it
    * is staged too (plan reuse does not fire across self-join sides;
    * unstaged, the x16 trajectory re-ran the whole doc_id shuffle join
    * twice and measured 2x slower than the shape it replaced) — but
    * only past [[StageMinInputBytes]] of scan input: materialization
    * has a fixed I/O cost that a small corpus never earns back (the
    * sf0.1 sweep measured 2.3x slower always-staged, the x16/x64
    * trajectory 2x slower never-staged; re-reading the small staged
    * `enc` twice is cheap, so the second stage is the only adaptive
    * one). The size probe reads the plan's parquet file footprint —
    * the same signal a cost-based optimizer keys broadcast decisions
    * on. */
  val StageMinInputBytes: Long = 8L << 20

  /** Spark conf key overriding [[StageMinInputBytes]] (0 forces the
    * at-scale shape everywhere — used by specs to gate both paths). */
  val StageMinInputBytesConf = "spark.graft.stageMinInputBytes"

  /** Scan-input footprint via the Hadoop FileSystem API resolved from
    * each file's own scheme — NOT `java.io.File`, which returns length
    * 0 for every `hdfs://`/`s3a://` URI and would dispatch a 100 TB
    * input to the small-corpus staging shape. */
  private def inputBytes(df: DataFrame): Long = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val files = df.inputFiles.map(new org.apache.hadoop.fs.Path(_))
    // One listStatus per distinct parent dir instead of one
    // getFileStatus RPC per file — object-store listings are cheap and
    // batched where per-file HEADs are not. A file that vanished
    // between planning and the probe (concurrent compaction) counts as
    // 0, it must not fail the dispatch.
    files.groupBy(_.getParent).iterator.map { case (dir, children) =>
      val want = children.map(_.getName).toSet
      try {
        dir.getFileSystem(conf).listStatus(dir).iterator
          .filter(s => want(s.getPath.getName)).map(_.getLen).sum
      } catch { case _: java.io.FileNotFoundException => 0L }
    }.sum
  }

  /** The footprint-keyed shape decision, exposed for call sites that
    * must make a staging choice of their own consistent with
    * [[sizedKeyed]]'s (e.g. whether to stage a shingle stream shared
    * across consumers: staging wins below the threshold where the
    * blocks are RAM-cheap, and loses past it where the checkpoint
    * blocks compete with the candidate-pair shuffle for memory —
    * q128 x16 measured 56s staged vs 33s recomputed). A scan-less
    * plan has an UNKNOWN footprint, not a zero one → at-scale. */
  def atScale(probe: DataFrame): Boolean = {
    val thr = longConf(probe.sparkSession.conf, StageMinInputBytesConf, 0L,
      "a byte count >= 0").getOrElse(StageMinInputBytes)
    probe.inputFiles.isEmpty || inputBytes(probe) >= thr
  }

  /** Spread a SMALL scan across the cluster before per-row-EXPENSIVE
    * work (regex cascades, timestamp parsing, tokenization, codec
    * decode). A parquet scan parallelizes at ROW-GROUP granularity:
    * a table written as one file with one row group scans as ONE task
    * no matter how many cores the cluster has, so an expensive map
    * chain rooted directly on it serializes on one core while the
    * rest idle (measured fleet-wide by `graft.JobProf all`: the
    * single-task scan stage is 90-100% of executor time for the
    * map-shaped queries at gate scale). One round-robin exchange of
    * the (projected — project BEFORE calling this) input unlocks full
    * parallelism.
    *
    * SCALE-ADAPTIVE, not a local-mode constant: the estimated scan
    * split count (bytes + per-file open cost over
    * `spark.sql.files.maxPartitionBytes` — the same arithmetic
    * FilePartition packing uses) is compared to the cluster's
    * default parallelism; an input that already yields >= cores
    * splits returns UNCHANGED, so at 100 TB (many multi-row-group
    * files) this is a no-op and no repartition of a big input can
    * ever be introduced by it. A scan-less input (staged/checkpointed
    * upstream) is already partitioned by its producing shuffle and
    * also returns unchanged. */
  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val files = df.inputFiles
    if (files.isEmpty) return df
    val cores = spark.sparkContext.defaultParallelism
    def bytesConf(key: String, dflt: String): Long =
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.getOption(key).getOrElse(dflt))
    val maxSplit = math.max(1L, bytesConf("spark.sql.files.maxPartitionBytes", "128m"))
    val openCost = bytesConf("spark.sql.files.openCostInBytes", "4m")
    val bytes = inputBytes(df)
    val splits = (bytes + openCost * files.length + maxSplit - 1) / maxSplit
    if (splits >= cores) df else df.repartition(cores)
  }

  private def sizedKeyed(sh: DataFrame, idCol: String, dfCap: Option[Int],
      probeFrom: Option[DataFrame] = None): (DataFrame, String) = {
    // `probeFrom`: the file-backed frame to read the footprint from
    // when `sh` itself is staged (a checkpointed plan exposes no input
    // files). Without a probe, a scan-less plan has an UNKNOWN
    // footprint, not a zero one — default to the at-scale shape (both
    // paths are spec-pinned row-identical; guessing small on a big
    // staged input cost 5x on the x16 ladder, see q128/q180)
    val large = atScale(probeFrom.getOrElse(sh))
    val (plan, key) = dfCap match {
      case Some(cap) => (dfCapped(sh, cap, encode = large), if (large) "sid" else "shingle")
      case None => (sh, "shingle")
    }
    val enc = stage(plan)
    val sizes = enc.groupBy(col(idCol)).agg(count(lit(1)).as("set_size"))
    val withSize = enc.join(sizes, Seq(idCol))
    (if (large) stage(withSize) else withSize, key)
  }

  /** Measured shuffle+sort footprint of ONE candidate pair row through
    * the inverted-join/agg machinery, the constant behind the derived
    * per-pass budget: the r14 zipf-rung calibration (SURVEY §5) put the
    * comfortable per-pass budget at 1.5e8 candidates on a 100 GiB-heap
    * JVM — x64 (vol 1.34e8) ran one-pass in 45 s while x256 (8.89e8)
    * thrashed at 272.5 s and recovered banded at ~1.1e8/pass — i.e.
    * ~700 bytes of per-candidate working set. */
  val AutoBandBytesPerCandidate = 700L

  /** The measured r14 calibration constant (1.5e8 comfortable
    * candidates per pass on the 100 GiB-heap calibration JVM) — the
    * CLUSTER-mode floor of the derived budget: outside local mode
    * `Runtime.maxMemory` is the DRIVER heap, which says nothing about
    * executor-side shuffle room, and a default ~1 GiB driver would
    * derive a ~1.5e6 budget that silently flips at-scale corpora into
    * the sequential banded path. */
  val ClusterBudgetFloor = 150_000_000L

  /** Per-pass candidate-volume budget of the measured banding dispatch
    * (post-cap Σdf², an upper bound on candidate pair rows entering
    * one join pass), overridable via [[AutoBandVolumeConf]]. The
    * default DERIVES from this JVM's heap (maxMemory /
    * [[AutoBandBytesPerCandidate]]) — the budget is per-PASS shuffle
    * volume, so it scales with the memory actually available to hold
    * a pass, which is the knob's documented contract (a real cluster
    * with more aggregate shuffle room raises it proportionally, and a
    * smaller box bands sooner). On the calibration box (100 GiB-heap
    * scale JVMs) the derivation lands at ~1.53e8 — within 2% of the
    * hand constant it replaces, so every measured rung verdict is
    * unchanged: zipf x64 (vol 1.34e8) stays one-pass, zipf x256
    * (8.89e8) stays 6 bands, flat x64 (3.54e9) stays at the cap.
    *
    * The heap derivation is a SINGLE-BOX calibration (in local mode
    * driver heap == executor heap). Outside local mode it is floored
    * at [[ClusterBudgetFloor]] — see [[autoBandVolumeFor]] — and a
    * real deployment should set [[AutoBandVolumeConf]] from its
    * aggregate executor shuffle memory. */
  def autoBandVolumeDefault: Long = {
    val heapDerived =
      math.max(1_000_000L, Runtime.getRuntime.maxMemory() / AutoBandBytesPerCandidate)
    val isLocal = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .forall(_.sparkContext.isLocal)
    autoBandVolumeFor(isLocal, heapDerived)
  }

  /** The mode-keyed default (pure, spec-pinned): local mode trusts the
    * heap derivation (driver == executor); cluster mode floors it at
    * the measured [[ClusterBudgetFloor]] so a small driver heap cannot
    * under-budget executor-side passes. */
  private[graft] def autoBandVolumeFor(isLocal: Boolean, heapDerived: Long): Long =
    if (isLocal) heapDerived else math.max(ClusterBudgetFloor, heapDerived)

  val AutoBandVolumeConf = "spark.graft.jaccardAutoBandVolume"

  /** The effective budget: the conf override (validated — 0 or a
    * negative count would divide-by-zero or nonsense the band sizing)
    * or the heap-derived default. */
  def autoBandVolume(conf: org.apache.spark.sql.RuntimeConfig): Long =
    longConf(conf, AutoBandVolumeConf, 1L, "a positive candidate count")
      .getOrElse(autoBandVolumeDefault)

  /** A count or byte conf, parsed loudly: a malformed or below-`min`
    * value is an IllegalArgumentException naming the key, never a bare
    * NumberFormatException halfway through a query. */
  private def longConf(conf: org.apache.spark.sql.RuntimeConfig, key: String,
      min: Long, legal: String): Option[Long] =
    conf.getOption(key).map { s =>
      val v = try s.trim.toLong catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"$key='$s' — must be $legal")
      }
      require(v >= min, s"$key must be $legal, got $v")
      v
    }

  /** Band-count ceiling of the measured dispatch — MEASURED, not
    * cosmetic (flat x256, SURVEY §5 r15): phase-1 partials hold one
    * row per candidate pair PER BAND it co-occurs in, i.e. min(shared
    * shingles, N) rows per pair, so on heavy-overlap corpora the
    * staged partial footprint grows ~linearly with N — at the r15
    * rung bands=16 completes (1597.8 s) while bands=32 and the
    * cap-lifted ceil(vol/budget)=94 both exhausted a 66 GB scratch
    * disk mid-phase-1 (the 94-band run staged 65 GB of partials
    * before dying). A corpus needing more than 16 bands at the
    * derived budget needs more AGGREGATE memory and disk — raise the
    * budget with real cluster shuffle room (the documented contract),
    * don't stack passes on one box. */
  val MaxAutoBands = 16

  /** The df-shape dispatch signal (see [[jaccardPairs]]): the prefix
    * path wins when the join volume is NOT concentrated in
    * high-df shingles — on the Zipf x16 rung shingles with df >
    * [[HeavyDf]] carry <1% of Σdf² and the prefix filter cut
    * candidates 2700x; on the flat rung they carry ~100% and
    * verification expansion dwarfs the savings (both measured,
    * SURVEY §5). */
  val HeavyDf = 64

  /** What the df-shape probe measures over a df-capped shingle
    * stream: post-cap Σdf² (`vol`, an upper bound on one-pass
    * candidate pair rows), the part of it carried by heavy
    * (df > [[HeavyDf]]) shingles, and the post-cap shingle and row
    * counts. */
  final case class DfShape(vol: Long, heavy: Long, nShingles: Long, nRows: Long)

  /** The df-shape probe: ONE eager aggregate over the df dim the cap
    * computes anyway. An empty post-cap shingle set measures zeros. */
  def dfShape(sh: DataFrame, cap: Int): DfShape = {
    val sq = col("df") * col("df")
    val r = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap)
      .agg(sum(sq), sum(when(col("df") > HeavyDf, sq).otherwise(0L)),
        count(lit(1)), sum(col("df"))).first()
    def at(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    DfShape(at(0), at(1), at(2), at(3))
  }

  /** Band count for a measured volume against the per-pass budget:
    * one pass within budget, else ceil(vol / budget) — at least 2 —
    * capped at [[MaxAutoBands]]. */
  def autoBands(vol: Long, budget: Long): Int =
    if (vol <= budget) 1
    else math.min(MaxAutoBands.toLong, (vol - 1) / budget + 1).toInt

  /** The prefix verdict: prefix filtering wins when the join volume is
    * NOT concentrated in heavy shingles (see [[HeavyDf]]). */
  def prefixWins(vol: Long, heavy: Long): Boolean = vol > 0L && heavy * 2 < vol

  /** The default Jaccard gate (t = 0.5) as an e6-scaled integer — the
    * threshold every call site used before `thrE6` was a parameter. */
  val JaccardThrE6Default = 500000L

  /** Integer threshold predicate J >= t: 1e6·inter >= thrE6·union —
    * exact (no float), and at the 500000 default identical to the
    * historical `2·inter >= union`. */
  private def jaccardGate(thrE6: Long) =
    col("intersect_n") * 1000000L >= col("union_n") * thrE6

  /** Jaccard LENGTH bound for threshold t: J >= t and |A∩B| <= min
    * imply min >= t·max (t = 0.5 ⟹ the historical 2·min >= max) —
    * the prefix-filter lemma's size bound, sound for any t in (0,1]. */
  private def lengthGate(thrE6: Long, sizeA: Column, sizeB: Column) =
    least(sizeA, sizeB) * 1000000L >= greatest(sizeA, sizeB) * thrE6

  private def requireThr(thrE6: Long): Unit =
    require(thrE6 > 0L && thrE6 <= 1000000L,
      s"jaccard thrE6 must be in (0, 1000000], got $thrE6")

  /** Exact Jaccard pairs (J >= `thrE6`/1e6) over a shingle stream, in
    * one of three row-identical shapes (spec-pinned) picked from the
    * input and what it measures, nothing else:
    *  - below the staging threshold ([[atScale]]) or with no df cap:
    *    the one-pass inverted self-join, and no probe is paid (the
    *    gate corpora keep their plan);
    *  - at scale, ONE [[dfShape]] probe decides. A volume over the
    *    per-pass budget ([[autoBandVolume]]) runs
    *    [[jaccardPairsBanded]] with [[autoBands]] bands — banding beats
    *    BOTH one-pass shapes there on wall-clock AND scratch (zipf
    *    x256: 181.7 s banded vs 272.5 s one-pass, SURVEY §5 r14) and
    *    never pays back below it. Within budget, [[prefixWins]] picks
    *    [[jaccardPairsPrefix]] or the one-pass join.
    * A caller that needs one shape calls its entry point; a deployment
    * forces banding (or one pass) at scale by setting
    * [[AutoBandVolumeConf]] to 1 (or Long.MaxValue).
    * `runMain graft.JaccardProbe <docsDir>` prints the probe numbers
    * and the shape they imply. */
  def jaccardPairs(sh: DataFrame, idCol: String, dfCap: Option[Int] = None,
      probeFrom: Option[DataFrame] = None,
      thrE6: Long = JaccardThrE6Default): DataFrame = {
    requireThr(thrE6)
    val budget = autoBandVolume(sh.sparkSession.conf)
    val shape = dfCap.filter(_ => atScale(probeFrom.getOrElse(sh))).map(dfShape(sh, _))
    val nBands = shape.fold(1)(s => autoBands(s.vol, budget))
    if (nBands > 1)
      return bandedPairs(sh, idCol, dfCap, nBands, probeFrom, thrE6, shape.map(_.vol))
    if (shape.exists(s => prefixWins(s.vol, s.heavy)))
      return jaccardPairsPrefix(sh, idCol, dfCap, probeFrom, thrE6)
    val (withSize, key) = sizedKeyed(sh, idCol, dfCap, probeFrom)
    val a = withSize.select(col(idCol).as("doc_a"), col(key), col("set_size").as("size_a"))
    val b = withSize.select(col(idCol).as("doc_b"), col(key), col("set_size").as("size_b"))
    a.join(b, Seq(key))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("intersect_n"),
        min(col("size_a")).as("size_a"), min(col("size_b")).as("size_b"))
      .withColumn("union_n", col("size_a") + col("size_b") - col("intersect_n"))
      .filter(jaccardGate(thrE6))
      .withColumn("jaccard_e6",
        round(lit(1000000.0) *
          (col("intersect_n").cast("double") / col("union_n").cast("double"))).cast("long"))
  }

  /** PPJoin-style PREFIX-FILTERED exact Jaccard (Bayardo et al. WWW'07,
    * Xiao et al. WWW'08) — the candidate-generation upgrade for
    * natural-Zipf corpora: order each document's shingles RAREST-FIRST
    * (df asc, key asc — a per-doc window, bounded by document length)
    * and join only the first ⌊|A|/2⌋+1 of each set. Soundness for
    * t = 0.5 is the prefix-filter lemma: J ≥ 0.5 ⟹ |A∩B| ≥ ⌈|A|/2⌉,
    * and two sets intersecting that much must share an element inside
    * both (|X| − α + 1)-prefixes; the 2·min ≥ max length filter is the
    * same bound on sizes. Surviving candidates are verified EXACTLY:
    * the pair list joins back to both full shingle sets and the true
    * |A∩B| is recounted — so the output is row-identical to
    * [[jaccardPairs]] (spec-pinned).
    *
    * When it wins and when it loses (both measured on x16 rungs,
    * SURVEY §5): on a Zipfian corpus the rare-first prefixes almost
    * never collide — candidates fell 5.8M → 2.1k and the verification
    * expansion is trivial; on the FLAT template corpus every shingle
    * is common, prefixes still collide ~63M times and verification
    * re-expands 12B rows — worse than the plain inverted join. Hence
    * the df-shape dispatch in [[jaccardPairs]] rather than an
    * unconditional switch. */
  def jaccardPairsPrefix(sh: DataFrame, idCol: String, dfCap: Option[Int] = None,
      probeFrom: Option[DataFrame] = None,
      thrE6: Long = JaccardThrE6Default): DataFrame = {
    requireThr(thrE6)
    val large = atScale(probeFrom.getOrElse(sh))
    val cap = dfCap.getOrElse(Int.MaxValue)
    val key = if (large) "sid" else "shingle"
    val enc = stage(dfCapped(sh, cap, encode = large, keepDf = true))
    val sizes = enc.groupBy(col(idCol)).agg(count(lit(1)).as("set_size"))
    val withSize0 = enc.join(sizes, Seq(idCol))
    val withSize = if (large) stage(withSize0) else withSize0
    val w = Window.partitionBy(col(idCol)).orderBy(col("df"), col(key))
    // Bayardo prefix length at threshold t: |x| - ceil(t·|x|) + 1
    // (t = 0.5 ⟹ the historical `set_size div 2 + 1`); ceil of the
    // e6-scaled product as exact integer arithmetic
    val pref = withSize.withColumn("rk", row_number().over(w))
      .filter(col("rk") <=
        expr(s"set_size - ((set_size * $thrE6 + 999999) div 1000000) + 1"))
      .select(col(idCol), col(key), col("set_size"))
    val a = pref.select(col(idCol).as("doc_a"), col(key), col("set_size").as("size_a"))
    val b = pref.select(col(idCol).as("doc_b"), col(key), col("set_size").as("size_b"))
    val cand = a.join(b, Seq(key))
      .filter(col("doc_a") < col("doc_b") &&
        lengthGate(thrE6, col("size_a"), col("size_b")))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(col("size_a")).as("size_a"), min(col("size_b")).as("size_b"))
    val candS = stage(cand)
    val fullA = withSize.select(col(idCol).as("doc_a"), col(key))
    val fullB = withSize.select(col(idCol).as("doc_b"), col(key))
    candS.join(fullA, Seq("doc_a"))
      .join(fullB, Seq("doc_b", key))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("intersect_n"),
        min(col("size_a")).as("size_a"), min(col("size_b")).as("size_b"))
      .withColumn("union_n", col("size_a") + col("size_b") - col("intersect_n"))
      .filter(jaccardGate(thrE6))
      .withColumn("jaccard_e6",
        round(lit(1000000.0) *
          (col("intersect_n").cast("double") / col("union_n").cast("double"))).cast("long"))
  }

  /** Spark conf key: the UNMERGED phase-1 partial-byte threshold that
    * triggers an incremental band-merge fold in [[jaccardPairsBanded]]
    * (`off` disables the merge — the pre-r16 accumulate-all-bands
    * behavior; `0` folds after every band — the spec mode). The fold
    * rewrites the running accumulator once per trigger, so the
    * threshold trades fold I/O (each fold re-reads + re-writes
    * O(distinct pairs)) against peak scratch (acc + threshold + one
    * band): corpora whose total partial volume never reaches it (the
    * zipf rungs) pay ZERO folds.
    *
    * DEFAULT: free scratch at the staging root / 6, floored at 1 GiB
    * ([[JaccardMergeBytesFallback]] when free is unknowable) — fold
    * only as hard as the disk actually demands. Measured at flat x256
    * /16 bands: a fixed 4 GiB threshold folded ~13 times and paid
    * 1.5x wall (2232.9 s vs the 1261.8 s no-merge min) for a 34 GB
    * peak; the disk-derived ~11 GB threshold folds ~4 times — most
    * of the disk win at a fraction of the fold I/O. A box with
    * plentiful scratch correctly folds never. */
  val JaccardMergeBytesConf = "spark.graft.jaccardMergeBytes"

  /** Fallback fold threshold when free scratch is unknowable (a
    * non-local staging scheme with no [[JaccardScratchBytesConf]]
    * override): 4 GiB — conservative, folds early. */
  val JaccardMergeBytesFallback = 4L << 30

  /** Free-scratch divisor of the derived default: peak scratch is
    * ~2 x accumulator + threshold + one band + live shuffle, so the
    * threshold takes 1/6 of free and leaves the rest for the terms
    * the operator cannot bound a priori. */
  val JaccardMergeFreeDivisor = 6L

  /** Free scratch at `root`: the conf override (also the knob for
    * schemes whose capacity the driver cannot stat), else
    * `getUsableSpace` for local paths, else -1 (unknown). */
  def scratchBytes(conf: org.apache.spark.sql.RuntimeConfig,
      root: String): Long =
    longConf(conf, JaccardScratchBytesConf, 0L, "a byte count >= 0").getOrElse {
      val uri = new org.apache.hadoop.fs.Path(root).toUri
      if (uri.getScheme == null || uri.getScheme == "file")
        new java.io.File(uri.getPath).getUsableSpace
      else -1L
    }

  /** The effective fold threshold: conf override ('off' | bytes >= 0),
    * else the disk-derived default (free/6 floored at 1 GiB), else
    * the 4 GiB fallback when free is unknowable. */
  def jaccardMergeBytes(conf: org.apache.spark.sql.RuntimeConfig,
      root: String): Long =
    if (conf.getOption(JaccardMergeBytesConf).contains("off")) Long.MaxValue
    else longConf(conf, JaccardMergeBytesConf, 0L, "'off' or a byte count >= 0").getOrElse {
      val free = scratchBytes(conf, root)
      if (free >= 0) math.max(1L << 30, free / JaccardMergeFreeDivisor)
      else JaccardMergeBytesFallback
    }

  /** Spark conf keys for the banded pre-flight DISK guard: `warn`
    * (default — print the estimate, proceed), `refuse` (throw a typed
    * error with remediation when the estimate exceeds free scratch),
    * `off` (skip the estimate entirely, including its probe).
    * [[JaccardScratchBytesConf]] overrides the free-scratch probe for
    * schemes whose capacity the driver cannot stat (s3a/hdfs) and for
    * specs. */
  val JaccardDiskGuardConf = "spark.graft.jaccardDiskGuard"
  val JaccardScratchBytesConf = "spark.graft.jaccardScratchBytes"

  /** Calibrated partial-table ceiling per unit of post-cap Σdf²: pair
    * slots across all bands ≤ Σ C(df,2) ≈ vol/2, ≈ 16 B per parquet
    * (long,long,long) row ⟹ ~8 B/vol-unit. Against the measured rungs
    * (SURVEY §5): flat x256 vol 1.414e10 ⟹ 113 GB ceiling vs 55.3 GB
    * realized at 16 bands (2.0x conservative — min(s, 16) caps what
    * the ceiling doesn't) and ≥65 GB staged at the 94-band death;
    * zipf x256 vol 8.89e8 ⟹ 7.1 GB vs 2.9-4.0 GB realized. */
  val PartialBytesPerVolUnit = 8L

  /** Peak-scratch estimate of a `bands`-band run over volume `vol`
    * (0 for one pass). With the incremental merge, realized peak is
    * acc + unmerged (≤ threshold + one band) + the fold's rewrite
    * copy; the acc is O(distinct pairs) and not probeable a priori, so
    * the estimate prices the fold machinery (4x `mergeBytes`) plus two
    * bands' worth of the un-merged ceiling, bounded by that ceiling. */
  def peakScratchBytes(vol: Long, bands: Int, mergeBytes: Long): Long = {
    val ceiling = vol * PartialBytesPerVolUnit
    if (bands <= 1) 0L
    else if (mergeBytes == Long.MaxValue) ceiling
    else math.min(ceiling, 4L * mergeBytes + 2L * ceiling / bands)
  }

  /** Pre-flight disk estimate for a banded run (SURVEY §5: the r15
    * 94-band run died of disk 20+ minutes into phase 1 with no
    * warning). Prints one JSON line with the un-merged partial
    * ceiling (vol × [[PartialBytesPerVolUnit]]), the merge-capped
    * working estimate, and free scratch; `refuse` mode throws with
    * remediation instead of letting phase 1 die mid-flight. Free
    * scratch: the conf override, else `getUsableSpace` for local
    * paths, else unknown (-1, never refused on). The volume is the
    * dispatch's measured one when it has it, else one [[dfShape]]. */
  private def preflightDiskGuard(spark: org.apache.spark.sql.SparkSession,
      sh: DataFrame, dfCap: Option[Int], nBands: Int, root: String,
      mergeBytes: Long, measuredVol: Option[Long]): Unit = {
    val conf = spark.conf
    val mode = conf.getOption(JaccardDiskGuardConf).getOrElse("warn")
    require(mode == "off" || mode == "warn" || mode == "refuse",
      s"$JaccardDiskGuardConf='$mode' — legal values: off | warn | refuse")
    if (mode == "off" || dfCap.isEmpty) return
    val vol = measuredVol.getOrElse(dfShape(sh, dfCap.get).vol)
    val ceiling = vol * PartialBytesPerVolUnit
    val est = peakScratchBytes(vol, nBands, mergeBytes)
    val free = scratchBytes(conf, root)
    println(s"""{"jaccard_disk_guard":{"vol":$vol,"bands":$nBands,""" +
      s""""merge_bytes":${if (mergeBytes == Long.MaxValue) -1 else mergeBytes},""" +
      s""""partial_ceiling_bytes":$ceiling,"est_peak_bytes":$est,""" +
      s""""free_scratch_bytes":$free,"root":"$root"}}""")
    if (mode == "refuse" && free >= 0 && est > free)
      throw new IllegalStateException(
        s"banded jaccard pre-flight: estimated peak scratch $est B exceeds " +
          s"free scratch $free B at $root (vol=$vol, bands=$nBands). " +
          s"Remediation: lower $JaccardMergeBytesConf (folds partials sooner), " +
          s"point $StagingDirConf at a larger volume, raise $AutoBandVolumeConf " +
          s"with real cluster shuffle memory (fewer bands), or set " +
          s"$JaccardDiskGuardConf=warn to proceed anyway.")
  }

  /** BOUNDED-MEMORY-AND-DISK exact Jaccard: the inverted-index
    * self-join split into `nBands` SEQUENTIAL shingle bands (band =
    * portable hash of the join key mod nBands). Each shared shingle
    * lands in exactly one band, so per-band co-occurrence counts SUM
    * to the true |A∩B|.
    *
    * Two sequential phases, both bounded:
    *  1. per BAND: the 1/nBands inverted join runs alone, its pair
    *     partials (doc_a, doc_b, cnt — sizes deliberately NOT carried:
    *     they rejoin once at the end, which halves the partial
    *     footprint) aggregate and land on disk partitioned by a
    *     pair-hash SLICE. Whenever the UNMERGED partial footprint
    *     crosses [[jaccardMergeBytes]], an incremental FOLD re-sums
    *     the unmerged bands into a running per-slice (pair, cnt)
    *     accumulator (read + union + re-agg + overwrite per slice —
    *     the epoch-overwrite pattern) and deletes them — so peak
    *     scratch is O(distinct pairs) + the threshold + one band,
    *     not O(pairs × bands);
    *  2. per SLICE: each pair-hash slice reads its fragment from the
    *     accumulator plus any still-unmerged band dirs, sums to true
    *     intersections, joins the broadcast per-doc size dim, applies
    *     the threshold, and appends only the SURVIVORS (tiny at
    *     t = 0.5) to the result dir — so the giant pre-threshold pair
    *     set is never shuffled in one piece and never lives on disk
    *     beyond the partials, which are DELETED before returning.
    *
    * Peak memory = one band's join. Peak disk pre-r16 was the whole
    * partial table — the BAND-COUNT trade's hidden axis: a pair
    * sharing s shingles lands in min(s, nBands) band partials, so on
    * heavy-overlap corpora (the flat template shape) partial volume
    * grows ~linearly with nBands — measured at flat x256 (SURVEY §5
    * r15): 16 bands complete at 55.3 GB of partials within a 66 GB
    * scratch disk, 32 and 94 bands exhaust it mid-phase-1. The
    * incremental fold collapses that axis to O(distinct pairs): each
    * fold pays one accumulator rewrite, and corpora whose partials
    * never reach the threshold (the zipf rungs, ≤ 4 GB total) pay
    * zero. The size dim broadcast here (|docs| rows) is a single-box
    * economy, not a 100 TB claim — a real cluster keeps the one-pass
    * shape (its candidate shuffle spreads over executors).
    * Row-identical to [[jaccardPairs]] (spec-pinned at the gate SFs,
    * fold-every-band forced). */
  def jaccardPairsBanded(sh: DataFrame, idCol: String, dfCap: Option[Int],
      nBands: Int, probeFrom: Option[DataFrame] = None,
      thrE6: Long = JaccardThrE6Default): DataFrame =
    bandedPairs(sh, idCol, dfCap, nBands, probeFrom, thrE6, measuredVol = None)

  private def bandedPairs(sh: DataFrame, idCol: String, dfCap: Option[Int],
      nBands: Int, probeFrom: Option[DataFrame], thrE6: Long,
      measuredVol: Option[Long]): DataFrame = {
    require(nBands >= 2, s"nBands $nBands: use jaccardPairs below 2")
    requireThr(thrE6)
    val spark = sh.sparkSession
    // band partials, fold accumulator and the survivors, which back
    // the returned frame: the dir lives as long as its pin scope
    val dir = scratchDir(spark, "jacc_bands")
    val mergeBytes = jaccardMergeBytes(spark.conf, dir)
    preflightDiskGuard(spark, sh, dfCap, nBands, dir, mergeBytes, measuredVol)
    val (withSize0, key) = sizedKeyed(sh, idCol, dfCap, probeFrom)
    val withSize = withSize0.withColumn("__band", pmod(hash(col(key)), lit(nBands)))
    val sizes = stage(withSize.select(col(idCol), col("set_size")).distinct(), eager = true)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(p: String): Boolean = fs.exists(new Path(p))
    def delete(p: String): Unit = fs.delete(new Path(p), true)
    def dirBytes(p: String): Long =
      if (exists(p)) fs.getContentSummary(new Path(p)).getLength else 0L
    val sizeA = broadcast(sizes.select(col(idCol).as("doc_a"), col("set_size").as("size_a")))
    val sizeB = broadcast(sizes.select(col(idCol).as("doc_b"), col("set_size").as("size_b")))
    // phase 1: sequential per-band partials, sliced by pair hash.
    // Before anything is WRITTEN, the Jaccard length filter prunes
    // pairs that can never qualify (min·1e6 >= max·thrE6 — the
    // jaccardPairsPrefix lemma) — per-pair deterministic, so a pair
    // is dropped in EVERY band or kept in every band and phase-2
    // partial sums stay exact. This is the first disk-wall
    // mitigation the r15 flat-x256 campaign motivated; the
    // incremental fold below is the second (and structural) one. The
    // size columns themselves are still NOT carried into the
    // partials (they rejoin once in phase 2).
    var accDir: Option[String] = None
    var epoch = 0
    val unmerged = scala.collection.mutable.ArrayBuffer[Int]()
    var unmergedBytes = 0L
    // slice fragments of the running accumulator plus the
    // still-unmerged band dirs — the input set of both a fold and
    // the final phase-2 pass
    def sliceParts(sl: Int): Seq[String] =
      (accDir.map(a => s"$a/__slice=$sl").toSeq ++
        unmerged.map(bnd => s"$dir/band=$bnd/__slice=$sl")).filter(exists)
    def fold(): Unit = if (unmerged.nonEmpty) {
      val next = s"$dir/acc_${epoch + 1}"
      (0 until nBands).foreach { sl =>
        val paths = sliceParts(sl)
        if (paths.nonEmpty)
          spark.read.parquet(paths: _*)
            .groupBy(col("doc_a"), col("doc_b"))
            .agg(sum(col("cnt")).as("cnt"))
            .write.mode("overwrite").parquet(s"$next/__slice=$sl")
      }
      accDir.foreach(delete)
      unmerged.foreach(bnd => delete(s"$dir/band=$bnd"))
      accDir = Some(next)
      epoch += 1
      unmerged.clear()
      unmergedBytes = 0L
    }
    (0 until nBands).foreach { bnd =>
      val part = withSize.filter(col("__band") === bnd)
      val a = part.select(col(idCol).as("doc_a"), col(key))
      val b = part.select(col(idCol).as("doc_b"), col(key))
      a.join(b, Seq(key))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("cnt"))
        .join(sizeA, Seq("doc_a")).join(sizeB, Seq("doc_b"))
        .filter(lengthGate(thrE6, col("size_a"), col("size_b")))
        .select(col("doc_a"), col("doc_b"), col("cnt"))
        .withColumn("__slice", pmod(hash(col("doc_a"), col("doc_b")), lit(nBands)))
        .write.partitionBy("__slice").mode("overwrite").parquet(s"$dir/band=$bnd")
      unmerged += bnd
      unmergedBytes += dirBytes(s"$dir/band=$bnd")
      if (unmergedBytes >= mergeBytes) fold()
    }
    // phase 2: sequential per-slice exact totals -> threshold ->
    // survivors, reading the accumulator + any unmerged tail directly
    // (their per-slice union re-sums in the same aggregate — a final
    // fold would be a pure extra rewrite)
    val survDir = s"$dir/surv"
    (0 until nBands).foreach { sl =>
      val paths = sliceParts(sl)
      if (paths.nonEmpty) {
        spark.read.parquet(paths: _*)
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(sum(col("cnt")).as("intersect_n"))
          .join(sizeA, Seq("doc_a")).join(sizeB, Seq("doc_b"))
          .select(col("doc_a"), col("doc_b"), col("intersect_n"),
            col("size_a"), col("size_b"))
          .withColumn("union_n", col("size_a") + col("size_b") - col("intersect_n"))
          .filter(jaccardGate(thrE6))
          .withColumn("jaccard_e6",
            round(lit(1000000.0) *
              (col("intersect_n").cast("double") / col("union_n").cast("double"))).cast("long"))
          .write.mode("overwrite").parquet(s"$survDir/slice=$sl")
      }
    }
    // the pre-threshold partials are dead weight now — reclaim before
    // the caller materializes anything else
    unmerged.foreach(bnd => delete(s"$dir/band=$bnd"))
    accDir.foreach(delete)
    val survPaths = (0 until nBands).map(sl => s"$survDir/slice=$sl")
      .filter(exists)
    if (survPaths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_a", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("doc_b", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("intersect_n", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("size_a", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("size_b", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("union_n", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("jaccard_e6", org.apache.spark.sql.types.LongType))))
    else spark.read.parquet(survPaths: _*)
  }

  /** CONTAINMENT pairs — |A∩B| / min(|A|,|B|) >= `thrE6/1e6` via the
    * same df-capped inverted-index join as [[jaccardPairs]]. The
    * asymmetric complement of Jaccard: a short document fully embedded
    * in a long one (a quote, an aggregator page) has containment ~ 1
    * while Jaccard is diluted by the big union — exactly the pairs the
    * LSH-Ensemble line of work exists for. The threshold predicate is
    * exact integer (`1e6·inter >= thrE6·min`); the reported ratios are
    * single IEEE divisions rounded to e6. `asym` marks the pairs
    * symmetric Jaccard would have missed at its own 0.5 gate. */
  def containmentPairs(sh: DataFrame, idCol: String, thrE6: Long,
      dfCap: Option[Int] = None, probeFrom: Option[DataFrame] = None): DataFrame = {
    val (withSize, key) = sizedKeyed(sh, idCol, dfCap, probeFrom)
    val a = withSize.select(col(idCol).as("doc_a"), col(key), col("set_size").as("size_a"))
    val b = withSize.select(col(idCol).as("doc_b"), col(key), col("set_size").as("size_b"))
    a.join(b, Seq(key))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("intersect_n"),
        min(col("size_a")).as("size_a"), min(col("size_b")).as("size_b"))
      .withColumn("min_size", least(col("size_a"), col("size_b")))
      .filter(col("intersect_n") * 1000000L >= col("min_size") * thrE6)
      .withColumn("containment_e6",
        round(lit(1000000.0) *
          (col("intersect_n").cast("double") / col("min_size").cast("double"))).cast("long"))
      .withColumn("jaccard_e6",
        round(lit(1000000.0) * (col("intersect_n").cast("double") /
          (col("size_a") + col("size_b") - col("intersect_n")).cast("double"))).cast("long"))
      .withColumn("asym", col("intersect_n") * 2 < col("size_a") + col("size_b") - col("intersect_n"))
  }

  val MinhashK = 8

  /** MinHash band count over the K-value signature (4 bands x 2 rows
    * per band). A constant, not a session conf: the q23/q128 oracle SQL
    * is built from it once per JVM, so a per-session value would change
    * the engine's rows but not the oracle's. q180 sweeps other
    * geometries through [[minhashBandsConfig]]. */
  val MinhashBands = 4

  /** K min-hash values per doc: ONE string fold per shingle, K affine
    * family members derived arithmetically. */
  def minhashSignatures(sh: DataFrame, idCol: String): DataFrame = {
    val mins = (0 until MinhashK).map(k =>
      min(Hashing.affine(col("h_base"), k)).as(s"h$k"))
    sh.withColumn("h_base", Hashing.polyHash(col("shingle")))
      .groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** (id, band_id, band_val) — banded LSH signature rows: `nBands`
    * bands of K/nBands rows each. */
  def minhashBands(sig: DataFrame, idCol: String,
      nBands: Int = MinhashBands): DataFrame = {
    require(MinhashK % nBands == 0, s"minhash bands $nBands must divide K=$MinhashK")
    minhashBandsConfig(sig, idCol, nBands, MinhashK / nBands)
  }

  /** `minhashBands` at an explicit (bands × rows-per-band) geometry
    * over the same K-value signature — the knob the q180 sweep turns:
    * more rows per band → higher precision, fewer misses per band →
    * higher recall. Requires bands·rows ≤ K. */
  def minhashBandsConfig(sig: DataFrame, idCol: String, nBands: Int,
      rowsPerBand: Int): DataFrame = {
    require(nBands * rowsPerBand <= MinhashK,
      s"band geometry $nBands x $rowsPerBand exceeds K=$MinhashK")
    val bands = (0 until nBands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      struct(lit(b).as("band_id"), concat_ws("_", cols: _*).as("band_val"))
    }
    sig.select(col(idCol), explode(array(bands: _*)).as("band"))
      .select(col(idCol), col("band.band_id"), col("band.band_val"))
  }

  /** Candidate pairs sharing >=1 LSH band, with the band-agreement count. */
  def minhashCandidates(sig: DataFrame, idCol: String,
      nBands: Int = MinhashBands): DataFrame = {
    val bands = stage(minhashBands(sig, idCol, nBands))
    val a = bands.select(col(idCol).as("doc_a"), col("band_id"), col("band_val"))
    val b = bands.select(col(idCol).as("doc_b"), col("band_id"), col("band_val"))
    a.join(b, Seq("band_id", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(countDistinct(col("band_id")).as("n_bands"))
  }

  /** SimHash geometry: 24 bits (inside the portable hash's 30-bit
    * range) in 3 contiguous 8-bit bands. Constants, not session confs:
    * the q24/q251 oracle SQL is built from them once per JVM. By
    * pigeonhole, B bands guarantee full recall at hamming <= B-1 —
    * q251 measures the radius curve, and [[simhashPairs]] takes
    * another band count as a parameter. */
  val SimhashBits = 24
  val SimhashBandCount = 3

  /** Band width in bits; bands must tile the sketch exactly or two
    * values differing only inside the dropped remainder bits would
    * silently always collide. */
  private def simhashBandWidth(nBands: Int): Int = {
    require(nBands >= 1 && SimhashBits % nBands == 0,
      s"simhash bands $nBands must divide $SimhashBits bits")
    SimhashBits / nBands
  }

  /** 24-bit SimHash per doc: one portable hash per distinct token, bit
    * votes from the hash's binary digits. 24 bits keeps random-pair
    * hamming collisions (<=3) around 1e-4 while staying inside the
    * portable hash's 30-bit range. */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df
      .select(col(idCol), explode(tokens(fold(col(textCol)))).as("tok"))
      .distinct()
      .withColumn("h", Hashing.polyHash(col("tok")))
    val votes = (0 until SimhashBits).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(lit(1L)) * 2 - 1).as(s"v$j"))
    val agg = toks.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val bits = (0 until SimhashBits).map(j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
    agg.select(col(idCol), bits.reduce(_ + _).as("simhash"))
  }

  /** Near-dup SimHash-value pairs: shared 8-bit band then hamming <=
    * maxHamming.
    *
    * The band join runs over DISTINCT simhash VALUES, not documents:
    * similar corpora concentrate many docs on few simhash values, and a
    * doc-level band join goes quadratic in those clusters (measured 10x
    * slowdown on the synthetic corpus). Each value row carries its doc
    * count and min doc id, so cluster membership stays linear — the
    * dictionary-encode-before-quadratic-work rule that holds at 100 TB. */
  def simhashPairs(sims: DataFrame, idCol: String, maxHamming: Int = 3,
      nBands: Int = SimhashBandCount): DataFrame = {
    val width = simhashBandWidth(nBands)
    val values = sims.groupBy(col("simhash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("min_doc"))
    val bandStructs = (0 until nBands).map(b =>
      struct(lit(b).as("band_id"),
        shiftright(col("simhash"), width * b)
          .bitwiseAND(lit((1L << width) - 1)).as("band_val")))
    val banded = stage(values.select(col("simhash"), col("n_docs"), col("min_doc"),
      explode(array(bandStructs: _*)).as("band"))
      .select(col("simhash"), col("n_docs"), col("min_doc"), col("band.band_id"), col("band.band_val")))
    val a = banded.select(col("simhash").as("sim_a"), col("n_docs").as("n_docs_a"),
      col("min_doc").as("min_doc_a"), col("band_id"), col("band_val"))
    val b = banded.select(col("simhash").as("sim_b"), col("n_docs").as("n_docs_b"),
      col("min_doc").as("min_doc_b"), col("band_id"), col("band_val"))
    a.join(b, Seq("band_id", "band_val"))
      .filter(col("sim_a") < col("sim_b"))
      .select(col("sim_a"), col("sim_b"), col("n_docs_a"), col("n_docs_b"),
        col("min_doc_a"), col("min_doc_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
  }

  /** The RADIUS operating curve of the simhash band index — the knob a
    * dedup team tunes for [[simhashPairs]] the way q180 tunes MinHash
    * band geometry and q201 the jaccard threshold: per hamming radius
    * r in 1..`maxRadius`, the TRUE number of distinct-simhash-value
    * pairs within r against the pairs the banded join surfaces at that
    * radius, plus the candidate volume the bands examine (the cost
    * axis, radius-independent). By pigeonhole, `SimhashBandCount`
    * bands of contiguous bits guarantee a shared band for any pair
    * with hamming < bands — so recall at r <= bands-1 must be 1.0
    * (the curve's anchor, spec-pinned) and the first possibly-lossy
    * radius is r = bands.
    *
    * The exact truth does NOT all-pairs the value dictionary: a
    * 24-bit hamming ball of radius 3 holds only C(24,1)+C(24,2)+
    * C(24,3) = 2,324 masks, so truth is an EXPANSION equi-join —
    * values x broadcast masks -> XOR neighbor -> self equi-join —
    * linear in |values| with a 2,324x fan-out, never quadratic. Each
    * unordered pair surfaces exactly once: the connecting mask is
    * unique (m = a XOR b) and the `a < b` filter keeps one side. The
    * same device IS the production alternative to banding when exact
    * radius-r recall is required (multi-index hamming search, as in
    * Manku et al. 2007's simhash dedup at Google scale — the curve
    * quantifies what banding trades away against it). */
  def simhashRadiusCurve(sims: DataFrame, idCol: String,
      maxRadius: Int = 3, nBands: Int = SimhashBandCount): DataFrame = {
    require(maxRadius >= 1 && maxRadius < SimhashBits,
      s"bad radius $maxRadius")
    val s = sims.sparkSession
    val values = stage(sims.groupBy(col("simhash")).agg(count(lit(1)).as("n_docs")))
    // the bounded mask model: every bit pattern with 1..maxRadius set
    // bits over the simhash width (2,324 rows at 24/3)
    val masks = (1 to maxRadius).flatMap { r =>
      (0 until SimhashBits).combinations(r)
        .map(c => (c.map(1L << _).sum, r.toLong))
    }
    import s.implicits._
    val masksDf = masks.toDF("mask", "r")
    val truth = values.select(col("simhash"))
      .crossJoin(broadcast(masksDf))
      .select(col("simhash").bitwiseXOR(col("mask")).as("nb"),
        col("simhash"), col("r"))
      .join(values.select(col("simhash").as("nb")), Seq("nb"))
      .filter(col("simhash") < col("nb"))
      .select(col("r"))
    val cands = simhashPairs(sims, idCol, maxHamming = SimhashBits, nBands)
      .select(col("hamming"))
    // coalesce: sum(when(...)) over an EMPTY truth/candidate set is
    // NULL where the oracle's COUNT(*) subqueries read 0 — a
    // degenerate corpus (no pairs at all) must agree with the oracle
    val t = truth.agg(
      coalesce(sum(when(col("r") <= 1, 1L).otherwise(0L)), lit(0L)).as("t1"),
      (2 to maxRadius).map(R =>
        coalesce(sum(when(col("r") <= R, 1L).otherwise(0L)), lit(0L)).as(s"t$R")): _*)
    val f = cands.agg(
      count(lit(1)).as("n_candidates"),
      (1 to maxRadius).map(R =>
        coalesce(sum(when(col("hamming") <= R, 1L).otherwise(0L)), lit(0L)).as(s"f$R")): _*)
    val nv = values.agg(count(lit(1)).as("n_values"))
    val stacked = (1 to maxRadius)
      .map(R => s"CAST($R AS BIGINT), t$R, f$R").mkString(", ")
    t.crossJoin(broadcast(f)).crossJoin(broadcast(nv))
      .select(expr(s"stack($maxRadius, $stacked) AS (radius, n_true, n_found)"),
        col("n_values"), col("n_candidates"))
      .select(col("radius"), col("n_values"), col("n_true"), col("n_found"),
        when(col("n_true") === 0, lit(1000000L))
          .otherwise(graft.functions.VectorFunctions.e6(
            col("n_found").cast("double") / col("n_true"))).as("recall_e6"),
        col("n_candidates"))
      .orderBy(col("radius"))
  }

  /** Connected components over near-dup pairs: every doc in a pair gets
    * the MINIMUM doc id of its component as `cluster_id` — how a
    * training-data pipeline turns pairwise near-dup hits into dedup
    * groups with one kept representative per group.
    *
    * Iterative min-label propagation: each round every node takes the
    * min of its own label and its neighbors' labels; converges in
    * O(component diameter) rounds (near-dup clusters are shallow).
    * Each round is fully distributed (one join + one aggregate);
    * [[stage]] truncates the growing lineage (the standard Spark
    * iterative pattern; round k-1 is released once round k is pinned)
    * and the driver only evaluates a scalar convergence count. `maxIter` bounds the
    * worst case (a path graph).
    *
    * Shuffle shape (r16): the static edge list is hash-partitioned by
    * `dst` ONCE before the loop (checkpoint preserves the
    * partitioning), and the loop-carried label frame keeps the `node`
    * partitioning its producing join already has — so each round's
    * edge⨝label probe and the label⨝nbrMin merge are both
    * exchange-free, leaving ONE exchange per round (the `src`
    * aggregate) where the naive form re-shuffled the full edge list
    * every round. Each round also probes only the FRONTIER — the
    * labels that changed last round — not the whole label frame: a
    * label can only improve through a neighbor whose label improved
    * (min-propagation is monotone), so round k's probe input is the
    * distance-(k-1) wavefront, which on shallow near-dup clusters
    * collapses after 1-2 rounds instead of re-joining every node's
    * unchanged label until global convergence. Same rows, same round
    * count; strictly less data moved per round. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    val edges = stage(pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .repartition(col("dst")), eager = true)
    var labels = stage(edges.select(col("src").as("node")).distinct()
      .withColumn("lab", col("node")), eager = true)
    // round 1's frontier is every node (initial labels all "changed")
    var frontier = labels
    var iter = 0
    while (iter < maxIter && !frontier.isEmpty) {
      val nbrMin = edges.join(frontier, edges("dst") === frontier("node"))
        .groupBy(col("src")).agg(min(col("lab")).as("nbr_lab"))
      val updated = stage(labels
        .join(nbrMin, labels("node") === nbrMin("src"), "left")
        .select(col("node"), col("lab"),
          least(col("lab"), coalesce(col("nbr_lab"), col("lab"))).as("new_lab")), eager = true)
      // round k is pinned: round k-1 has no reader left
      release(labels)
      // both views below read the pinned round — no recompute
      frontier = updated.filter(col("new_lab") < col("lab"))
        .select(col("node"), col("new_lab").as("lab"))
      labels = updated.select(col("node"), col("new_lab").as("lab"))
      iter += 1
    }
    release(edges)
    labels
  }
}
