package graft

import org.apache.spark.sql.SparkSession

/** The one local-session recipe: every session in the repo starts here.
  * Callers: the harness mains (Bench, Verify, ABBench, ScaleBench,
  * CurationBench, StreamBench), the profilers and plan tools (JobProf,
  * Explain, PlanScan, JaccardProbe), the demos and data tools (BpeDemo,
  * ScaleUp), the test fixture (SparkSpec) and the benchmark harness
  * under perfbench/.
  *
  * The bench must measure the same engine the oracle verifies and the
  * scale runner exercises: a conf that lives in only one main measures
  * a configuration the product path doesn't have (r16 shipped the AQE
  * shuffled-hash-join threshold in Bench alone; r17 hoists it here).
  * Callers layer their own sizing confs (shuffle partitions etc.) on
  * top of the returned builder — later `.config` calls win.
  *
  * `spark.sql.extensions=graft.GraftExtensions` gives every session
  * graft's planner strategy and SQL functions when it is built, so
  * building a query never mutates the session.
  */
object Sessions {
  /** Cores for local[] masters: the driver's scaling measurement sets
    * SPARK_GRAFT_CPUS (it re-runs the bench at a lower core count), so
    * a hard-coded master would ruin that measurement. */
  def cpus(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  def builder(defaultCpus: String = "4"): SparkSession.Builder = {
    val c = cpus(defaultCpus)
    SparkSession.builder()
      .master(s"local[$c]")
      .config("spark.sql.shuffle.partitions", c)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE sort-merge -> shuffled-hash conversion (0 = off upstream):
      // fires only when every MEASURED post-shuffle build partition is
      // under the threshold, so a 100 TB build side keeps its
      // sort-merge plan; when it fires it removes both sides' sorts.
      // r16 ABBench (interleaved, min-of-3): 88.1 -> 85.8 s over the
      // 30 hottest queries; r17 full-sweep A/B at 32 cores, same box
      // back-to-back: 254.6 s (64m) vs 283.3 s (0) — the joins it
      // converts (q206/q207/q229/q233) account for most of the gap.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      // nanosecond timestamps read as longs (see `Tables.events`)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // 8m pages, not the heap-derived 64m: every Tungsten consumer and
      // every broadcast hash relation (kept until GC) holds a page; at 64m
      // CurationFunnelSpec's 500 docs filled 3.9 GB of a 4.1 GB pool.
      .config("spark.buffer.pageSize", "8m")
      // Spark's generated-class cache is one JVM-wide LRU keyed by
      // (context class loader, code), so in local mode a class used on
      // both sides takes two entries: one under the driver thread's
      // loader, one under the executor task's session loader. Measured
      // working sets: a 4-batch ingest stream compiles 108 classes in
      // all, one q253 run 286. At the default 100 entries every steady
      // micro-batch recompiled the 65-69 classes the batch before it had
      // evicted (about 0.5 s a batch), and a second q253 run all 286.
      // Static: read once, when CodeGenerator first initializes.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
  }

  /** `builder` sized for the scale ladder (ScaleBench, CurationBench).
    * AQE picks per-stage parallelism downward from a high initial count
    * instead of pinning the core count: at 64x data a fixed 32 makes
    * every partition sort/spill superlinearly (a real cluster sizes
    * partitions to the data), and AQE coalesces the small stages back
    * to cheap. local[32] wants finer post-coalesce grains than the
    * 64 MB cluster default, which keeps window/sort stages at full
    * parallelism. SPARK_GRAFT_STAGING_DIR, when set, is
    * `spark.graft.stagingDir`, for detached runs. */
  def scaleBuilder(defaultCpus: String): SparkSession.Builder = {
    val b = builder(defaultCpus)
      .config("spark.sql.shuffle.partitions", "512")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
    sys.env.get("SPARK_GRAFT_STAGING_DIR")
      .fold(b)(b.config(graft.operators.Dedup.StagingDirConf, _))
  }
}
