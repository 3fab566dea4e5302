package graft

/** Job-level profile of SparkEntry queries — the local[N] stand-in for
  * the Spark UI's Jobs/Stages tabs (the UI is disabled). Each rep of
  * each query prints construction vs execution seconds, job and stage
  * counts (jobs also per phase), shuffle volumes, and the query's serial-stage share: the
  * executor time spent in stages of 1-2 tasks. A single-row-group
  * parquet scan cannot be split, so per-row-expensive chains sitting
  * directly on a small scan serialize on one core; `all` finds them
  * fleet-wide. For a single query the last rep also lists its jobs.
  * Every job, stage and shuffle count comes from a [[JobLedger]];
  * `codegen` is the number of generated classes the rep compiled
  * ([[JobLedger.codegenCompiles]]).
  *
  * Usage: runMain graft.JobProf <q|q1,q2,...|all> [sfDir] [reps]
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProf <q|q1,q2,...|all> [sfDir] [reps]")
    val names =
      if (args(0) == "all") SparkEntry.queries.keys.toSeq.sorted else QueryRun.names(args(0))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Sessions.builder("32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    QueryRun.warmup(spark)
    val ledger = JobLedger.attach(spark)

    names.foreach { name =>
      var ok = true // a failed rep fails the query: its later reps are skipped
      for (r <- 1 to reps if ok) {
        ledger.reset()
        val compiled = JobLedger.codegenCompiles
        val run = QueryRun(spark, name, sfDir)
        val all = ledger.tally()
        val codegen = JobLedger.codegenCompiles - compiled
        def phaseJobs(phase: String) = ledger.tally(_.description.contains(s"$name $phase")).jobs
        println(f"[jobprof] $name rep $r: construct ${run.constructS}%.2f s, " +
          f"execute ${run.executeS}%.2f s, jobs ${all.jobs} (construct " +
          f"${phaseJobs("construct")}, execute ${phaseJobs("execute")}), stages ${all.stages}, " +
          f"shuffleRead ${all.shuffleRead / 1e6}%.1f MB, " +
          f"shuffleWrite ${all.shuffleWrite / 1e6}%.1f MB, " +
          f"serialMs ${all.serialRunMs} / totalMs ${all.runMs} " +
          f"(${100.0 * all.serialRunMs / math.max(1L, all.runMs)}%.0f%%), codegen $codegen")
        run.failure.foreach(e => System.err.println(s"[jobprof] $name rep $r failed: $e"))
        ok = run.failure.isEmpty
        if (names.size == 1 && (r == reps || !ok))
          ledger.jobs.foreach(j => println(
            f"[jobprof]   job ${j.id}%3d ${j.ms}%6d ms  ${j.label.description.getOrElse("").take(80)}"))
      }
    }
    spark.stop()
  }
}
