package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.GraftInternals

/** Job-level profile of SparkEntry queries — the local[N] stand-in for
  * the Spark UI's Jobs/Stages tabs (the UI is disabled). Each rep of
  * each query prints construction vs execution seconds, job and stage
  * counts (jobs also per phase), shuffle volumes, and the query's serial-stage share: the
  * executor time spent in stages of 1-2 tasks. A single-row-group
  * parquet scan cannot be split, so per-row-expensive chains sitting
  * directly on a small scan serialize on one core; `all` finds them
  * fleet-wide. For a single query the last rep also lists its jobs.
  *
  * Usage: runMain graft.JobProf <q|q1,q2,...|all> [sfDir] [reps]
  */
object JobProf {
  private case class Job(id: Int, desc: String, start: Long, var ms: Long = -1)
  private case class Stage(runMs: Long, tasks: Int, shuffleRead: Long, shuffleWrite: Long)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProf <q|q1,q2,...|all> [sfDir] [reps]")
    val names =
      if (args(0) == "all") SparkEntry.queries.keys.toSeq.sorted else QueryRun.names(args(0))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Sessions.builder("32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = ArrayBuffer.empty[Job]
    val stages = ArrayBuffer.empty[Stage]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += Job(e.jobId,
          Option(e.properties.getProperty("spark.job.description")).getOrElse(""), e.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.find(_.id == e.jobId).foreach(j => j.ms = e.time - j.start)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.synchronized {
          val m = e.stageInfo.taskMetrics
          stages += Stage(m.executorRunTime, e.stageInfo.numTasks,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten)
        }
    })
    QueryRun.warmup(spark)
    GraftInternals.drainListenerBus(spark)

    names.foreach { name =>
      var ok = true // a failed rep fails the query: its later reps are skipped
      for (r <- 1 to reps if ok) {
        jobs.synchronized(jobs.clear()); stages.synchronized(stages.clear())
        val run = QueryRun(spark, name, sfDir)
        GraftInternals.drainListenerBus(spark)
        val serialMs = stages.filter(_.tasks <= 2).map(_.runMs).sum
        val totalMs = stages.map(_.runMs).sum
        def phaseJobs(phase: String) = jobs.count(_.desc == s"$name $phase")
        println(f"[jobprof] $name rep $r: construct ${run.constructS}%.2f s, " +
          f"execute ${run.executeS}%.2f s, jobs ${jobs.size} (construct " +
          f"${phaseJobs("construct")}, execute ${phaseJobs("execute")}), stages ${stages.size}, " +
          f"shuffleRead ${stages.map(_.shuffleRead).sum / 1e6}%.1f MB, " +
          f"shuffleWrite ${stages.map(_.shuffleWrite).sum / 1e6}%.1f MB, " +
          f"serialMs $serialMs / totalMs $totalMs " +
          f"(${100.0 * serialMs / math.max(1L, totalMs)}%.0f%%)")
        run.failure.foreach(e => System.err.println(s"[jobprof] $name rep $r failed: $e"))
        ok = run.failure.isEmpty
        if (names.size == 1 && (r == reps || !ok))
          jobs.foreach(j => println(f"[jobprof]   job ${j.id}%3d ${j.ms}%6d ms  ${j.desc.take(80)}"))
      }
    }
    spark.stop()
  }
}
