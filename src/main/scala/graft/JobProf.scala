package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Job-level profile of one SparkEntry query: construction wall-clock
  * vs execution, per-job durations, and per-stage shuffle volumes —
  * the local[N] stand-in for the Spark UI's Jobs/Stages tabs (no UI in
  * the sandbox). Usage: runMain graft.JobProf <name> [sfDir] [reps].
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Sessions.builder("32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    case class Job(id: Int, desc: String, var ms: Long = -1,
      var start: Long = 0)
    val jobs = new scala.collection.mutable.ArrayBuffer[Job]()
    val stages = new scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Long, Int)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += Job(e.jobId,
          Option(e.properties.getProperty("spark.job.description")).getOrElse(""),
          start = e.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.find(_.id == e.jobId).foreach(j => j.ms = e.time - j.start)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.synchronized {
          val m = e.stageInfo.taskMetrics
          stages += ((e.stageInfo.stageId,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.executorRunTime, e.stageInfo.numTasks))
        }
    }
    spark.sparkContext.addSparkListener(listener)

    (1 to reps).foreach { r =>
      jobs.synchronized(jobs.clear()); stages.synchronized(stages.clear())
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      Thread.sleep(300) // let listener events drain
      println(f"[jobprof] $name rep $r: construct ${(t1 - t0) / 1e9}%.2f s, " +
        f"execute ${(t2 - t1) / 1e9}%.2f s, jobs ${jobs.size}")
      if (r == reps) {
        jobs.foreach(j => println(f"[jobprof]   job ${j.id}%3d ${j.ms}%6d ms  ${j.desc.take(80)}"))
        val totSR = stages.map(_._2).sum / 1e6
        val totSW = stages.map(_._3).sum / 1e6
        val totRun = stages.map(_._4).sum / 1e3
        println(f"[jobprof]   stages ${stages.size}, shuffleRead ${totSR}%.1f MB, " +
          f"shuffleWrite ${totSW}%.1f MB, executorRunTime ${totRun}%.1f s (sum over tasks)")
      }
    }
    spark.stop()
  }
}
