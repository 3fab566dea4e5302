package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Fleet diagnostic: for every SparkEntry query, how much of its
  * executor time runs in LOW-PARALLELISM stages (1-2 tasks on a
  * many-core box)? A single-row-group parquet scan cannot be split, so
  * per-row-expensive chains sitting directly on a small scan serialize
  * on one core — this finds them fleet-wide.
  * Usage: runMain graft.StageScan [sfDir] [minSerialMs]
  */
object StageScan {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val minSerialMs = if (args.length > 1) args(1).toLong else 300L
    val spark = Sessions.builder("32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val stages = new scala.collection.mutable.ArrayBuffer[(Long, Int)]() // (runtimeMs, nTasks)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.synchronized {
          stages += ((e.stageInfo.taskMetrics.executorRunTime, e.stageInfo.numTasks))
        }
    })
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      stages.synchronized(stages.clear())
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        println(s"[stagescan] $name ERROR ${e.getMessage.take(60)}"); }
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      Thread.sleep(150)
      val (serial, total) = stages.synchronized {
        (stages.filter(_._2 <= 2).map(_._1).sum, stages.map(_._1).sum)
      }
      if (serial >= minSerialMs)
        println(f"[stagescan] $name%-28s wall $wall%6.2f s  serialMs $serial%6d / totalMs $total%6d (${100.0 * serial / math.max(1, total)}%.0f%%)")
    }
    spark.stop()
  }
}
