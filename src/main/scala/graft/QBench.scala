package graft

/** Time a single SparkEntry query: runMain graft.QBench <name> [sfDir] [reps].
  * Materializes via noop write, prints seconds per rep — the scalpel for
  * profiling one query without the full Bench sweep. */
object QBench {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Sessions.builder("32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    (1 to reps).foreach { r =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[qbench] $name rep $r: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
