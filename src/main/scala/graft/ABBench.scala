package graft

/** In-JVM A/B bench for runtime SQL confs: runs each query's reps with
  * the conf OFF and ON interleaved inside ONE session, reporting the
  * min per arm — cross-JVM run-to-run noise (JIT, GC, box load) hits
  * both arms equally, which a two-JVM A/B cannot guarantee.
  *
  * Usage: runMain graft.ABBench <k=v[,k=v...]> <q1,q2,...> [sfDir] [reps]
  */
object ABBench {
  def main(args: Array[String]): Unit = {
    val confs = args(0).split(",").map { kv =>
      val Array(k, v) = kv.split("=", 2); (k, v)
    }
    val names = QueryRun.names(args(1))
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val reps = if (args.length > 3) args(3).toInt else 3
    // product session recipe, so the A/B arms run the benched engine
    val spark = Sessions.builder("32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val baseline = confs.map { case (k, _) => k -> spark.conf.getOption(k) }

    def setArm(on: Boolean): Unit =
      if (on) confs.foreach { case (k, v) => spark.conf.set(k, v) }
      else baseline.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }

    setArm(false)
    QueryRun.warmup(spark)

    var sumA = 0.0; var sumB = 0.0
    names.foreach { n =>
      val a = new Array[Double](reps); val b = new Array[Double](reps)
      (0 until reps).foreach { r =>
        setArm(false); a(r) = QueryRun(spark, n, sfDir).seconds
        setArm(true); b(r) = QueryRun(spark, n, sfDir).seconds
      }
      val (ma, mb) = (a.min, b.min)
      sumA += ma; sumB += mb
      println(f"[ab] $n%-28s off $ma%6.2f  on $mb%6.2f  (${mb - ma}%+.2f)")
    }
    println(f"[ab] TOTAL off $sumA%.1f  on $sumB%.1f  (${sumB - sumA}%+.2f)")
    spark.stop()
  }
}
