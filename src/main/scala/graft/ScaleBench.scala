package graft

/** Scale-trajectory bench: times a named query subset against a list
  * of scale directories (the ScaleUp outputs) and prints one JSON line
  * per directory — the raw numbers behind SURVEY §5's trajectory
  * table.
  *
  * Usage: runMain graft.ScaleBench <q1,q2,...> <dir1,dir2,...> [reps]
  * Timing = min over reps of a [[QueryRun]] (same convention as
  * graft.Bench); a failed rep aborts the run.
  *
  * The session is [[Sessions.scaleBuilder]]'s: SPARK_GRAFT_STAGING_DIR
  * -> spark.graft.stagingDir (parquet staging instead of
  * localCheckpoint), SPARK_GRAFT_CPUS (see [[Sessions]]). The near-dup
  * operators pick their jaccard shape
  * (one pass, prefix-filtered or banded) from what they measure on
  * each rung; the only input to that choice is the deployment budget
  * spark.graft.jaccardAutoBandVolume (1 bands every at-scale corpus,
  * Long.MaxValue never bands), which a `spark.*` JVM system property
  * of the run sets like any other session conf.
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleBench <queries> <dirs> [reps]")
    val names = QueryRun.names(args(0))
    val dirs = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Sessions.scaleBuilder("32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // scale runs opt in to occupancy-driven SemDeDup cell refinement
    // (oracle-gate runs keep it off so a cap crossing fails loudly);
    // session-scoped conf, not a JVM-global property
    spark.conf.set(graft.operators.Similarity.AllowCellSplitConf, "true")

    dirs.foreach { dir =>
      val times = names.map { n =>
        val t = (1 to reps).map(_ => QueryRun(spark, n, dir).seconds).min
        System.err.println(f"[scalebench] $dir $n: $t%.2f s")
        n -> t
      }
      val qs = times.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
        .mkString("{", ",", "}")
      println(s"""{"dir":"$dir","queries":$qs,"total":${times.map(_._2).sum}}""")
    }
    spark.stop()
  }
}
