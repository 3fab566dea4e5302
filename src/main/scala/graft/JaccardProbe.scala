package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Explain-your-dispatch probe for the exact-Jaccard core: prints the
  * df-shape numbers [[Dedup.jaccardPairs]]'s auto dispatches read
  * (post-cap Σdf² join volume, heavy-shingle share) and the verdicts
  * they imply for a documents dir — the operability tool for sizing
  * `spark.graft.jaccardBands` / auditing why a corpus took the
  * prefix, plain or banded shape.
  *
  * Usage: runMain graft.JaccardProbe <docsDir> [dfCap]
  */
object JaccardProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JaccardProbe <docsDir> [dfCap]")
    val dir = args(0)
    val cap = if (args.length > 1) args(1).toInt else 1000
    val spark = Sessions.builder("32")
      .config("spark.sql.shuffle.partitions", "512")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // mirror the q22/CurationPipeline input: exact dedup FIRST (the
    // rungs plant exact clones whose df inflation would otherwise
    // distort the shape numbers the real operator never sees)
    val reps = Dedup.exact(Tables.documents(spark, dir), "text", "doc_id")
    val sh = Dedup.shingles(reps, "text", "doc_id")
    val r = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap)
      .agg(sum(col("df") * col("df")).as("vol"),
        sum(when(col("df") > Dedup.HeavyDf, col("df") * col("df"))
          .otherwise(0L)).as("heavy"),
        count(lit(1)).as("n_shingles"),
        sum(col("df")).as("n_rows")).first()
    // an empty post-cap shingle set aggregates to NULLs — report the
    // (0, 0) shape the engine's own probe would read, not an NPE
    val (vol, heavy) =
      if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
    // the budget the ENGINE would use in this JVM: the conf override
    // if set, else the heap-derived default — so the printed verdict
    // matches the actual dispatch on a tuned cluster
    val budget = Dedup.autoBandVolume(spark.conf)
    val bands = if (vol > budget)
      math.min(Dedup.MaxAutoBands.toLong, (vol + budget - 1) / budget) else 1L
    // the banded pre-flight numbers (SURVEY §5: the r15 94-band run
    // died of disk mid-phase-1 with no warning): the un-merged
    // partial ceiling, what the incremental fold caps it to, and the
    // free scratch the run would see — so an operator can size
    // jaccardMergeBytes/stagingDir BEFORE a 20-minute phase 1
    val ceiling = vol * Dedup.PartialBytesPerVolUnit
    val root = spark.conf.getOption(Dedup.StagingDirConf)
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val mergeBytes = Dedup.jaccardMergeBytes(spark.conf, root)
    val estPeak =
      if (bands <= 1) 0L
      else if (mergeBytes == Long.MaxValue) ceiling
      else math.min(ceiling, 4L * mergeBytes + 2L * ceiling / bands)
    val free = Dedup.scratchBytes(spark.conf, root)
    println(s"""{"dir":"$dir","cap":$cap,"n_shingles":${r.getLong(2)},""" +
      s""""n_rows":${if (r.isNullAt(3)) 0L else r.getLong(3)},"vol":$vol,"heavy":$heavy,""" +
      s""""budget":$budget,""" +
      s""""prefix_wins":${vol > 0L && heavy * 2 < vol},""" +
      s""""auto_bands":$bands,""" +
      s""""partial_ceiling_bytes":$ceiling,"est_peak_bytes":$estPeak,""" +
      s""""free_scratch_bytes":$free}""")
    spark.stop()
  }
}
