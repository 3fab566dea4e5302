package graft

import graft.operators.Dedup

/** Explain-your-dispatch probe for the exact-Jaccard core: prints the
  * df-shape numbers [[Dedup.jaccardPairs]]'s measured dispatch reads
  * (post-cap Σdf² join volume, heavy-shingle share) and the verdicts
  * it derives from them, through the same [[Dedup.dfShape]],
  * [[Dedup.autoBands]], [[Dedup.prefixWins]] and
  * [[Dedup.peakScratchBytes]] — the operability tool for sizing
  * `spark.graft.jaccardAutoBandVolume` / auditing why a corpus took
  * the prefix, plain or banded shape.
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
    val s = Dedup.dfShape(Dedup.shingles(reps, "text", "doc_id"), cap)
    // the budget the ENGINE would use in this JVM: the conf override
    // if set, else the heap-derived default — so the printed verdict
    // matches the actual dispatch on a tuned cluster
    val budget = Dedup.autoBandVolume(spark.conf)
    val bands = Dedup.autoBands(s.vol, budget)
    // the banded pre-flight numbers (SURVEY §5: the r15 94-band run
    // died of disk mid-phase-1 with no warning): the un-merged
    // partial ceiling, what the incremental fold caps it to, and the
    // free scratch the run would see — so an operator can size
    // jaccardMergeBytes/stagingDir BEFORE a 20-minute phase 1
    val root = Dedup.scratchBase(spark)
    val estPeak = Dedup.peakScratchBytes(s.vol, bands,
      Dedup.jaccardMergeBytes(spark.conf, root))
    println(s"""{"dir":"$dir","cap":$cap,"n_shingles":${s.nShingles},""" +
      s""""n_rows":${s.nRows},"vol":${s.vol},"heavy":${s.heavy},""" +
      s""""budget":$budget,""" +
      s""""prefix_wins":${Dedup.prefixWins(s.vol, s.heavy)},""" +
      s""""auto_bands":$bands,""" +
      s""""partial_ceiling_bytes":${s.vol * Dedup.PartialBytesPerVolUnit},""" +
      s""""est_peak_bytes":$estPeak,""" +
      s""""free_scratch_bytes":${Dedup.scratchBytes(spark.conf, root)}}""")
    spark.stop()
  }
}
