package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.queries.CurationFunnelQueries

/** End-to-end scale bench for the composed [[CurationPipeline]] — the
  * artifact a user actually ships (`curateExtended`: exact dedup ->
  * line dedup -> quality/LM gate -> decontaminate -> near-dup cluster
  * -> dup-gram filter -> DSIR -> epoch shuffle -> packing). Every
  * stage is individually benched in SURVEY §5; this measures the
  * COMPOSITION and prints ONE JSON line with total wall-clock and the
  * per-stage breakdown.
  *
  * Usage: runMain graft.CurationBench <docsDir>
  *
  * It builds and writes each stage of
  * [[CurationPipeline.curateExtendedStages]] in order through a noop
  * sink. Each multi-consumer frame is a parquet stage written when its
  * stage is built and read by its consumers, so stage k's wall-clock
  * (build + write) is its INCREMENTAL cost and the sum is the
  * end-to-end total.
  * Env knobs (same convention as ScaleBench):
  *  - SPARK_GRAFT_STAGING_DIR -> spark.graft.stagingDir (where the
  *    parquet stages land, instead of the JVM tmpdir)
  *  - SPARK_GRAFT_CUR_TAIL_PCT -> the LM-surprisal cut is the corpus's
  *    own exact percentile (the q256 rule); with neither this nor
  *    TAIL_MILLI set, the q256 percentile
  *    ([[graft.queries.CurationFunnelQueries.TailPct]], 95)
  *  - SPARK_GRAFT_CUR_TAIL_MILLI -> a fixed LM-surprisal cut instead
  *    (milli-bits/token; corpus-relative — see the site comment;
  *    TAIL_PCT overrides it)
  *  - SPARK_GRAFT_CUR_DUP_PCT -> derive the REPETITION cut as a
  *    corpus percentile too (the q257 rule, Config.dupTailPct) —
  *    with both pct knobs the quality gate is fully self-tuning
  *  - SPARK_GRAFT_CUR_COUNTS=1 -> also report per-stage survivor
  *    counts (counted after timing, over the staged frames)
  * The near-dup stage's jaccard shape is measured, not configured
  * (see [[graft.operators.Dedup.jaccardPairs]]), as in ScaleBench.
  *
  * The corpus recipe matches the CurationPipelineSpec end-to-end test
  * shape at scale: eval set = every 97th doc, line segmentation =
  * 12-token windows (positionally aligned across the zipf rungs'
  * planted near-dup pairs, so the line-dedup stage does real work),
  * DSIR target = docs of one source class.
  */
object CurationBench {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: CurationBench <docsDir>")
    val dir = args(0)
    val spark = Sessions.builder("32")
      // same AQE sizing rationale as ScaleBench: high initial count,
      // AQE coalesces small stages back down
      .config("spark.sql.shuffle.partitions", "512")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sys.env.get("SPARK_GRAFT_STAGING_DIR").foreach { d =>
      spark.conf.set(graft.operators.Dedup.StagingDirConf, d)
    }

    val docs = Tables.documents(spark, dir)
    val evalPred = col("doc_id") % 97 === 0
    // 12-token lines over the token stream: one array column, no UDF
    val segs = expr(
      """transform(sequence(0, (size(split(text, ' +')) - 1) div 12),
        |  i -> array_join(slice(split(text, ' +'), i * 12 + 1, 12), ' '))""".stripMargin)
    val dsirTarget = Some(col("doc_id") % 11 === 3)
    // LM-tail threshold is CORPUS-RELATIVE (a 100 TB run tunes it to
    // cut the worst few percent): the pipeline's fixed default (5200,
    // sized to the template gate corpora at ~3-4k milli-bits/token)
    // sits BELOW the scale rungs' mean (the x16 flat rung kept 0 of
    // 77,856 docs; the zipf rungs sit at ~10.5 bits/token), so the
    // default is q256's percentile rule and a fixed cut is opt-in
    val tailMilli = sys.env.get("SPARK_GRAFT_CUR_TAIL_MILLI").map(_.toLong)
    val tailPct = sys.env.get("SPARK_GRAFT_CUR_TAIL_PCT").map(_.toInt)
      .orElse(if (tailMilli.isEmpty) Some(CurationFunnelQueries.TailPct) else None)
    // SPARK_GRAFT_CUR_DUP_PCT engages the corpus-relative REPETITION
    // cut (q257's rule — Config.dupTailPct): with both pct knobs set
    // the quality gate is fully self-tuning, no corpus-sized constant
    // left
    val dupPct = sys.env.get("SPARK_GRAFT_CUR_DUP_PCT").map(_.toInt)

    val t0 = System.nanoTime()
    val stages = CurationPipeline.curateExtendedStages(docs, evalPred, segs,
      dsirTarget, surprisalTailMilli = tailMilli.getOrElse(CurationFunnelQueries.TailMilli),
      surprisalTailPct = tailPct, cfg = CurationPipeline.Config(dupTailPct = dupPct))
    val stageTimes = stages.map { case (name, thunk) =>
      val ts = System.nanoTime()
      thunk().write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - ts) / 1e9
      System.err.println(f"[curationbench] $name: $t%.2f s")
      name -> t
    }
    val totalS = (System.nanoTime() - t0) / 1e9
    // survivor counts OUTSIDE the timed section (each staged frame is
    // already written, so the recount reads the stages) — the context
    // that says which stages did work
    val rowsJson =
      if (sys.env.get("SPARK_GRAFT_CUR_COUNTS").contains("1"))
        stages.map { case (name, thunk) => "\"" + name + s"""\":${thunk().count()}""" }
          .mkString(""","rows":{""", ",", "}")
      else ""
    val stagesJson = stageTimes
      .map { case (k, v) => "\"" + k + f"""\":$v%.2f""" }
      .mkString("{", ",", "}")
    println(f"""{"dir":"$dir","total_s":$totalS%.1f,""" +
      tailPct.map(p => s""""tail_pct":$p,""")
        .getOrElse(s""""tail_milli":${tailMilli.get},""") +
      dupPct.map(p => s""""dup_pct":$p,""").getOrElse("") +
      s""""stages":$stagesJson$rowsJson}""")
    spark.stop()
  }
}
