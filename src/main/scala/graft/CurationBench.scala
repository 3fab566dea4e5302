package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end scale bench for the composed [[CurationPipeline]] — the
  * artifact a user actually ships (`curateExtended`: exact dedup ->
  * line dedup -> quality/LM gate -> decontaminate -> near-dup cluster
  * -> dup-gram filter -> DSIR -> epoch shuffle -> packing). Every
  * stage is individually benched in SURVEY §5; this measures the
  * COMPOSITION, where the multi-consumer staging either pays or
  * re-scans, and prints ONE JSON line with total wall-clock and the
  * per-stage breakdown.
  *
  * Usage: runMain graft.CurationBench <docsDir> [mode]
  *  - mode `stages` (default): materialize each stage of
  *    [[CurationPipeline.curateExtendedStages]] in order through a
  *    noop sink. With staging active each stage's localCheckpoint is
  *    reused by its consumers, so write k's wall-clock is stage k's
  *    INCREMENTAL cost and the sum is the end-to-end total.
  *  - mode `fused`: one `curateExtended` call -> one noop write (no
  *    per-stage attribution — the A/B total for the staged walk).
  * Env knobs (same convention as ScaleBench):
  *  - SPARK_GRAFT_STAGE_MIN_BYTES -> spark.graft.stageMinInputBytes
  *    (0 forces staging ON, a huge value forces it OFF — the A/B
  *    switch for the multi-consumer staging verdict)
  *  - SPARK_GRAFT_STAGING_DIR -> spark.graft.stagingDir (parquet
  *    staging instead of localCheckpoint)
  *  - SPARK_GRAFT_CUR_TAIL_MILLI -> the LM-surprisal cut (milli-bits/
  *    token; corpus-relative — see the site comment)
  *  - SPARK_GRAFT_CUR_TAIL_PCT -> derive the cut as the corpus's own
  *    exact percentile instead (the shipped q256 self-tuning mode;
  *    overrides TAIL_MILLI)
  *  - SPARK_GRAFT_CUR_DUP_PCT -> derive the REPETITION cut as a
  *    corpus percentile too (the q257 rule, Config.dupTailPct) —
  *    with both pct knobs the quality gate is fully self-tuning
  *  - SPARK_GRAFT_CUR_COUNTS=1 -> also report per-stage survivor
  *    counts (stages mode; counted after timing, over the staged
  *    frames)
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
    require(args.nonEmpty, "usage: CurationBench <docsDir> [stages|fused]")
    val dir = args(0)
    val mode = if (args.length > 1) args(1) else "stages"
    val spark = Sessions.builder("32")
      // same AQE sizing rationale as ScaleBench: high initial count,
      // AQE coalesces small stages back down
      .config("spark.sql.shuffle.partitions", "512")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sys.env.get("SPARK_GRAFT_STAGE_MIN_BYTES").foreach { v =>
      spark.conf.set(graft.operators.Dedup.StageMinInputBytesConf, v)
    }
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
    // cut the worst few percent): the pipeline default (5200, sized to
    // the template gate corpora at ~3-4k milli-bits/token) sits BELOW
    // the zipf rungs' ~10.5 bits/token mean and would cut everything,
    // so scale runs pass the rung's own tail here
    val tailMilli = sys.env.get("SPARK_GRAFT_CUR_TAIL_MILLI")
      .map(_.toLong).getOrElse(5200L)
    // SPARK_GRAFT_CUR_TAIL_PCT engages the pipeline's own
    // corpus-relative percentile mode (q256's rule) instead of the
    // manual milli value — the self-tuning form a scale run wants
    val tailPct = sys.env.get("SPARK_GRAFT_CUR_TAIL_PCT").map(_.toInt)
    // SPARK_GRAFT_CUR_DUP_PCT engages the corpus-relative REPETITION
    // cut (q257's rule — Config.dupTailPct): with both pct knobs set
    // the quality gate is fully self-tuning, no corpus-sized constant
    // left
    val dupPct = sys.env.get("SPARK_GRAFT_CUR_DUP_PCT").map(_.toInt)

    val t0 = System.nanoTime()
    val stages = CurationPipeline.curateExtendedStages(docs, evalPred, segs,
      dsirTarget, surprisalTailMilli = tailMilli, surprisalTailPct = tailPct,
      cfg = CurationPipeline.Config(dupTailPct = dupPct))
    val stageTimes: Seq[(String, Double)] = mode match {
      case "fused" =>
        stages.last._2().write.format("noop").mode("overwrite").save()
        Seq("fused_total" -> (System.nanoTime() - t0) / 1e9)
      case _ =>
        stages.map { case (name, thunk) =>
          val ts = System.nanoTime()
          thunk().write.format("noop").mode("overwrite").save()
          val t = (System.nanoTime() - ts) / 1e9
          System.err.println(f"[curationbench] $name: $t%.2f s")
          name -> t
        }
    }
    val totalS = (System.nanoTime() - t0) / 1e9
    // survivor counts OUTSIDE the timed section (stages mode only:
    // each staged frame is already materialized, so the recount rides
    // the checkpoints) — the context that says which stages did work
    val rowsJson =
      if (mode != "fused" && sys.env.get("SPARK_GRAFT_CUR_COUNTS").contains("1"))
        stages.map { case (name, thunk) => "\"" + name + s"""\":${thunk().count()}""" }
          .mkString(""","rows":{""", ",", "}")
      else ""
    val stagesJson = stageTimes
      .map { case (k, v) => "\"" + k + f"""\":$v%.2f""" }
      .mkString("{", ",", "}")
    println(f"""{"mode":"$mode","dir":"$dir","total_s":$totalS%.1f,""" +
      tailPct.map(p => s""""tail_pct":$p,""")
        .getOrElse(f""""tail_milli":$tailMilli,""") +
      dupPct.map(p => s""""dup_pct":$p,""").getOrElse("") +
      s""""stages":$stagesJson$rowsJson}""")
    spark.stop()
  }
}
