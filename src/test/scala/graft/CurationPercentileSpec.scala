package graft

import org.apache.spark.sql.functions._

import graft.operators.Curation

/** Pins [[CurationPipeline.valueTailThreshold]] on milli-bits — the
  * corpus-relative LM-tail rule (exact integer-rank percentile over
  * the surprisal frame) — against an independent driver-side
  * computation: sort every doc's milli-bits value, and for each pct
  * take the smallest value whose 1-based ascending rank r satisfies
  * r * 100 >= n * pct (PERCENTILE_DISC). Then pins the pipeline
  * wiring: curateExtendedStages in pct mode must cut exactly the docs
  * at/past that threshold, and must equal the fixed-threshold run
  * whose `surprisalTailMilli` is set to the derived value. */
class CurationPercentileSpec extends SparkSpec {

  private def surpOf(docsN: Int) = {
    val docs = Tables.documents(spark, sfDir).limit(docsN)
    Curation.unigramSurprisal(Curation.termCounts(docs, "text", "doc_id"), "doc_id")
  }

  test("derived threshold equals the driver-side order statistic, across pcts") {
    val surp = surpOf(200)
    val values = surp.select(col("milli_bits_per_token"))
      .collect().map(_.getLong(0)).sorted
    val n = values.length
    assert(n > 50) // the statistic must be over a real spread
    for (pct <- Seq(10, 50, 80, 95, 99, 100)) {
      val expected = values(
        values.indices.find(i => (i + 1) * 100 >= n.toLong * pct).get)
      val got = CurationPipeline.valueTailThreshold(surp, "milli_bits_per_token", pct)
        .collect().head.getLong(0)
      assert(got === expected, s"pct=$pct n=$n")
    }
  }

  test("pct mode cuts exactly the at-or-past-threshold docs and equals the fixed run at the derived value") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).limit(300)
    val segs = graft.functions.TextFunctions.sentenceSegs(col("text"))
    val pct = 90
    val pctStages = CurationPipeline.curateExtendedStages(
      docs, col("doc_id") % 97 === 0, segs, surprisalTailPct = Some(pct))
      .toMap
    // the threshold the pipeline must have used: derived over the
    // REWRITTEN frame (stage 2's survivors), not the raw corpus
    val rewritten = pctStages("line_dedup")()
    val surp = Curation.unigramSurprisal(
      Curation.termCounts(rewritten, "text", "doc_id"), "doc_id")
    val thr = CurationPipeline.valueTailThreshold(surp, "milli_bits_per_token", pct)
      .collect().head.getLong(0)
    // every rewritten doc at/past thr is absent downstream; every
    // quality-passing doc below thr is present at stage 3
    val qualIds = pctStages("quality_lm_gate")()
      .select("doc_id").as[Long].collect().toSet
    val byThr = surp.select(col("doc_id"), col("milli_bits_per_token"))
      .as[(Long, Long)].collect()
    assert(byThr.filter(_._2 >= thr).map(_._1).toSet.intersect(qualIds).isEmpty)
    // and the pct run is row-identical to a fixed run at the derived value
    val fixedIds = CurationPipeline.curateExtendedStages(
      docs, col("doc_id") % 97 === 0, segs, surprisalTailMilli = thr)
      .toMap.apply("quality_lm_gate")()
      .select("doc_id").as[Long].collect().toSet
    assert(qualIds === fixedIds)
  }

  test("dup-tail threshold equals the driver-side order statistic, across pcts") {
    val stats = Curation.repetitionStats(
      Tables.documents(spark, sfDir).limit(200), "text", "doc_id")
    val values = stats.select(col("dup_token_e6"))
      .collect().map(_.getLong(0)).sorted
    val n = values.length
    assert(n > 50)
    for (pct <- Seq(10, 50, 80, 95, 99, 100)) {
      val expected = values(
        values.indices.find(i => (i + 1) * 100 >= n.toLong * pct).get)
      val got = CurationPipeline.valueTailThreshold(stats, "dup_token_e6", pct)
        .collect().head.getLong(0)
      assert(got === expected, s"pct=$pct n=$n")
    }
  }

  test("dupTailPct mode cuts exactly the at-or-past-threshold docs and equals the fixed run at the derived value") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).limit(300)
    val segs = graft.functions.TextFunctions.sentenceSegs(col("text"))
    val pct = 80
    val pctStages = CurationPipeline.curateExtendedStages(
      docs, col("doc_id") % 97 === 0, segs,
      cfg = CurationPipeline.Config(dupTailPct = Some(pct)))
      .toMap
    // the threshold the pipeline must have used: derived over the
    // REWRITTEN frame's repetition stats (stage 2's survivors)
    val rewritten = pctStages("line_dedup")()
    val rstats = Curation.repetitionStats(rewritten, "text", "doc_id")
    val thr = CurationPipeline.valueTailThreshold(rstats, "dup_token_e6", pct)
      .collect().head.getLong(0)
    // every rewritten doc at/past thr is absent downstream; the pct
    // run is row-identical to a fixed run at the derived value
    val qualIds = pctStages("quality_lm_gate")()
      .select("doc_id").as[Long].collect().toSet
    val byThr = rstats.select(col("doc_id"), col("dup_token_e6"))
      .as[(Long, Long)].collect()
    assert(byThr.filter(_._2 >= thr).map(_._1).toSet.intersect(qualIds).isEmpty)
    assert(qualIds.nonEmpty)
    val fixedIds = CurationPipeline.curateExtendedStages(
      docs, col("doc_id") % 97 === 0, segs,
      cfg = CurationPipeline.Config(maxDupE6 = thr))
      .toMap.apply("quality_lm_gate")()
      .select("doc_id").as[Long].collect().toSet
    assert(qualIds === fixedIds)
  }
}
