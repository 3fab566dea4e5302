package graft

import org.apache.spark.sql.functions._

import graft.queries.CurationFunnelQueries

/** q253/q256: the composed-pipeline funnel gates. The per-stage operators
  * are spec-pinned in their own suites and oracle-gated individually;
  * what the funnel ADDS is the per-stage aggregation + union wiring,
  * so the spec recomputes every stage's (count, id_sum, payload_sum)
  * by materializing the stage frames independently and asserts the
  * funnel rows match — plus the structural funnel property (survivor
  * counts never grow downstream). */
class CurationFunnelSpec extends SparkSpec {

  test("funnel rows match independently materialized stage aggregates") {
    // q253 (fixed LM-tail cut) and q256 (corpus-relative percentile cut)
    Seq(None, Some(CurationFunnelQueries.TailPct)).foreach(checkFunnel)
  }

  private def checkFunnel(tailPct: Option[Int]): Unit = {
    val out = (tailPct match {
      case None => CurationFunnelQueries.curationFunnel(spark, sfDir)
      case Some(_) => CurationFunnelQueries.curationPctFunnel(spark, sfDir)
    }).collect()
    assert(out.map(_.getAs[String]("stage")).toSeq == Seq(
      "exact_dedup", "line_dedup", "quality_lm_gate", "decontaminate",
      "neardup_cluster", "dupgram_filter", "dsir_select", "shuffle_pack"))
    assert(out.map(_.getAs[Long]("stage_ord")).toSeq == (1L to 8L))

    // independent recomputation: same stage decomposition, aggregated
    // driver-side from the materialized frames instead of the union
    val docs = Tables.documents(spark, sfDir)
    val segs = split(regexp_replace(col("text"), " batch ", ". "), "\\. ")
    val stages = CurationPipeline.curateExtendedStages(
      docs, col("doc_id") % CurationFunnelQueries.EvalMod === 0, segs,
      dsirTarget = Some(col("lang") === "en"),
      seed = CurationFunnelQueries.Seed,
      nShards = CurationFunnelQueries.NShards,
      surprisalTailMilli = CurationFunnelQueries.TailMilli,
      lineMinDf = CurationFunnelQueries.LineMinDf,
      surprisalTailPct = tailPct)
    stages.zip(out).foreach { case ((name, thunk), row) =>
      val at = s"$name (tailPct $tailPct)"
      val rows = thunk().collect()
      assert(row.getAs[Long]("n_docs") == rows.length.toLong, s"n_docs @ $at")
      assert(row.getAs[Long]("id_sum") == rows.map(_.getAs[Long]("doc_id")).sum,
        s"id_sum @ $at")
      val payload =
        if (name == "shuffle_pack") rows.map(_.getAs[Long]("cum_tokens")).sum
        else rows.map(r => Option(r.getAs[String]("text")).fold(0L)(_.length.toLong)).sum
      assert(row.getAs[Long]("payload_sum") == payload, s"payload_sum @ $at")
    }

    // the funnel property: every stage 2..7 filters (or rewrites) the
    // previous survivor set, and the packed stage is the sample subset
    val n = out.map(_.getAs[Long]("n_docs"))
    (1 until 7).foreach(i => assert(n(i) <= n(i - 1), s"stage ${i + 1} grew (tailPct $tailPct)"))
    assert(n(7) <= n(6))
    assert(n(7) > 0, s"packed output is empty (tailPct $tailPct)")
  }
}
