package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.TextFunctions.{fold, tokens}
import graft.operators.Dedup
import graft.queries.ScaleOpsQueries

/** Incremental count-min heavy-hitter counting — q171's streaming
  * form, and the sketch CMS was DESIGNED for: each micro-batch folds
  * its token counts into the 3×32-cell sketch and the running
  * estimates are available without ever holding the vocabulary in
  * state.
  *
  * The counter update is an ABELIAN sum — per-batch (d, cell) partials
  * appended to a parquet log fold to exactly the batch sketch in ANY
  * arrival order or batching (the q166 checksum property; the spec
  * replays two different batchings to the same state). State is
  * sketch-sized (depth × width cells, a few KB) at any corpus size —
  * with the dim-sized drift monitor and the corpus-sized dedup band
  * index, the three streaming state regimes are all represented.
  *
  * Replay idempotency is the batch-keyed contract of [[StreamingState]].
  *
  * Estimates never undercount (CMS guarantee, asserted in the batch
  * q171 gate); a monitor probes `estimates` with any watchlist — the
  * exact top-k, a blocklist, a spike-detection candidate set — at
  * dim cost.
  */
class StreamingCmsCounter(val sketchDir: String) {

  private val cellSchema = StructType(Seq(
    StructField("d", IntegerType),
    StructField("cell", LongType),
    StructField("cnt", LongType)))

  /** The folded sketch over everything seen so far. */
  def sketch(s: SparkSession): DataFrame =
    StreamingState.history(s, sketchDir, cellSchema, None)
      .groupBy(col("d"), col("cell")).agg(sum(col("cnt")).as("cnt"))

  /** One micro-batch: fold the arrivals' token counts into the sketch.
    * Returns this batch's partial counters (what was appended). */
  def processBatch(arrivals: DataFrame, textCol: String,
      batchId: Long): DataFrame = {
    val batchCells = Dedup.stage(ScaleOpsQueries.cmsCounters(
      arrivals
        .select(explode_outer(tokens(fold(col(textCol)))).as("tok"))
        .filter(col("tok").isNotNull)
        .groupBy(col("tok")).agg(count(lit(1)).as("c")))
      .select(col("d").cast("int").as("d"), col("cell"), col("cnt")), eager = true)
    StreamingState.append(batchCells, sketchDir, batchId)
    batchCells
  }

  /** CMS estimates for a (tok) watchlist against the current state. */
  def estimates(s: SparkSession, probes: DataFrame): DataFrame =
    ScaleOpsQueries.cmsEstimates(probes, sketch(s))

  /** Drive a document stream through [[StreamingState.run]]. */
  def run(stream: DataFrame, textCol: String,
      checkpointDir: String): StreamingQuery =
    StreamingState.run(stream, None, checkpointDir)(processBatch(_, textCol, _))
}
