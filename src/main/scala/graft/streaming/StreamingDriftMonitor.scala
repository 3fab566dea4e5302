package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.DataFrame

import graft.operators.Dedup
import graft.queries.CorpusAuditQueries

/** Incremental length-distribution drift monitoring — q162's streaming
  * form, the snapshot-over-snapshot early warning run AT INGEST: each
  * micro-batch of arrivals updates the per-(source, bin) histogram
  * state and re-derives the full KS/TV drift verdict, so a source that
  * starts truncating (or flips from articles to listings) is flagged
  * within one micro-batch of the shape change, not at the next corpus
  * audit.
  *
  * State design: the histogram is DIM-SIZED (sources × ~20 power-of-two
  * bins), so unlike the dedup probes (whose state is corpus-sized and
  * lives in parquet band/member tables) the entire state here fits in a
  * few KB regardless of corpus size — each batch appends its own
  * pre-aggregated (source, bin, c) rows and the verdict re-aggregates
  * the log. Per-batch cost: one map-side bin projection + a hash agg of
  * the batch, then dim-sized work (`CorpusAuditQueries.driftFromBins`,
  * the exact batch-q162 core — the replay spec pins micro-batch
  * equivalence to the batch query on the union).
  *
  * Replay idempotency is the batch-keyed contract of [[StreamingState]].
  */
class StreamingDriftMonitor(val histDir: String) {

  private val histSchema = StructType(Seq(
    StructField("source", StringType),
    StructField("bin", LongType),
    StructField("c_sb", LongType)))

  /** One micro-batch: fold the arrivals' histogram into state and
    * return the drift verdict over everything seen so far (the q162
    * output shape). */
  def processBatch(arrivals: DataFrame, textCol: String,
      sourceCol: String, batchId: Long): DataFrame = {
    val s = arrivals.sparkSession
    val batchBins = Dedup.stage(arrivals
      .select(col(sourceCol).as("source"),
        CorpusAuditQueries.lengthBin(col(textCol)).as("bin"))
      .groupBy(col("source"), col("bin")).agg(count(lit(1)).as("c_sb")), eager = true)
    val folded = StreamingState.history(s, histDir, histSchema, Some(batchId))
      .unionByName(batchBins)
      .groupBy(col("source"), col("bin")).agg(sum(col("c_sb")).as("c_sb"))
    val verdict = Dedup.stage(CorpusAuditQueries.driftFromBins(folded), eager = true)
    StreamingState.append(batchBins, histDir, batchId)
    verdict
  }

  /** Drive a document stream through [[StreamingState.run]], writing each
    * batch's refreshed verdict snapshot (tagged by batch id) to
    * `verdictDir`. */
  def run(stream: DataFrame, textCol: String, sourceCol: String,
      verdictDir: String, checkpointDir: String): StreamingQuery =
    StreamingState.run(stream, Some(verdictDir), checkpointDir) { (batch, batchId) =>
      processBatch(batch, textCol, sourceCol, batchId)
        .withColumn("batch_seq", lit(batchId))
    }
}
