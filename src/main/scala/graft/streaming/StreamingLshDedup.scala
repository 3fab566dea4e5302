package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.DataFrame

import graft.operators.Dedup

/** Incremental MinHash-LSH ingest dedup — the streaming form of q23
  * (reference dedup-on-ingest: servico_coleta_noticias.py checks each
  * arrival against the stored corpus before inserting; here the check
  * is near-duplicate, not just key-exact).
  *
  * Each micro-batch: (1) band-signature the arrivals (q23's exact
  * MinHash/band math — Dedup.minhashSignatures/minhashBands), (2)
  * probe the HISTORICAL band index plus the batch's own bands with
  * one equi-join on (band_id, band_val), (3) emit (doc_a < doc_b,
  * n_bands) candidate verdicts, (4) write the new bands to the
  * index under `batch=<id>`. Replaying any batch partition of a
  * corpus emits exactly the batch `minhashCandidates` verdict on the
  * union (spec-pinned): a pair is emitted in the batch where its
  * LATER member arrives, and never again — later batches probe only
  * their own arrivals.
  *
  * Scale shape: the historical index is an append-only PARQUET table
  * keyed by (band_id, band_val) — corpus-sized state lives on disk
  * where a 100 TB/day stream needs it, NOT in the state store (a
  * RocksDB state holding every band of the corpus is the wrong
  * tool); the per-batch probe is an equi-join whose broadcast side is
  * one micro-batch's bands, so the incremental cost per batch is a
  * banded index seek, not a corpus scan-and-shuffle.
  *
  * Replay idempotency is the batch-keyed contract of [[StreamingState]]. */
class StreamingLshDedup(val indexDir: String) {

  private val bandSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("band_id", IntegerType),
    StructField("band_val", StringType)))

  /** One micro-batch: returns this batch's candidate verdicts
    * (doc_a < doc_b, n_bands — q23's output shape) and writes the
    * batch's bands to the index under `batch=<batchId>` (overwrite —
    * a replay of the same id is idempotent). The verdicts' history
    * is listed before the write and pruned to ids before `batchId`,
    * so the probe never sees its own output; the verdict pin is
    * filled by its first reader. */
  def processBatch(arrivals: DataFrame, textCol: String,
      idCol: String, batchId: Long): DataFrame = {
    val s = arrivals.sparkSession
    val newBands = Dedup.stage(Dedup.minhashBands(
      Dedup.minhashSignatures(
        Dedup.shingles(arrivals, textCol, idCol), idCol), idCol)
      .select(col(idCol).cast("long").as("doc_id"),
        col("band_id").cast("int"), col("band_val")))
    val target = StreamingState.history(s, indexDir, bandSchema, Some(batchId))
      .unionByName(newBands)
    // the batch's bands are the broadcast side: the index is scanned
    // once and never shuffled; one exchange keyed by the pair counts
    // its distinct bands
    val verdicts = Dedup.stage(target
      .select(col("doc_id").as("t_id"), col("band_id"), col("band_val"))
      .join(broadcast(newBands.select(col("doc_id").as("p_id"), col("band_id"),
        col("band_val"))), Seq("band_id", "band_val"))
      .filter(col("p_id") =!= col("t_id"))
      .select(least(col("p_id"), col("t_id")).as("doc_a"),
        greatest(col("p_id"), col("t_id")).as("doc_b"), col("band_id"))
      .repartition(col("doc_a"), col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count_distinct(col("band_id")).as("n_bands")))
    StreamingState.append(newBands, indexDir, batchId)
    verdicts
  }

  /** Drive a document stream through [[StreamingState.run]], writing each
    * batch's verdicts to `verdictDir/batch=<id>` (overwrite, so a
    * replayed batch is idempotent end to end). */
  def run(stream: DataFrame, textCol: String, idCol: String,
      verdictDir: String, checkpointDir: String): StreamingQuery =
    StreamingState.run(stream, Some(verdictDir), checkpointDir)(
      processBatch(_, textCol, idCol, _))
}
