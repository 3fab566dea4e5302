package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Dedup
import graft.queries.CdcQueries

/** Incremental content-defined-chunk dedup — the streaming form of
  * q181, the storage-dedup gate at ingest: each arriving document is
  * chunked map-side (the native CdcChunks pass), its chunk hashes are
  * probed against the persisted chunk index PLUS the batch's EARLIER
  * arrivals (id order — never the batch's future), and the arrival's
  * INGEST verdict (how many of its chars the store already holds —
  * the bytes a dedup store would not write) is emitted before the
  * chunks append. The at-ingest verdict is the causal prefix of
  * q181's global one: it counts duplication against the
  * PAST, while the batch audit also sees the future — so per doc
  * `dup_chars_at_ingest <= dup_chars` (spec-pinned), and folding the
  * full chunk log through the SHARED `CdcQueries.chunkAudit` gives
  * exactly the batch q181 output on the union under any batching
  * (same table, same aggregation — spec-pinned).
  *
  * Scale shape: state is the append-only chunk-hash parquet table — a
  * storage-dedup index lives on disk, not in the state store; the
  * per-batch probe is an md5-keyed equi-join whose broadcast side is
  * the micro-batch's hashes, so incremental cost is an index seek per
  * arriving chunk, never a corpus shuffle. The verdict takes two
  * exchanges: one keyed by hash (each hash's first batch doc and
  * whether the store holds it), one keyed by doc.
  *
  * Replay idempotency is the batch-keyed contract of [[StreamingState]]. */
class StreamingCdcDedup(val chunkDir: String) {

  private val chunkSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("len", LongType),
    StructField("clen", LongType),
    StructField("h", StringType)))

  /** One micro-batch: returns the arrivals' at-ingest verdicts
    * (doc_id, n_chars, n_chunks, dup_chunks_at_ingest,
    * dup_chars_at_ingest, dup_share_at_ingest_e6) and writes the
    * batch's chunks to the index under `batch=<batchId>` (overwrite —
    * a replay of the same id is idempotent). A chunk
    * occurrence is a dup at ingest when its hash already exists in
    * the store, OR an EARLIER doc of the same batch carries it, OR it
    * repeats within its own document — exactly the verdict a
    * batch-size-1 sequential ingest would produce, for ANY batching.
    * (The previous rule — df >= 2 over history + whole batch — marked
    * BOTH members of a co-batched dup pair, so the reject gate's
    * survivor set depended on where batch boundaries fell; a pair
    * split across batches kept its first copy, the same pair
    * co-batched kept neither. Batch-size invariance of the composed
    * ingest pipeline is spec-pinned on exactly this case.) The
    * verdicts' history is listed before the append and pruned to ids
    * before `batchId`, so the probe never sees this batch's chunks;
    * the verdict pin is filled by its first reader. */
  def processBatch(arrivals: DataFrame, textCol: String, idCol: String,
      batchId: Long): DataFrame = {
    val s = arrivals.sparkSession
    val newChunks = Dedup.stage(CdcQueries.chunkTable(arrivals, textCol, idCol))
    // history probe: the index's h column against this batch's hashes
    // as the broadcast side — an index seek, never a corpus shuffle
    val histHit = StreamingState.history(s, chunkDir, chunkSchema, Some(batchId))
      .select(col("h"))
      .join(broadcast(newChunks.select(col("h"))), Seq("h"), "left_semi")
    // one pass keyed by h: a hash's first batch doc, and whether the
    // store holds it (hot history hashes collapse map-side)
    val firsts = newChunks.select(col("h"), col("doc_id"), lit(false).as("in_hist"))
      .unionByName(histHit.select(col("h"), lit(null).cast("long").as("doc_id"),
        lit(true).as("in_hist")))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("doc_id"), max(col("in_hist")).as("in_hist"))
    // one pass keyed by doc: each (doc, h) occurrence count next to its
    // first-doc mark. An occurrence is a dup unless its doc is the
    // hash's first, the store lacks it, and it does not repeat in-doc
    // (same-hash chunks share content, so one clen suffices)
    val occ = newChunks.select(col("doc_id"), col("h"), col("len"), col("clen"),
        lit(null).cast("boolean").as("first_in_hist"))
      .unionByName(firsts.select(col("doc_id"), col("h"), lit(null).cast("long").as("len"),
        lit(null).cast("long").as("clen"), col("in_hist").as("first_in_hist")))
      .repartition(col("doc_id"))
      .groupBy(col("doc_id"), col("h"))
      .agg(max(col("len")).as("len"), max(col("clen")).as("clen"),
        count(col("len")).as("n_occ"), max(col("first_in_hist")).as("first_in_hist"))
    val verdicts = Dedup.stage(occ
      .withColumn("is_dup", coalesce(col("first_in_hist"), lit(true)) || col("n_occ") >= 2)
      .groupBy(col("doc_id"))
      .agg(max(col("len")).as("n_chars"),
        sum(col("n_occ")).as("n_chunks"),
        sum(when(col("is_dup"), col("n_occ")).otherwise(0L)).as("dup_chunks_at_ingest"),
        sum(when(col("is_dup"), col("n_occ") * col("clen")).otherwise(0L)).as("dup_chars_at_ingest"))
      .withColumn("dup_share_at_ingest_e6",
        expr("dup_chars_at_ingest * 1000000 div n_chars")))
    StreamingState.append(newChunks, chunkDir, batchId)
    verdicts
  }

  /** Fold the chunk index into the batch q181 audit on everything
    * ingested so far — the SAME aggregation the batch query runs. */
  def foldAudit(s: SparkSession): DataFrame =
    CdcQueries.chunkAudit(StreamingState.history(s, chunkDir, chunkSchema, None))

  /** Drive a document stream through [[StreamingState.run]], writing each
    * batch's at-ingest verdicts to `verdictDir/batch=<id>` (overwrite,
    * so a replayed batch is idempotent end to end). */
  def run(stream: DataFrame, textCol: String, idCol: String,
      verdictDir: String, checkpointDir: String): StreamingQuery =
    StreamingState.run(stream, Some(verdictDir), checkpointDir)(
      processBatch(_, textCol, idCol, _))
}
