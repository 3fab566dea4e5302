package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}

import graft.functions.TextFunctions
import graft.operators.Dedup

object StreamingIngestPipeline {
  /** One arriving document: id-ordered per the ingest contract
    * (doc_id monotone with arrival, ts_us non-decreasing per source). */
  case class IngestDoc(doc_id: Long, source: String, ts_us: Long, text: String)
}

/** The ingest-to-packed composition — the round's streaming
  * components wired into ONE pipeline, the stream-shaped spine of
  * what `CurationPipeline.curateExtended` does in batch:
  *
  *   arrivals (doc_id, source, ts_us, text)
  *     -> per-source leaky-bucket ADMISSION (`Streaming.advanceBucket`
  *        — q210/rateLimit's fold; an over-cap arrival is load-shed,
  *        the reference collector's crawl-rate discipline)
  *     -> CDC chunk-dedup gate (`StreamingCdcDedup` — q181's at-ingest
  *        verdict; a doc whose chars the store already holds at >=
  *        `dupShareMaxE6` is not stored, curateExtended's exact-dedup
  *        stage made causal)
  *     -> MinHash-LSH near-dup gate (`StreamingLshDedup` — q23's
  *        candidates at ingest; the LATER member of any pair sharing
  *        >= `minBands` bands is dropped, curateExtended's
  *        near-dup-clustering stage made causal: first arrival is the
  *        cluster representative)
  *     -> incremental context-window PACKING (packStream's per-source
  *        fold; survivors append to fixed `ctxLen` windows exactly
  *        where `Curation.sequencePack` would put them)
  *
  * Equivalence contract (StreamingIngestPipelineSpec pins all four):
  * admission ≡ the sequential bucket on the union; CDC rejections ≡
  * the causal verdict (a doc is rejected iff a duplicated chunk's
  * other copy is in the store, in an EARLIER-arriving doc, or a
  * within-doc repeat — the batch-size-1 sequential answer, invariant
  * to batch boundaries); LSH rejections ≡ batch q23 candidates over every
  * CDC-survivor with drop-the-later-member; packed layout ≡
  * `Curation.sequencePack` over the final survivors. The quality /
  * decontamination stages of curateExtended stay batch-side by
  * design: they need corpus-global statistics (df thresholds, eval
  * overlap) that an ingest gate cannot know causally.
  *
  * State placement is the 100 TB argument: the two corpus-sized
  * indexes (chunk hashes, LSH bands) are append-only parquet tables —
  * disk state, seekable by equi-join, never a RocksDB store holding
  * the corpus — while the per-source bucket levels and pack cursors
  * are bounded dims (|sources| rows) held on the driver, keyed by the
  * batch id they are as of, and persisted per batch as tiny parquet
  * snapshots — the durable record, read back only when the driver
  * copy is not the pre-batch state: after a restart (a fresh instance
  * starts empty) or when a batch id is replayed. Every gate and the
  * packer read them from the driver, so a batch pays no job for them.
  * Rejected docs' chunks and bands ARE indexed ("dedup against
  * everything seen"): a near-dup of a rejected doc is still a
  * near-dup, and the index append happens before the gate filter so
  * transitive duplicates cannot slip through between representatives.
  *
  * Replay idempotency is the batch-keyed contract of [[StreamingState]];
  * the dims follow it as per-batch SNAPSHOTS read as-of `batchId - 1`
  * (a replay re-reads exactly the pre-batch dims, so no admission cost
  * is double-charged), with old snapshots beyond a short tail pruned.
  *
  * Job shape: a micro-batch is bound by per-job latency, not data, so
  * each frame is pinned only when several consumers read it, and each
  * pin is lazy — the first job that reads it fills it. */
class StreamingIngestPipeline(
    val stateRoot: String,
    val costMicro: Long, val capMicro: Long,
    val dupShareMaxE6: Long, val minBands: Long, val ctxLen: Int) {

  import StreamingIngestPipeline.IngestDoc

  val cdc = new StreamingCdcDedup(s"$stateRoot/cdc_chunks")
  val lsh = new StreamingLshDedup(s"$stateRoot/lsh_bands")
  private val bucketDir = s"$stateRoot/bucket_state"
  private val cursorDir = s"$stateRoot/pack_cursor"
  private val DimSnapshotsKept = 3

  private val bucketSchema = StructType(Seq(
    StructField("source", StringType),
    StructField("last_us", LongType),
    StructField("level", LongType)))
  private val cursorSchema = StructType(Seq(
    StructField("source", StringType),
    StructField("cum_tokens", LongType)))

  /** Both dims as they stand after batch `asOf` commits. */
  private case class Dims(asOf: Long,
      buckets: Map[String, Streaming.BucketState], cursors: Map[String, Long])

  /** The driver copy of the dims; batches run one at a time. */
  @volatile private var dims: Option[Dims] = None

  /** The dims a batch `batchId` must see: the driver copy when it is
    * the state after `batchId - 1`, else the latest snapshots strictly
    * before `batchId` (a restart, a replayed id). */
  private def dimsBefore(s: SparkSession, batchId: Long): Dims =
    dims.filter(_.asOf == batchId - 1).getOrElse(Dims(batchId - 1,
      readDim(s, bucketDir, bucketSchema, batchId)
        .map(r => r.getString(0) -> Streaming.BucketState(r.getLong(1), r.getLong(2))).toMap,
      readDim(s, cursorDir, cursorSchema, batchId)
        .map(r => r.getString(0) -> r.getLong(1)).toMap))

  /** The dim rows of the latest snapshot strictly BEFORE `batchId` —
    * what a replay of `batchId` must see (|sources| rows at most). */
  private def readDim(s: SparkSession, dir: String, schema: StructType,
      batchId: Long): Seq[Row] =
    StreamingState.batchDirs(dir, Some(batchId)).lastOption
      .fold(Seq.empty[Row])(d => s.read.schema(schema).parquet(d).collect().toSeq)

  private def writeDim(s: SparkSession, dir: String, schema: StructType,
      rows: Seq[Row], batchId: Long): Unit = {
    StreamingState.append(s.createDataFrame(rows.asJava, schema).coalesce(1), dir, batchId)
    StreamingState.pruneBefore(dir, batchId, DimSnapshotsKept)
  }

  /** Stage 1: per-source leaky-bucket admission for one micro-batch
    * from the `prior` bucket states. Returns (admitted docs, updated
    * per-source states). The fold is per-source sequential — exactly
    * `Streaming.advanceBucket` — run once, distributed via groupByKey. */
  def admitBatch(batch: Dataset[IngestDoc], prior: Map[String, Streaming.BucketState])
      : (Dataset[IngestDoc], Map[String, Streaming.BucketState]) = {
    val s = batch.sparkSession
    import s.implicits._
    val bPrior = s.sparkContext.broadcast(prior)
    // locals so the task closures capture values, not `this`
    val cost = costMicro
    val cap = capMicro
    // every doc with its admission flag and the post-fold bucket state;
    // the state after a source's last doc in fold order is its final one
    val folded = Dedup.stage(batch.groupByKey(_.source).flatMapGroups {
      (src: String, rows: Iterator[IngestDoc]) =>
        var st = bPrior.value.get(src)
        val docs = rows.toSeq.sortBy(d => (d.ts_us, d.doc_id))
        docs.iterator.zipWithIndex.map { case (d, i) =>
          val (next, lvl) = Streaming.advanceBucket(st, d.ts_us, cost)
          st = Some(next)
          (d, lvl <= cap, i == docs.length - 1, next.lastUs, next.level)
        }
    }.toDF("doc", "admitted", "final", "last_us", "level"))
    // only the |sources|-row dim is collected, never the batch; this
    // job fills the pin, so the broadcast is done with after it
    val finals = try folded.filter(col("final"))
      .select(col("doc.source"), col("last_us"), col("level")).collect()
      .map(r => r.getString(0) -> Streaming.BucketState(r.getLong(1), r.getLong(2)))
    finally bPrior.destroy()
    (folded.filter(col("admitted")).select(col("doc.*")).as[IngestDoc], prior ++ finals)
  }

  /** One micro-batch through all four stages; returns this batch's
    * packed survivor rows (the sequencePack schema) and advances every
    * piece of state, keyed by `batchId` so a replay of
    * the same id reproduces (not compounds) the state transition. */
  def processBatch(batch: Dataset[IngestDoc], batchId: Long): DataFrame = {
    val s = batch.sparkSession
    val before = dimsBefore(s, batchId)
    val (admittedDs, buckets) = admitBatch(batch, before.buckets)
    val admitted = admittedDs.toDF()
    writeDim(s, bucketDir, bucketSchema,
      buckets.toSeq.map { case (src, b) => Row(src, b.lastUs, b.level) }, batchId)

    // CDC gate: at-ingest storage-dup share, index write inside
    val cdcReject = cdc.processBatch(admitted, "text", "doc_id", batchId)
      .filter(col("dup_share_at_ingest_e6") >= dupShareMaxE6)
      .select(col("doc_id"))
    // the CDC survivors feed only the LSH gate, so they are not pinned
    val s1 = admitted.join(broadcast(cdcReject), Seq("doc_id"), "left_anti")

    // LSH gate: drop the later member of every candidate pair
    val lshReject = lsh.processBatch(s1, "text", "doc_id", batchId)
      .filter(col("n_bands") >= minBands)
      .select(col("doc_b").as("doc_id"))
    val s2 = admitted.join(broadcast(cdcReject.unionByName(lshReject)), Seq("doc_id"), "left_anti")

    // pack survivors onto each source's running window cursor, read
    // from the driver-held dim as one map literal (the plan stays the
    // same size at any number of sources)
    val base = typedLit(before.cursors.filter(_._1 != null))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val packed = Dedup.stage(s2
      .select(col("doc_id"), col("source"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", coalesce(sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) +
        coalesce(try_element_at(base, col("source")), lit(0L)))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"),
        expr(s"cum_tokens div $ctxLen").as("seq_id"),
        (col("cum_tokens") % ctxLen).as("offset_in_seq"),
        (col("cum_tokens") % ctxLen + col("n_tokens") > ctxLen).as("straddles"),
        lead(col("doc_id"), 1).over(w).isNull.as("last")))
    // a source's cursor advances to its last survivor's end; this job
    // fills the pin before the output append reads it
    val advanced = packed.filter(col("last"))
      .select(col("source"), col("cum_tokens") + col("n_tokens")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val cursors = before.cursors ++ advanced
    writeDim(s, cursorDir, cursorSchema,
      cursors.toSeq.map { case (src, cum) => Row(src, cum) }, batchId)
    dims = Some(Dims(batchId, buckets, cursors))
    packed.drop("last")
  }

  /** Drive a document stream end-to-end, writing each batch's packed
    * survivors to `outDir/batch=<id>` through [[StreamingState.run]]. */
  def run(stream: Dataset[IngestDoc], outDir: String,
      checkpointDir: String): StreamingQuery =
    StreamingState.run(stream, Some(outDir), checkpointDir)(processBatch(_, _))
}
