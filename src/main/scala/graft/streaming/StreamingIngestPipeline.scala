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
  * are bounded dims persisted as tiny parquet snapshots (the
  * bounded-model pattern: |sources| rows, rewritten per batch).
  * Rejected docs' chunks and bands ARE indexed ("dedup against
  * everything seen"): a near-dup of a rejected doc is still a
  * near-dup, and the index append happens before the gate filter so
  * transitive duplicates cannot slip through between representatives.
  *
  * Replay idempotency is the batch-keyed contract of [[StreamingState]];
  * the dims follow it as per-batch SNAPSHOTS read as-of `batchId - 1`
  * (a replay re-reads exactly the pre-batch dims, so no admission cost
  * is double-charged), with old snapshots beyond a short tail pruned. */
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

  /** The dim rows of the latest snapshot strictly BEFORE `batchId` —
    * what a replay of `batchId` must see (|sources| rows at most). */
  private def readDim(s: SparkSession, dir: String, schema: StructType,
      batchId: Long): Seq[Row] =
    StreamingState.batchDirs(dir, Some(batchId)).lastOption
      .fold(Seq.empty[Row])(d => s.read.schema(schema).parquet(d).collect().toSeq)

  private def dimFrame(s: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    s.createDataFrame(rows.asJava, schema)

  private def writeDim(s: SparkSession, dir: String, schema: StructType,
      rows: Seq[Row], batchId: Long): Unit = {
    StreamingState.append(dimFrame(s, schema, rows).coalesce(1), dir, batchId)
    StreamingState.pruneBefore(dir, batchId, DimSnapshotsKept)
  }

  /** Stage 1: per-source leaky-bucket admission for one micro-batch.
    * Returns (admitted docs, updated per-source states). The fold is
    * per-source sequential — exactly `Streaming.advanceBucket` — run
    * once, distributed via groupByKey; prior levels come from the
    * bounded persisted dim as of the previous batch. */
  def admitBatch(batch: Dataset[IngestDoc], batchId: Long)
      : (Dataset[IngestDoc], Seq[Row]) = {
    val s = batch.sparkSession
    import s.implicits._
    val prior = readDim(s, bucketDir, bucketSchema, batchId)
      .map(r => r.getString(0) -> Streaming.BucketState(r.getLong(1), r.getLong(2))).toMap
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
    }.toDF("doc", "admitted", "final", "last_us", "level"), eager = true)
    val admitted = folded.filter(col("admitted")).select(col("doc.*")).as[IngestDoc]
    // only the |sources|-row dim is collected, never the batch
    val finals = folded.filter(col("final"))
      .select(col("doc.source"), col("last_us"), col("level")).collect().toSeq
    val untouched = (prior.keySet -- finals.map(_.getString(0)))
      .toSeq.map(src => Row(src, prior(src).lastUs, prior(src).level))
    (admitted, finals ++ untouched)
  }

  /** One micro-batch through all four stages; returns this batch's
    * packed survivor rows (the sequencePack schema) and advances every
    * piece of state, keyed by `batchId` so a replay of
    * the same id reproduces (not compounds) the state transition. */
  def processBatch(batch: Dataset[IngestDoc], batchId: Long): DataFrame = {
    val s = batch.sparkSession
    val (admittedDs, bucketRows) = admitBatch(batch, batchId)
    val admitted = admittedDs.toDF()
    writeDim(s, bucketDir, bucketSchema, bucketRows, batchId)

    // CDC gate: at-ingest storage-dup share, index write inside
    val cdcVerdicts = cdc.processBatch(admitted, "text", "doc_id", batchId)
    val cdcReject = cdcVerdicts
      .filter(col("dup_share_at_ingest_e6") >= dupShareMaxE6)
      .select(col("doc_id"))
    val s1 = Dedup.stage(admitted.join(cdcReject, Seq("doc_id"), "left_anti"), eager = true)

    // LSH gate: drop the later member of every candidate pair
    val lshVerdicts = lsh.processBatch(s1, "text", "doc_id", batchId)
    val lshReject = lshVerdicts.filter(col("n_bands") >= minBands)
      .select(col("doc_b").as("doc_id")).distinct()
    val s2 = s1.join(lshReject, Seq("doc_id"), "left_anti")

    // pack survivors onto each source's running window cursor: the base
    // is a broadcast join against the cursor dim, so the plan stays the
    // same size at any number of sources
    val cursors = readDim(s, cursorDir, cursorSchema, batchId)
    val base = dimFrame(s, cursorSchema, cursors).withColumnRenamed("cum_tokens", "base")
    val wPrev = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val packed = Dedup.stage(s2
      .select(col("doc_id"), col("source"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
      .join(broadcast(base), Seq("source"), "left")
      .withColumn("cum_tokens", coalesce(sum(col("n_tokens")).over(wPrev), lit(0L)) +
        coalesce(col("base"), lit(0L)))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"),
        expr(s"cum_tokens div $ctxLen").as("seq_id"),
        (col("cum_tokens") % ctxLen).as("offset_in_seq"),
        (col("cum_tokens") % ctxLen + col("n_tokens") > ctxLen).as("straddles")),
      eager = true)
    val advanced = packed.groupBy(col("source"))
      .agg(max(col("cum_tokens") + col("n_tokens")).as("cum")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val merged = (cursors.map(r => r.getString(0) -> r.getLong(1)).toMap ++ advanced)
      .map { case (src, cum) => Row(src, cum) }.toSeq
    writeDim(s, cursorDir, cursorSchema, merged, batchId)
    packed
  }

  /** Drive a document stream end-to-end, writing each batch's packed
    * survivors to `outDir/batch=<id>` through [[StreamingState.run]]. */
  def run(stream: Dataset[IngestDoc], outDir: String,
      checkpointDir: String): StreamingQuery =
    StreamingState.run(stream, Some(outDir), checkpointDir)(processBatch(_, _))
}
