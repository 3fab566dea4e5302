package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{StreamingIngestPipeline, StreamingState}
import graft.streaming.StreamingIngestPipeline.IngestDoc

/** The failure-recovery contract of the composed ingest pipeline.
  *
  * Structured Streaming's foreachBatch delivers at-least-once: a batch
  * whose processing ran but did not commit to the streaming checkpoint
  * is RE-DELIVERED with the same epochId after a restart. The pipeline
  * keys every state write by that id (index dirs, dim snapshots,
  * packed output — see StreamingState), so both halves of the contract
  * must hold:
  *
  *  1. re-processing a batch with the same id is byte-idempotent —
  *     every piece of persisted state and the returned packed rows
  *     equal a single delivery (the crash-after-write-before-commit
  *     case, simulated by literally calling processBatch twice);
  *  2. stopping the streaming query mid-stream and resuming from its
  *     checkpoint (same state root) yields output identical to an
  *     uninterrupted run over the same batches.
  */
class StreamingReplaySpec extends SparkSpec {

  private val Cost = 8000000L
  private val Cap = 20000000L
  private val DupShareMax = 950000L
  private val MinBands = 1L
  private val CtxLen = 512

  private def docs(): Array[IngestDoc] = {
    import org.apache.spark.sql.functions.col
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
      .filter(col("doc_id") < 240)
      .collect()
      .map(r => IngestDoc(r.getLong(0), r.getString(1),
        r.getLong(0) * 300000L, r.getString(2)))
      .sortBy(_.doc_id)
  }

  /** Read a batch-keyed state dir back as (rows as comparable tuples). */
  private def slurp(dir: String, cols: Seq[String]): Set[Seq[Any]] = {
    val dirs = StreamingState.batchDirs(dir)
    if (dirs.isEmpty) Set.empty
    else spark.read.parquet(dirs: _*)
      .select(cols.map(col): _*).collect()
      .map(_.toSeq).toSet
  }

  test("re-delivering a batch with the same id is state-idempotent") {
    import spark.implicits._
    val unscoped = unscopedPins
    // each batch in its own pin scope, as StreamingState.run runs it
    def scoped[T](body: => T): T = QueryRun.scoped(spark, "replay-idempotent")(body)
    val all = docs()
    val batches = Seq(all.filter(_.doc_id < 80), all.filter(_.doc_id >= 80))

    def drive(root: String, replaySecond: Boolean): Set[Seq[Any]] = {
      val pipe = new StreamingIngestPipeline(root, Cost, Cap, DupShareMax,
        MinBands, CtxLen)
      val out0 = scoped(pipe.processBatch(batches(0).toSeq.toDS(), 0L)
        .collect().map(_.toSeq).toSet)
      val out1a = scoped(pipe.processBatch(batches(1).toSeq.toDS(), 1L)
        .collect().map(_.toSeq).toSet)
      if (replaySecond) {
        // the crash case: batch 1 ran fully (all state written) but the
        // streaming commit was lost — foreachBatch re-delivers id 1
        val out1b = scoped(pipe.processBatch(batches(1).toSeq.toDS(), 1L)
          .collect().map(_.toSeq).toSet)
        assert(out1b === out1a, "replayed packed rows must equal the originals")
      }
      out0 ++ out1a
    }

    val rootA = Files.createTempDirectory("replay_a").toString
    val rootB = Files.createTempDirectory("replay_b").toString
    val packedA = drive(rootA, replaySecond = false)
    val packedB = drive(rootB, replaySecond = true)
    assert(packedA === packedB)

    // every persisted state table is identical to the no-replay run
    for ((sub, cols) <- Seq(
      "cdc_chunks" -> Seq("doc_id", "len", "clen", "h"),
      "lsh_bands" -> Seq("doc_id", "band_id", "band_val"),
      "bucket_state" -> Seq("source", "last_us", "level"),
      "pack_cursor" -> Seq("source", "cum_tokens"))) {
      assert(slurp(s"$rootA/$sub", cols) === slurp(s"$rootB/$sub", cols),
        s"state table $sub diverged under replay")
      assert(StreamingState.batchIds(s"$rootA/$sub") ===
        StreamingState.batchIds(s"$rootB/$sub"),
        s"batch ids of $sub diverged under replay")
    }
    assert((unscopedPins -- unscoped).isEmpty, "a batch pinned outside its scope")
  }

  test("component state is replay-idempotent: SemDedup, KnnGraph, CmsCounter, DriftMonitor") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.{StreamingCmsCounter, StreamingDriftMonitor,
      StreamingKnnGraph, StreamingSemDedup}
    import graft.operators.Similarity
    import graft.queries.SimilarityQueries

    val unscoped = unscopedPins
    def scoped[T](body: => T): T = QueryRun.scoped(spark, "replay-components")(body)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text")).limit(120)
      .localCheckpoint()
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).limit(120).localCheckpoint()
    val cents = Similarity.kmeansFit(emb, 4, SimilarityQueries.Dim, 2)._2

    def stateOf(root: String): Map[String, Set[Seq[Any]]] =
      StreamingState.batchDirs(root).map { d =>
        d -> spark.read.parquet(d).collect().map(_.toSeq).toSet
      }.toMap.map { case (k, v) => k.substring(k.lastIndexOf('/')) -> v }

    // each component: process batch 0, then batch 1 TWICE with the
    // same id; all persisted state must equal a no-replay double run
    def check(name: String)(drive: (String, Boolean) => Unit,
        stateDirs: String => Seq[String]): Unit = {
      val a = Files.createTempDirectory(s"rep_${name}_a").toString
      val b = Files.createTempDirectory(s"rep_${name}_b").toString
      drive(a, false)
      drive(b, true)
      stateDirs(a).zip(stateDirs(b)).foreach { case (da, db) =>
        assert(stateOf(da) === stateOf(db), s"$name state $da diverged under replay")
      }
    }

    check("semdedup")({ (root, replay) =>
      val op = new StreamingSemDedup(s"$root/members", 400000L)
      scoped(op.processBatch(emb.filter(col("vec_id") < 60), cents, 0L))
      scoped(op.processBatch(emb.filter(col("vec_id") >= 60), cents, 1L))
      if (replay) scoped(op.processBatch(emb.filter(col("vec_id") >= 60), cents, 1L))
    }, root => Seq(s"$root/members"))

    check("knn")({ (root, replay) =>
      val op = new StreamingKnnGraph(s"$root/knn")
      scoped(op.processBatch(emb.filter(col("vec_id") < 60), 0L))
      scoped(op.processBatch(emb.filter(col("vec_id") >= 60), 1L))
      if (replay) scoped(op.processBatch(emb.filter(col("vec_id") >= 60), 1L))
    }, root => Seq(s"$root/knn/bands", s"$root/knn/vecs"))

    check("cms")({ (root, replay) =>
      val op = new StreamingCmsCounter(s"$root/cms")
      scoped(op.processBatch(docs.filter(col("doc_id") < 60), "text", 0L))
      scoped(op.processBatch(docs.filter(col("doc_id") >= 60), "text", 1L))
      if (replay) scoped(op.processBatch(docs.filter(col("doc_id") >= 60), "text", 1L))
    }, root => Seq(s"$root/cms"))

    check("drift")({ (root, replay) =>
      val op = new StreamingDriftMonitor(s"$root/hist")
      scoped(op.processBatch(docs.filter(col("doc_id") < 60), "text", "source", 0L))
      scoped(op.processBatch(docs.filter(col("doc_id") >= 60), "text", "source", 1L))
      if (replay) scoped(op.processBatch(docs.filter(col("doc_id") >= 60), "text", "source", 1L))
    }, root => Seq(s"$root/hist"))
    assert((unscopedPins -- unscoped).isEmpty, "a batch pinned outside its scope")
  }

  test("restart from checkpoint mid-stream equals the uninterrupted run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = docs()
    val batches = Seq(
      all.filter(_.doc_id < 80).toSeq,
      all.filter(d => d.doc_id >= 80 && d.doc_id < 160).toSeq,
      all.filter(_.doc_id >= 160).toSeq)

    // uninterrupted reference run
    val rootU = Files.createTempDirectory("restart_u").toString
    val pipeU = new StreamingIngestPipeline(rootU, Cost, Cap, DupShareMax,
      MinBands, CtxLen)
    val inU = MemoryStream[IngestDoc]
    val qU = pipeU.run(inU.toDS(), s"$rootU/packed", s"$rootU/ckpt")
    try batches.foreach { b => inU.addData(b); qU.processAllAvailable() }
    finally qU.stop()

    // interrupted run: stop after two batches, resume from the same
    // checkpoint + state root, then feed the third
    val rootR = Files.createTempDirectory("restart_r").toString
    val pipeR = new StreamingIngestPipeline(rootR, Cost, Cap, DupShareMax,
      MinBands, CtxLen)
    val inR = MemoryStream[IngestDoc]
    val q1 = pipeR.run(inR.toDS(), s"$rootR/packed", s"$rootR/ckpt")
    try {
      inR.addData(batches(0)); q1.processAllAvailable()
      inR.addData(batches(1)); q1.processAllAvailable()
    } finally q1.stop()
    val q2 = pipeR.run(inR.toDS(), s"$rootR/packed", s"$rootR/ckpt")
    try { inR.addData(batches(2)); q2.processAllAvailable() }
    finally q2.stop()

    val packedCols = Seq("doc_id", "source", "n_tokens", "cum_tokens",
      "seq_id", "offset_in_seq", "straddles")
    assert(slurp(s"$rootR/packed", packedCols) ===
      slurp(s"$rootU/packed", packedCols))
    assert(slurp(s"$rootU/packed", packedCols).nonEmpty)
    // the on-disk indexes converged too
    assert(slurp(s"$rootR/cdc_chunks", Seq("doc_id", "h")) ===
      slurp(s"$rootU/cdc_chunks", Seq("doc_id", "h")))
    assert(slurp(s"$rootR/lsh_bands", Seq("doc_id", "band_id", "band_val")) ===
      slurp(s"$rootU/lsh_bands", Seq("doc_id", "band_id", "band_val")))
  }
}
