package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup}
import graft.queries.CdcQueries
import graft.streaming.{Streaming, StreamingIngestPipeline, StreamingState}
import graft.streaming.StreamingIngestPipeline.IngestDoc

/** The ingest-to-packed composition: every stage of the streamed
  * pipeline (admission -> CDC gate -> LSH gate -> packing) must equal
  * its batch formulation on the union of all micro-batches —
  *
  *  - admitted set ≡ the sequential per-source bucket fold;
  *  - CDC rejections ≡ the causal verdict (a doc is rejected iff a
  *    duplicated chunk's other copy is in the store, in an
  *    earlier-arriving doc, or a within-doc repeat — the batch-size-1
  *    sequential answer, invariant to batch boundaries);
  *  - LSH rejections ≡ batch q23 candidates over the CDC survivors
  *    with the later (higher-id) member dropped;
  *  - packed layout ≡ Curation.sequencePack over the final survivors.
  *
  * The stream carries injected exact clones (must die at the CDC
  * gate) and suffix-perturbed near clones (must pass CDC and die at
  * the LSH gate), so every gate demonstrably fires. Stage outputs are
  * read back from the pipeline's own persisted state: the chunk index
  * holds exactly the admitted docs, the band index exactly the CDC
  * survivors, the packed parquet exactly the final survivors. */
class StreamingIngestPipelineSpec extends SparkSpec {

  private val Cost = 8000000L
  private val Cap = 20000000L
  private val DupShareMax = 950000L
  private val MinBands = 1L
  private val CtxLen = 512

  // 60 docs: unique 25-token bodies except three planted exact-dup
  // pairs (CDC-gate kills) and two near-dup pairs (suffix-perturbed:
  // pass CDC, die at the LSH gate); pair members are ADJACENT ids so
  // a stride-2 batching co-batches every pair while an offset stride
  // straddles them — under the former df>=2-over-the-batch rule the
  // co-batched run rejected BOTH members (survivor set depended on
  // boundary placement); the causal rule keeps the first copy
  // either way, and the LSH drop-later rule is invariant under the
  // monotone-id ingest contract
  private val Pairs = Set(10L, 30L, 50L)
  private val NearPairs = Set(20L, 40L)
  private lazy val synthetic: Seq[IngestDoc] = {
    def body(i: Long) = (1 to 25).map(j => s"w${i}_$j token$j").mkString(" ")
    (0L until 60L).map { i =>
      val text =
        if (Pairs.contains(i - 1)) body(i - 1)
        else if (NearPairs.contains(i - 1))
          body(i - 1) + Seq.fill(4)(" appendix clause").mkString + " fim"
        else body(i)
      IngestDoc(i, s"s${i % 3}", i * 300000L, text)
    }
  }

  /** Run `batches` through a fresh pipeline object on `root`, one
    * micro-batch per element, from `input` (a new source unless given)
    * and the streaming checkpoint under `root`; `afterBatch` runs once
    * each batch is processed. */
  private def drive(root: String, costMicro: Long, batches: Seq[Seq[IngestDoc]],
      input: Option[MemoryStream[IngestDoc]] = None, afterBatch: () => Unit = () => ()): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pipe = new StreamingIngestPipeline(root, costMicro, Cap, DupShareMax,
      MinBands, CtxLen)
    val in = input.getOrElse(MemoryStream[IngestDoc])
    val q = pipe.run(in.toDS(), s"$root/packed", s"$root/ckpt")
    try batches.foreach { b => in.addData(b); q.processAllAvailable(); afterBatch() }
    finally q.stop()
  }

  /** The stream the steady-state budgets read, run once for all of
    * them: three 20-doc batches, the ledger of their jobs, and the
    * generated classes each batch compiled. */
  private lazy val steady: (JobLedger, Seq[Long]) = {
    val ledger = JobLedger.attach(spark)
    val marks = scala.collection.mutable.ArrayBuffer(JobLedger.codegenCompiles)
    try drive(Files.createTempDirectory("ingest_jobs").toString, 1000L,
      synthetic.grouped(20).toSeq, afterBatch = () => marks += JobLedger.codegenCompiles)
    finally ledger.detach()
    (ledger, marks.toSeq.zip(marks.tail).map { case (a, b) => b - a })
  }

  test("streamed composition equals the batch formulation per stage") {
    import spark.implicits._

    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => IngestDoc(r.getLong(0), r.getString(1),
        r.getLong(0) * 300000L, r.getString(2)))
      .sortBy(_.doc_id)
    val exactClones = base.filter(_.doc_id < 20).map(d =>
      d.copy(doc_id = 100000L + d.doc_id, ts_us = (100000L + d.doc_id) * 300000L))
    val nearClones = base.filter(d => d.doc_id >= 20 && d.doc_id < 40).map(d =>
      d.copy(doc_id = 200000L + d.doc_id, ts_us = (200000L + d.doc_id) * 300000L,
        text = d.text + Seq.fill(6)(" appendix clause").mkString + " fim"))
    val batches = Seq(
      base.filter(_.doc_id < 250).toSeq,
      base.filter(_.doc_id >= 250).toSeq,
      (exactClones ++ nearClones).sortBy(_.doc_id).toSeq)
    val union = batches.flatten

    val root = Files.createTempDirectory("ingest_pipe").toString
    drive(root, Cost, batches)

    // ---- stage 1 expected: sequential bucket fold on the union ----
    val expAdmitted = union.groupBy(_.source).flatMap { case (_, ds) =>
      var st: Option[Streaming.BucketState] = None
      ds.sortBy(d => (d.ts_us, d.doc_id)).flatMap { d =>
        val (next, lvl) = Streaming.advanceBucket(st, d.ts_us, Cost)
        st = Some(next)
        if (lvl > Cap) None else Some(d)
      }
    }.toSeq.sortBy(_.doc_id)
    val gotAdmitted = spark.read.parquet(s"$root/cdc_chunks")
      .select(col("doc_id")).distinct().collect().map(_.getLong(0)).sorted
    assert(gotAdmitted.toSeq === expAdmitted.map(_.doc_id))
    assert(expAdmitted.size < union.size, "admission gate must fire")

    // ---- stage 2 expected: per-doc causal chunk fold. The verdict
    // is BOUNDARY-FREE by design (the batch-size-invariance fix): an
    // occurrence is a dup iff an earlier-ARRIVING doc carries its
    // hash or it repeats within its own doc. Arrival order here is
    // doc_id order by construction (batch 3's injected ids exceed
    // every base id), so min-doc_id-per-hash models the history. ----
    val admittedDf = expAdmitted.toDS().toDF()
    val chunks = CdcQueries.chunkTable(admittedDf, "text", "doc_id")
    val firstDoc = chunks.groupBy(col("h"))
      .agg(min(col("doc_id")).as("first_doc"))
    val occ = chunks.groupBy(col("doc_id"), col("h"))
      .agg(max(col("len")).as("len"), max(col("clen")).as("clen"),
        count(lit(1)).as("n_occ"))
    val verdict = occ.join(firstDoc, Seq("h"))
      .withColumn("is_dup", col("doc_id") > col("first_doc") || col("n_occ") >= 2)
      .groupBy(col("doc_id"))
      .agg(max(col("len")).as("n_chars"),
        sum(when(col("is_dup"), col("n_occ") * col("clen")).otherwise(0L)).as("dup_chars"))
      .withColumn("share_e6", expr("dup_chars * 1000000 div n_chars"))
    val expCdcReject = verdict.filter(col("share_e6") >= DupShareMax)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val expS1 = expAdmitted.filterNot(d => expCdcReject(d.doc_id))
    val gotS1 = spark.read.parquet(s"$root/lsh_bands")
      .select(col("doc_id")).distinct().collect().map(_.getLong(0)).sorted
    assert(gotS1.toSeq === expS1.map(_.doc_id))
    // every exact clone whose original was stored must die at this gate
    val storedBases = expAdmitted.map(_.doc_id).filter(_ < 20).toSet
    val cloneIds = exactClones.map(_.doc_id)
      .filter(id => storedBases(id - 100000L) && expAdmitted.exists(_.doc_id == id))
    assert(cloneIds.nonEmpty && cloneIds.forall(expCdcReject), "CDC gate must fire")

    // ---- stage 3 expected: batch q23 candidates, drop later member ----
    val s1Df = expS1.toDS().toDF()
    val bands = Dedup.minhashBands(
      Dedup.minhashSignatures(
        Dedup.shingles(s1Df, "text", "doc_id"), "doc_id"), "doc_id")
      .select(col("doc_id").cast("long").as("doc_id"),
        col("band_id").cast("int"), col("band_val"))
    val pairs = bands.select(col("doc_id").as("a"), col("band_id"), col("band_val"))
      .join(bands.select(col("doc_id").as("b"), col("band_id"), col("band_val")),
        Seq("band_id", "band_val"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count_distinct(col("band_id")).as("n_bands"))
    val expLshReject = pairs.filter(col("n_bands") >= MinBands)
      .select(col("b")).distinct().collect().map(_.getLong(0)).toSet
    val expS2 = expS1.filterNot(d => expLshReject(d.doc_id))
    assert(expLshReject.nonEmpty, "LSH gate must fire")
    // near clones that survived CDC must die here (their original is
    // in the band index and shares almost every shingle)
    val nearSurvivedCdc = nearClones.map(_.doc_id)
      .filter(id => expS1.exists(_.doc_id == id) &&
        expS1.exists(_.doc_id == id - 200000L))
    // LSH recall is probabilistic by construction (banding trades
    // recall for candidate volume): require the gate to catch the
    // majority of the planted near clones, not every one
    assert(nearSurvivedCdc.nonEmpty &&
      nearSurvivedCdc.count(expLshReject) * 2 >= nearSurvivedCdc.length,
      s"LSH gate caught ${nearSurvivedCdc.count(expLshReject)} of " +
        s"${nearSurvivedCdc.length} planted near clones")

    // ---- stage 4: packed layout ≡ batch sequencePack on survivors ----
    val expPacked = Curation.sequencePack(expS2.toDS().toDF(), "text",
      "doc_id", "source", CtxLen).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    val gotPacked = spark.read.parquet(s"$root/packed").collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[String]("source"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("cum_tokens"),
        r.getAs[Long]("seq_id"), r.getAs[Long]("offset_in_seq"),
        r.getAs[Boolean]("straddles")))).toMap
    assert(gotPacked === expPacked)
  }

  test("survivors and packed layout are invariant to batch boundaries") {
    val docs = synthetic
    // admission sized to admit everything: the invariance under test
    // is the dedup gates', not load shedding's
    def runWith(batching: Seq[Seq[IngestDoc]]): (Seq[Long], Map[Long, (Long, Long)]) = {
      val root = Files.createTempDirectory("ingest_inv").toString
      drive(root, 1000L, batching)
      val packed = spark.read.parquet(s"$root/packed").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("cum_tokens"), r.getAs[Long]("seq_id"))))
      (packed.map(_._1).sorted.toSeq, packed.toMap)
    }
    val runs = Seq(
      docs.grouped(2).toSeq,            // every pair co-batched
      (docs.take(1) +: docs.drop(1).grouped(2).toSeq), // every pair straddles
      docs.grouped(7).toSeq,            // arbitrary boundaries
      Seq(docs))                        // one batch
      .map(b => runWith(b.map(_.toSeq)))
    // all four batchings: identical survivor sets and packed layouts
    runs.tail.foreach { r =>
      assert(r._1 === runs.head._1, "survivor sets differ across batchings")
      assert(r._2 === runs.head._2, "packed layouts differ across batchings")
    }
    // the first copy of every planted pair survives, the clone dies —
    // exact pairs at the CDC gate, near pairs at the LSH gate
    (Pairs ++ NearPairs).foreach { p =>
      assert(runs.head._1.contains(p), s"first copy $p must survive")
      assert(!runs.head._1.contains(p + 1), s"clone ${p + 1} must die")
    }
  }

  test("a 1,000-source batch carries every pack cursor into the next batch") {
    // one doc per source per batch: batch 1 packs every source on top
    // of the |sources|-row cursor dim batch 0 left behind, so the
    // cursor read-back must not grow with the number of sources
    val sources = 1000
    def doc(id: Long, src: Int) = IngestDoc(id, s"portal$src", id * 300000L,
      (1 to 6).map(j => s"d${id}w$j").mkString(" "))
    val batches = Seq(
      (0 until sources).map(i => doc(i.toLong, i)),
      (0 until sources).map(i => doc((sources + i).toLong, i)))
    val root = Files.createTempDirectory("ingest_wide").toString
    drive(root, 1000L, batches)

    val packed = spark.read.parquet(s"$root/packed").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("cum_tokens")))
    // unique bodies and an admit-all bucket: every doc survives
    assert(packed.length === 2 * sources)
    packed.groupBy(_._1).foreach { case (src, rows) =>
      val Array(first, second) = rows.sortBy(_._2)
      assert(first._4 === 0L, s"$src starts at 0")
      assert(second._4 === first._3, s"$src resumes at its batch-0 cursor")
    }
  }

  test("a steady-state micro-batch runs at most 20 Spark jobs") {
    // every job of a micro-batch carries its batch id; batch 0 plans
    // cold, batches 1 and 2 are the steady state
    val (ledger, _) = steady
    Seq(1L, 2L).foreach { b =>
      val jobs = ledger.tally(_.batchId.contains(b)).jobs
      assert(jobs > 0, s"batch $b ran no job")
      assert(jobs <= 20, s"batch $b ran $jobs jobs")
    }
  }

  test("a steady-state micro-batch compiles no new generated class") {
    // batch 2 plans what batch 1 planned (batch 1 still differs from
    // batch 0's empty history), so each of its classes is in Spark's
    // codegen cache; a cache smaller than a batch's working set
    // recompiles the classes the batch before evicted
    val (_, compiled) = steady
    assert(compiled.size === 3)
    assert(compiled(2) === 0L, s"batch 2 compiled ${compiled(2)} classes (per batch: $compiled)")
  }

  test("a fresh instance resumes from the committed dims as the unbroken run does") {
    // a cost above the per-source arrival gap fills each bucket, so the
    // third batch sheds only if the carried levels are right; the pack
    // cursors carry every source's running offset
    val batches = synthetic.grouped(20).toSeq
    val cost = 2000000L
    val rootU = Files.createTempDirectory("ingest_unbroken").toString
    drive(rootU, cost, batches)
    val rootR = Files.createTempDirectory("ingest_restart").toString
    val input = {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      MemoryStream[IngestDoc]
    }
    drive(rootR, cost, batches.take(2), Some(input))
    // the same source and checkpoint, a new pipeline object: its
    // driver-held dims start empty
    drive(rootR, cost, batches.drop(2), Some(input))

    def rows(dir: String): Map[Long, Set[Seq[Any]]] =
      StreamingState.batchIds(dir).map { id =>
        id -> spark.read.parquet(StreamingState.batchDir(dir, id)).collect().map(_.toSeq).toSet
      }.toMap
    for (sub <- Seq("packed", "bucket_state", "pack_cursor")) {
      val u = rows(s"$rootU/$sub")
      assert(u.keySet === Set(0L, 1L, 2L), sub)
      assert(rows(s"$rootR/$sub") === u, s"$sub differs after the restart")
    }
    val packed = rows(s"$rootU/packed")
    assert(packed(2L).nonEmpty, "the last batch packs survivors")
    assert(packed.values.map(_.size).sum < synthetic.size - 5, "admission must shed")
  }
}
