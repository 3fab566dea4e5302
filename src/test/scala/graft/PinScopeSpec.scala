package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit}

import graft.operators.{Curation, Dedup}
import graft.streaming.StreamingIngestPipeline
import graft.streaming.StreamingIngestPipeline.IngestDoc

/** Every pin has an owner that releases it: a streamed batch, a loop
  * round, a query. Counted as new persisted-RDD ids, as
  * LloydTrainerSpec counts them. */
class PinScopeSpec extends SparkSpec {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** 1,000 documents in arrival order: the fixture's 500, then each
    * again under a fresh id with a changed tail. */
  private lazy val docs: Seq[IngestDoc] = {
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => IngestDoc(r.getLong(0), r.getString(1), r.getLong(0) * 300000L, r.getString(2)))
      .sortBy(_.doc_id).toSeq
    val again = base.map(d => d.copy(doc_id = d.doc_id + 100000L,
      ts_us = (d.doc_id + 100000L) * 300000L, text = d.text + " revised edition"))
    base ++ again
  }

  /** Feeds `batches` through `StreamingIngestPipeline.run`. */
  private def ingest(batches: Seq[Seq[IngestDoc]]): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("pin_scope").toString
    val pipe = new StreamingIngestPipeline(root, costMicro = 1000L,
      capMicro = 20000000L, dupShareMaxE6 = 950000L, minBands = 1L, ctxLen = 512)
    val input = MemoryStream[IngestDoc]
    val q = pipe.run(input.toDS(), s"$root/packed", s"$root/ckpt")
    try batches.foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()
  }

  test("four streamed batches leave no pin; another scope's pin survives them") {
    val before = persisted
    // a pin of another owner, whose scope stays open on this thread
    // (and is inherited by the stream's thread) while the batches run
    Dedup.withPinScope(spark, "other-owner", blocking = true) {
      val other = Dedup.stage(spark.range(10).toDF("id"), eager = true)
      val otherIds = persisted -- before
      assert(otherIds.size == 1)
      ingest(docs.grouped(250).toSeq)
      val left = persisted -- before -- otherIds
      assert(left.isEmpty, s"the stream left ${left.size} pins")
      assert(otherIds.subsetOf(persisted))
      assert(other.count() == 10L)
    }
  }

  test("with stagingDir set, a streamed batch leaves no pin and no stage dir behind") {
    val staging = Files.createTempDirectory("pin_staging").toFile
    val before = persisted
    spark.conf.set(Dedup.StagingDirConf, staging.toString)
    try ingest(Seq(docs.take(250)))
    finally spark.conf.unset(Dedup.StagingDirConf)
    assert((persisted -- before).isEmpty)
    assert(staging.list().isEmpty, staging.list().toSeq)
  }

  test("connectedComponents leaves only the pin its result reads") {
    import spark.implicits._
    // two components, converged in two rounds
    val pairs = Seq((1L, 2L), (10L, 11L)).toDF("a", "b")
    val before = persisted
    val cc = Dedup.connectedComponents(pairs, "a", "b")
    val left = persisted -- before
    assert(left.size == 1, s"${left.size} pins left")
    assert(cc.as[(Long, Long)].collect().toSet ==
      Set((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L)))
  }

  test("a released pin fails loudly when read") {
    val pinned = Dedup.withPinScope(spark, "released", blocking = true) {
      Dedup.stage(spark.range(100).toDF("id"), eager = true)
    }
    val e = intercept[Exception](pinned.collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(messages.exists(_.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")), e)
  }

  test("a query scope releases its pins and staged dirs, not another scope's") {
    val before = persisted
    val kept = QueryRun.scoped(spark, "outer") {
      val outerPin = Dedup.stage(spark.range(5).toDF("id"), eager = true)
      val innerIds = QueryRun.scoped(spark, "inner") {
        val mark = persisted
        Dedup.stage(spark.range(7).toDF("id"), eager = true)
        persisted -- mark
      }
      assert(innerIds.size == 1 && (innerIds & persisted).isEmpty)
      outerPin.count()
    }
    assert(kept == 5L)
    assert((persisted -- before).isEmpty)
    val staging = Files.createTempDirectory("pin_query").toFile
    spark.conf.set(Dedup.StagingDirConf, staging.toString)
    try QueryRun.scoped(spark, "staged") {
      assert(Dedup.stage(spark.range(3).toDF("id")).count() == 3L)
      assert(staging.list().length == 1)
    } finally spark.conf.unset(Dedup.StagingDirConf)
    assert(staging.list().isEmpty)
  }

  test("an operator handed a pinned table reads it: one pin, not two") {
    QueryRun.scoped(spark, "repin") {
      val text = spark.range(4).select(col("id").as("doc_id"), lit("a b a").as("text"))
      val terms = Dedup.stage(Curation.termCounts(text, "text", "doc_id"))
      val dir = Dedup.stageParquet(Curation.termCounts(text, "text", "doc_id"))
      assert(Dedup.isPin(terms) && Dedup.isPin(dir))
      assert(!Dedup.isPin(terms.filter(col("tf") > 1)) && !Dedup.isPin(text))
      val before = persisted
      assert(Curation.unigramSurprisal(terms, "doc_id").count() == 4L)
      assert(Curation.unigramSurprisal(dir, "doc_id").count() == 4L)
      assert(persisted == before)
      // a derived table is pinned by the operator, as before
      Curation.unigramSurprisal(terms.filter(col("tf") > 0), "doc_id").count()
      assert((persisted -- before).size == 1)
    }
    // a stage_ dir outside the scratch root is a table, not a pin
    val table = Files.createTempDirectory("not_scratch")
    val outside = table.resolve("stage_table").toString
    try {
      spark.range(3).toDF("id").write.parquet(outside)
      assert(!Dedup.isPin(spark.read.parquet(outside)))
    } finally new scala.reflect.io.Directory(table.toFile).deleteRecursively()
  }
}
