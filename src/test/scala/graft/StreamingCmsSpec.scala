package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.queries.ScaleOpsQueries
import graft.streaming.StreamingCmsCounter

/** The incremental CMS: folded per-batch counters must equal the batch
  * sketch in any batching, and watchlist estimates must match q171. */
class StreamingCmsSpec extends SparkSpec {

  test("streamed sketch estimates equal batch q171 on the heavy hitters") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1)))

    val tmp = java.nio.file.Files.createTempDirectory("cms").toFile
    val cms = new StreamingCmsCounter(s"$tmp/sketch")
    val input = MemoryStream[(Long, String)]
    val q = cms.run(input.toDF().toDF("doc_id", "text"), "text", s"$tmp/chk")
    try {
      docs.grouped(170).foreach { g =>
        input.addData(g.toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    val batch = ScaleOpsQueries.cmsHeavyHitters(spark, sfDir).collect()
    val probes = batch.map(_.getAs[String]("tok")).toSeq.toDF("tok")
    val est = cms.estimates(spark, probes).collect()
      .map(r => r.getAs[String]("tok") -> r.getAs[Long]("cms_est")).toMap
    batch.foreach { r =>
      assert(est(r.getAs[String]("tok")) === r.getAs[Long]("cms_est"),
        r.getAs[String]("tok"))
    }
  }

  test("the sketch is batching-invariant (abelian counter folds)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val tmpA = java.nio.file.Files.createTempDirectory("cmsA").toFile
    val tmpB = java.nio.file.Files.createTempDirectory("cmsB").toFile
    val unscoped = unscopedPins
    // each batch in its own pin scope, as StreamingState.run runs it
    def scoped[T](body: => T): T = QueryRun.scoped(spark, "cms-batching")(body)
    val a = new StreamingCmsCounter(s"$tmpA/sketch")
    val b = new StreamingCmsCounter(s"$tmpB/sketch")
    // batching A: two halves by id; batching B: odd/even interleave,
    // reversed order
    scoped(a.processBatch(docs.filter(col("doc_id") < 250), "text", 0L))
    scoped(a.processBatch(docs.filter(col("doc_id") >= 250), "text", 1L))
    scoped(b.processBatch(docs.filter(col("doc_id") % 2 === 1), "text", 0L))
    scoped(b.processBatch(docs.filter(col("doc_id") % 2 === 0), "text", 1L))
    def state(c: StreamingCmsCounter) = c.sketch(spark).collect()
      .map(r => (r.getAs[Int]("d"), r.getAs[Long]("cell")) -> r.getAs[Long]("cnt"))
      .toMap
    assert(state(a) === state(b))
    assert(state(a).nonEmpty)
    assert((unscopedPins -- unscoped).isEmpty, "a batch pinned outside its scope")
  }
}
