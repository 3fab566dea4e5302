package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingIngestPipeline
import graft.streaming.StreamingIngestPipeline.IngestDoc

/** Streaming-throughput bench: drives the composed
  * [[StreamingIngestPipeline]] (admission -> CDC gate -> LSH near-dup
  * gate -> context packing, all state parquet-on-disk and
  * epochId-keyed) over a rung's documents corpus through a
  * MemoryStream in fixed-size micro-batches, and prints ONE JSON line
  * with end-to-end rows/s and the per-batch latency distribution —
  * the SURVEY §5 streaming datum.
  *
  * Per-batch latency = addData + processAllAvailable wall time: the
  * full micro-batch turn including every state read, index append,
  * dim snapshot and packed-output write. The first batch is reported
  * separately (plan + codec warmup) and excluded from p50/p95.
  * `jobs_p50` is the median Spark job count of the same steady
  * batches, as a [[JobLedger]] files them under their batch id, so a
  * batch that starts running more jobs shows in the JSON line.
  * `first_batch_codegen` and `codegen_p50` count the generated classes
  * Spark compiled during the first batch and during the median steady
  * batch ([[JobLedger.codegenCompiles]]): a steady batch re-plans the
  * same query, so it should find every class in Spark's codegen cache.
  *
  * Usage: runMain graft.StreamBench <dir> [batchSize] [maxDocs]
  *
  * Scale caveat: the rung corpus is collected DRIVER-side to feed the
  * MemoryStream (MemoryStream is driver-fed by construction — fine
  * for a measurement harness, never a production path), so the
  * harness itself tops out at driver memory; cap the corpus with
  * `maxDocs` on rungs whose documents table exceeds the driver heap.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StreamBench <dir> [batchSize] [maxDocs]")
    val dir = args(0)
    val batchSize = if (args.length > 1) args(1).toInt else 4000
    val maxDocs = if (args.length > 2) args(2).toInt else Int.MaxValue
    val spark = Sessions.builder("32")
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // arrival order = doc_id order, ts_us monotone (the ingest
    // contract); same synthesis as StreamingIngestPipelineSpec
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .orderBy(col("doc_id")).limit(maxDocs).collect()
      .map(r => IngestDoc(r.getLong(0), r.getString(1),
        r.getLong(0) * 300000L, r.getString(2)))
    val root = java.nio.file.Files.createTempDirectory("streambench").toString
    // admission cost tiny vs cap: the datum prices the dedup indexes
    // and packing, not load shedding
    val pipe = new StreamingIngestPipeline(root, costMicro = 1000L,
      capMicro = 20000000L, dupShareMaxE6 = 950000L, minBands = 1L,
      ctxLen = 512)
    val ledger = JobLedger.attach(spark)
    val input = MemoryStream[IngestDoc]
    val q = pipe.run(input.toDS(), s"$root/packed", s"$root/ckpt")
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    val compiles = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    try {
      docs.grouped(batchSize).foreach { b =>
        val bt = System.nanoTime()
        val bc = JobLedger.codegenCompiles
        input.addData(b.toSeq)
        q.processAllAvailable()
        val t = (System.nanoTime() - bt) / 1e9
        times += t
        compiles += (JobLedger.codegenCompiles - bc).toDouble
        System.err.println(f"[streambench] batch ${times.size - 1}: ${b.size} docs, $t%.2f s, " +
          f"${compiles.last}%.0f classes compiled")
      }
    } finally q.stop()
    val totalS = (System.nanoTime() - t0) / 1e9
    val packed = spark.read.parquet(s"$root/packed").count()
    def pct(xs: Seq[Double], p: Double): Double = {
      val steady = xs.drop(1).sorted
      if (steady.isEmpty) xs.head
      else steady(math.min(steady.size - 1, (p * steady.size).toInt))
    }
    val batchJobs = times.indices.map(i => ledger.tally(_.batchId.contains(i.toLong)).jobs.toDouble)
    println(f"""{"mode":"streaming","dir":"$dir","docs":${docs.length},""" +
      f""""batch_size":$batchSize,"batches":${times.size},""" +
      f""""total_s":$totalS%.1f,"rows_per_sec":${docs.length / totalS}%.0f,""" +
      f""""first_batch_s":${times.head}%.2f,"p50_batch_s":${pct(times.toSeq, 0.5)}%.2f,""" +
      f""""jobs_p50":${pct(batchJobs, 0.5)}%.0f,""" +
      f""""first_batch_codegen":${compiles.head}%.0f,"codegen_p50":${pct(compiles.toSeq, 0.5)}%.0f,""" +
      f""""p95_batch_s":${pct(times.toSeq, 0.95)}%.2f,"packed_rows":$packed}""")
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
    spark.stop()
  }
}
