package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.streaming.StreamingState

/** The on-disk contract of the batch-keyed state layout, exercised
  * through the Hadoop FileSystem API the way a real deployment would
  * hit it:
  *
  *  - batchIds/batchDirs/pruneBefore work on a root WITH an explicit
  *    scheme prefix (`file:/...`) — the regression this pins is the
  *    former `java.io.File` walk, which sees NO directories on any
  *    non-local scheme and silently returns empty history;
  *  - a TORN batch dir (crash mid-write: only a `_temporary` subtree
  *    and committer litter, no parquet part at the top level) is not
  *    counted as committed, and replaying the same epochId lands the
  *    correct state;
  *  - a legacy flat layout (stray `*.parquet` directly under the
  *    root) fails LOUDLY instead of being treated as empty history;
  *  - the `_graft_format` version marker is stamped at root creation
  *    and an unknown version fails LOUDLY on both read and write;
  *  - `history` returns only ids strictly before the batch, or an
  *    empty frame with the given schema, and no `src/main` file but
  *    StreamingState.scala drives foreachBatch;
  *  - reading history costs no more jobs at 40 batch dirs than at 5
  *    (past Spark's parallel-listing threshold of 32 paths).
  */
class StreamingStateSpec extends SparkSpec {

  private def writeBatch(root: String, id: Long, vals: Seq[Long]): Unit = {
    import spark.implicits._
    vals.toDF("v").write.mode("overwrite")
      .parquet(StreamingState.batchDir(root, id))
  }

  test("batchIds and batchDirs resolve through a scheme-prefixed root") {
    val plain = Files.createTempDirectory("ss_scheme").toString
    writeBatch(plain, 0L, Seq(1L, 2L))
    writeBatch(plain, 3L, Seq(3L))
    val schemed = s"file:$plain"
    // both spellings of the same root agree, through the FS API
    assert(StreamingState.batchIds(schemed) === Seq(0L, 3L))
    assert(StreamingState.batchIds(plain) === Seq(0L, 3L))
    assert(StreamingState.batchDirs(schemed, before = Some(3L)) ===
      Seq(s"$schemed/batch=0"))
    // the listed dirs are readable back as parquet
    val rows = spark.read.parquet(StreamingState.batchDirs(schemed): _*)
      .agg(sum(col("v"))).first().getLong(0)
    assert(rows === 6L)
    // a missing root is empty history, not an error — on any scheme
    assert(StreamingState.batchIds(s"file:$plain/nope") === Seq.empty)

    // history: the union of committed batches strictly before `before`,
    // or an empty frame carrying the given schema
    val schema = StructType(Seq(StructField("v", LongType)))
    def hist(root: String, before: Option[Long]) =
      StreamingState.history(spark, root, schema, before)
    val empty = hist(s"file:$plain/nope", None)
    assert(empty.schema === schema)
    assert(empty.isEmpty)
    def vals(before: Option[Long]) =
      hist(schemed, before).collect().map(_.getLong(0)).sorted.toSeq
    assert(vals(None) === Seq(1L, 2L, 3L))
    assert(vals(Some(3L)) === Seq(1L, 2L), "batch 3 itself is not history")
    assert(vals(Some(1L)) === Seq(1L, 2L))
    assert(vals(Some(0L)) === Seq.empty, "no id before 0")
    assert(hist(schemed, Some(0L)).schema === schema)
  }

  test("a history read launches no more jobs at 40 batch dirs than at 5") {
    import spark.implicits._
    val schema = StructType(Seq(StructField("v", LongType)))
    def jobsToCount(n: Int): (Long, Int) = {
      val root = s"${Files.createTempDirectory("ss_hist")}/root$n"
      (0 until n).map(i => (i.toLong, i.toLong)).toDF("v", "batch")
        .write.partitionBy("batch").parquet(root)
      assert(StreamingState.batchIds(root) === (0L until n.toLong))
      val ledger = JobLedger.attach(spark)
      try {
        val rows = StreamingState.history(spark, root, schema, Some(n.toLong)).count()
        (rows, ledger.tally().jobs)
      } finally ledger.detach()
    }
    val (rows5, jobs5) = jobsToCount(5)
    val (rows40, jobs40) = jobsToCount(40)
    assert(rows5 === 5L && rows40 === 40L)
    assert(jobs40 <= jobs5, s"40 dirs: $jobs40 jobs, 5 dirs: $jobs5")
  }

  test("foreachBatch is driven only by StreamingState.run") {
    // one runner owns the replay contract: a hand-rolled foreachBatch
    // in another source file would re-implement it
    val runners = Files.walk(java.nio.file.Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("foreachBatch"))
      .map(_.getFileName.toString).toSeq
    assert(runners === Seq("StreamingState.scala"))
  }

  test("a torn batch dir is not committed; replaying the epoch repairs it") {
    val root = Files.createTempDirectory("ss_torn").toString
    writeBatch(root, 0L, Seq(10L))
    // fabricate the crash-mid-write shape FileOutputCommitter leaves:
    // batch=1 exists but holds only the _temporary subtree + crc litter
    val torn = new java.io.File(s"$root/batch=1")
    assert(new java.io.File(torn, "_temporary/0").mkdirs())
    Files.write(torn.toPath.resolve("_temporary/0/part-00000.parquet"),
      Array[Byte](1, 2, 3))
    Files.write(torn.toPath.resolve(".part-00000.snappy.parquet.crc"),
      Array[Byte](9))
    assert(StreamingState.batchIds(root) === Seq(0L),
      "a dir without a top-level parquet part must not count as committed")
    assert(StreamingState.batchDirs(root) === Seq(s"$root/batch=0"))
    // foreachBatch re-delivers epoch 1; the overwrite write replaces
    // the torn dir and the batch commits with the correct content
    writeBatch(root, 1L, Seq(20L, 21L))
    assert(StreamingState.batchIds(root) === Seq(0L, 1L))
    val vals = spark.read.parquet(StreamingState.batchDir(root, 1L))
      .select(col("v")).collect().map(_.getLong(0)).sorted.toSeq
    assert(vals === Seq(20L, 21L))
  }

  test("legacy flat-append layout fails loudly instead of reading as empty") {
    import spark.implicits._
    val root = Files.createTempDirectory("ss_legacy").toString
    // pre-batch-layout state: parquet parts directly under the root
    Seq(1L, 2L).toDF("v").write.mode("overwrite").parquet(root)
    val ex = intercept[IllegalStateException] { StreamingState.batchIds(root) }
    assert(ex.getMessage.contains("legacy flat append"))
    // and the same through a scheme-prefixed spelling
    intercept[IllegalStateException] { StreamingState.batchIds(s"file:$root") }
  }

  test("pruneBefore deletes through the FS API on a scheme-prefixed root") {
    val plain = Files.createTempDirectory("ss_prune").toString
    (0L to 4L).foreach(id => writeBatch(plain, id, Seq(id)))
    StreamingState.pruneBefore(s"file:$plain", upTo = 3L, keep = 2)
    // ids 0,1 dropped (older than the 2 most recent <= 3); 2,3,4 stay
    assert(StreamingState.batchIds(plain) === Seq(2L, 3L, 4L))
    assert(!new java.io.File(s"$plain/batch=0").exists())
  }

  test("format marker: stamped at root creation, loud fail on an unknown version") {
    import spark.implicits._
    // writeDir on a fresh root stamps format=1 and returns the batch dir
    val root = Files.createTempDirectory("ss_format").toString
    Seq(1L, 2L).toDF("v").write.mode("overwrite")
      .parquet(StreamingState.writeDir(root, 0L))
    val marker = new java.io.File(root, StreamingState.FormatFile)
    assert(marker.isFile, "writeDir must stamp the marker at root creation")
    assert(new String(Files.readAllBytes(marker.toPath)).trim ===
      StreamingState.FormatVersion.toString)
    assert(StreamingState.batchIds(root) === Seq(0L))
    // the underscore-prefixed marker is invisible to the parquet reader
    assert(spark.read.parquet(root).agg(sum(col("v"))).first().getLong(0) === 3L)
    // a second write re-validates without re-stamping and still lands
    Seq(9L).toDF("v").write.mode("overwrite")
      .parquet(StreamingState.writeDir(root, 1L))
    assert(StreamingState.batchIds(root) === Seq(0L, 1L))

    // a FUTURE layout version must fail LOUDLY on both read and write —
    // an engine upgrade that changes the state shape is detected here,
    // never misread deep inside a query
    val future = Files.createTempDirectory("ss_format2").toString
    Seq(1L).toDF("v").write.mode("overwrite")
      .parquet(StreamingState.batchDir(future, 0L))
    Files.write(new java.io.File(future, StreamingState.FormatFile).toPath,
      "2\n".getBytes("UTF-8"))
    val exRead = intercept[IllegalStateException] { StreamingState.batchIds(future) }
    assert(exRead.getMessage.contains("format '2'"), exRead.getMessage)
    val exWrite = intercept[IllegalStateException] { StreamingState.writeDir(future, 1L) }
    assert(exWrite.getMessage.contains("format '2'"), exWrite.getMessage)
    // a corrupt marker is just as loud — never parsed as "probably v1"
    Files.write(new java.io.File(future, StreamingState.FormatFile).toPath,
      "banana".getBytes("UTF-8"))
    intercept[IllegalStateException] { StreamingState.batchIds(future) }

    // a marker-LESS root holding batch dirs is the pre-marker v1
    // layout and stays readable (the other tests fabricate these; pin
    // the contract explicitly)
    val legacy = Files.createTempDirectory("ss_format_v0").toString
    Seq(5L).toDF("v").write.mode("overwrite")
      .parquet(StreamingState.batchDir(legacy, 0L))
    assert(StreamingState.batchIds(legacy) === Seq(0L))
  }

  test("state layer and footprint probe resolve a NON-default scheme (testfs:)") {
    // `file:` specs can pass even through java.io.File by accident —
    // register a second scheme whose paths only a scheme-resolved
    // Hadoop FileSystem lookup can serve, so a resolution regression
    // (hardcoded FileSystem.get / java.io walk) fails here
    spark.sparkContext.hadoopConfiguration.set(
      "fs.testfs.impl", classOf[TestSchemeFileSystem].getName)
    val plain = Files.createTempDirectory("ss_testfs").toString
    val root = s"testfs:$plain/state"

    writeBatch(root, 0L, Seq(1L, 2L))
    writeBatch(root, 2L, Seq(3L))
    assert(StreamingState.batchIds(root) === Seq(0L, 2L))
    val dirs = StreamingState.batchDirs(root)
    assert(dirs.forall(_.startsWith("testfs:")),
      s"listed dirs must carry the scheme: $dirs")
    val total = spark.read.parquet(dirs: _*)
      .agg(sum(col("v"))).first().getLong(0)
    assert(total === 6L)
    StreamingState.pruneBefore(root, upTo = 2L, keep = 1)
    assert(StreamingState.batchIds(root) === Seq(2L))
    assert(!new java.io.File(s"$plain/state/batch=0").exists())

    // the Dedup footprint probe through the same scheme: a scan whose
    // inputFiles are testfs: URIs must read a REAL byte count (a
    // java.io.File walk reads 0 and an unresolved scheme throws)
    val df = spark.read.parquet(StreamingState.batchDir(root, 2L))
    assert(df.inputFiles.nonEmpty && df.inputFiles.forall(_.startsWith("testfs:")))
    val key = graft.operators.Dedup.StageMinInputBytesConf
    try {
      spark.conf.set(key, "1")
      assert(graft.operators.Dedup.atScale(df),
        "a 1-byte threshold must see the real testfs: footprint")
      spark.conf.set(key, (1L << 40).toString)
      assert(!graft.operators.Dedup.atScale(df),
        "a 1 TiB threshold must not trip on a KB-scale testfs: input")
    } finally spark.conf.unset(key)
  }
}

/** RawLocalFileSystem re-registered under the `testfs:` scheme — the
  * standard Hadoop-test trick for exercising scheme resolution without
  * a real remote filesystem. Must be a top-level class: Hadoop
  * instantiates it reflectively via the no-arg constructor. */
class TestSchemeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("testfs:///")
}
