package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}

/** The micro-batch state contract every streaming operator shares, and
  * the one foreachBatch runner that drives them.
  *
  * Replay rule: Structured Streaming's foreachBatch delivers
  * at-least-once — a batch whose processing did not commit to the
  * streaming checkpoint is re-delivered with the SAME epochId. So every
  * state write lands in `<root>/batch=<id>` with overwrite
  * ([[append]]), and every read of history takes only ids strictly
  * before the batch being processed ([[history]]). A replay then
  * overwrites its own earlier partial output instead of accumulating a
  * second copy, and never probes against it: the state transition is
  * byte-identical to a first delivery. [[run]] applies the same rule
  * to each batch's output frame. The `batch=<id>` naming is
  * deliberately hive-style so a plain `spark.read.parquet(root)` still
  * works for consumers (the partition column surfaces as `batch`).
  *
  * All listing/existence/delete goes through the Hadoop FileSystem
  * API resolved from the root path's own scheme — a `file:/` root in
  * tests, an `hdfs://`/`s3a://` root on a real cluster — never
  * `java.io.File` (which silently sees NO directories on a remote
  * scheme: every history probe would come back empty and each dedup
  * verdict would be wrong with no error raised).
  *
  * Commit rule: a `batch=<id>` dir counts once it holds at least one
  * `*.parquet` part DIRECTLY under it. This is torn-write-safe with
  * Spark's FileOutputCommitter: in-flight parts live under the
  * `_temporary/` subtree until job commit, so a crash mid-write leaves
  * a dir whose only children are `_temporary` (and `.crc` litter) —
  * not counted, and the replay of the same epochId overwrites it
  * (torn-dir case pinned by StreamingReplaySpec).
  */
object StreamingState {

  private val BatchRe = "^batch=(\\d+)$".r

  /** On-disk layout version this build reads and writes. Bump when the
    * batch=<id> layout or the state parquet schemas change shape. */
  val FormatVersion = 1

  /** Marker file stamped at the root on first write (underscore
    * prefix: Spark's parquet reader ignores `_`-files, so a plain
    * `spark.read.parquet(root)` over the partition dirs still works). */
  val FormatFile = "_graft_format"

  def batchDir(root: String, batchId: Long): String = s"$root/batch=$batchId"

  /** The batch directory to WRITE batch `batchId` into: validates the
    * root's format marker (loud error on a version this build does not
    * know — a future layout change must fail here, not misread or
    * schema-clash deep inside a query) and stamps `FormatFile` at root
    * creation. Every state writer goes through this; readers validate
    * via [[batchIds]]. A marker-less root holding batch dirs is the
    * pre-marker v1 layout and stays readable. */
  def writeDir(root: String, batchId: Long): String = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(hadoopConf)
    checkFormat(fs, rootPath)
    val marker = new Path(rootPath, FormatFile)
    if (!fs.exists(marker)) {
      fs.mkdirs(rootPath)
      // two racing first writers both stamp version 1: same bytes,
      // overwrite=true makes the race benign
      val out = fs.create(marker, true)
      try out.write(s"$FormatVersion\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    batchDir(root, batchId)
  }

  /** Loud unknown-version guard: an engine upgrade that changes the
    * state layout must be DETECTED at a long-lived root, never
    * misread (the legacy-flat-layout guard's forward-looking twin). */
  private def checkFormat(fs: FileSystem, rootPath: Path): Unit = {
    val marker = new Path(rootPath, FormatFile)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val raw =
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8).trim
        finally in.close()
      if (raw.toIntOption != Some(FormatVersion)) throw new IllegalStateException(
        s"state root $rootPath declares format '$raw' but this build reads/writes " +
          s"format $FormatVersion: refusing to touch state written by a different " +
          "engine version. Migrate the root (or point at a fresh one).")
    }
  }

  // getActiveSession is thread-local: a listener / cleanup / non-Spark
  // thread would miss it and fall to a bare Configuration without the
  // session's spark.hadoop.* (credentials, endpoints) — check the
  // JVM-global default session before giving up.
  private def hadoopConf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  /** Committed batch ids under `root`, ascending (a dir counts once it
    * holds at least one parquet part — an empty mkdir, or a torn dir
    * holding only a `_temporary` subtree, is not a commit). Fails
    * LOUDLY on a legacy flat layout (stray `*.parquet` directly under
    * the root): treating pre-batch-layout state as empty would restart
    * ids at 0 alongside the old files and silently drop all history. */
  def batchIds(root: String): Seq[Long] = committed(root).map(_._1)

  /** The committed batches under `root`, ascending: each id with its
    * dir and the parquet parts directly under it (see [[batchIds]]). */
  private def committed(root: String): Seq[(Long, Path, Array[FileStatus])] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(hadoopConf)
    if (!fs.exists(rootPath) || !fs.getFileStatus(rootPath).isDirectory) Seq.empty
    else {
      checkFormat(fs, rootPath)
      val entries = fs.listStatus(rootPath).toSeq
      val legacy = entries.filter(e => e.isFile && e.getPath.getName.endsWith(".parquet"))
      if (legacy.nonEmpty) throw new IllegalStateException(
        s"state root $root holds ${legacy.size} parquet file(s) directly under it " +
          s"(e.g. ${legacy.head.getPath.getName}): this is the legacy flat append " +
          "layout, which the batch=<id> reader would silently treat as EMPTY " +
          "history. Migrate the files into batch=0 (or point at a fresh root).")
      entries.flatMap { e =>
        e.getPath.getName match {
          case BatchRe(id) if e.isDirectory =>
            val parts = fs.listStatus(e.getPath)
              .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
            if (parts.nonEmpty) Some((id.toLong, e.getPath, parts)) else None
          case _ => None
        }
      }.sortBy(_._1)
    }
  }

  /** The batch directories holding ids strictly before `before`
    * (all of them when `before` is None), ascending. */
  def batchDirs(root: String, before: Option[Long] = None): Seq[String] =
    batchIds(root)
      .filter(id => before.forall(id < _))
      .map(batchDir(root, _))

  /** Drop snapshot dirs older than the `keep` most recent ids at or
    * below `upTo` — dim-snapshot hygiene (replays only ever go back to
    * the last uncommitted batch, so a short tail is safe to prune). */
  def pruneBefore(root: String, upTo: Long, keep: Int): Unit = {
    val stale = batchIds(root).filter(_ <= upTo).dropRight(keep)
    if (stale.nonEmpty) {
      val fs = new Path(root).getFileSystem(hadoopConf)
      stale.foreach { id =>
        fs.delete(new Path(batchDir(root, id)), true)
        ()
      }
    }
  }

  /** The committed batches of `root` strictly before `before` (all of
    * them when `before` is None) as one frame, or an empty frame with
    * `schema` when there are none: the history a batch may see.
    *
    * The scan's file index is built from the parts [[committed]]
    * listed, so Spark lists nothing: handed more than
    * `parallelPartitionDiscovery.threshold` (32) dirs, its own listing
    * would run a Spark job on every read. */
  def history(s: SparkSession, root: String, schema: StructType,
      before: Option[Long]): DataFrame = {
    val batches = committed(root).filter { case (id, _, _) => before.forall(id < _) }
    if (batches.isEmpty) s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
    else {
      val parts = batches.map { case (_, dir, files) => dir -> files }.toMap
      val listed = new FileStatusCache {
        override def getLeafFiles(path: Path): Option[Array[FileStatus]] = parts.get(path)
        override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
        override def invalidateAll(): Unit = ()
      }
      val index = new InMemoryFileIndex(s, batches.map(_._2), Map.empty, Some(schema), listed)
      s.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema, schema,
        None, new ParquetFileFormat, Map.empty)(s))
    }
  }

  /** Write batch `batchId`'s contribution to `root` with overwrite, so a
    * replay of the same id replaces its earlier partial write. */
  def append(df: DataFrame, root: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(writeDir(root, batchId))

  /** Drive `stream` through foreachBatch: each micro-batch goes through
    * `batch` with its epochId, and when `outDir` is set the returned
    * frame is [[append]]ed to `outDir/batch=<epochId>` — readable as
    * one table via `spark.read.parquet(outDir)`. Each epoch is a pin
    * scope: its pins are released (non-blocking) once its output is
    * appended; state that outlives a batch lives in parquet. */
  def run[T](stream: Dataset[T], outDir: Option[String], checkpointDir: String)
      (batch: (Dataset[T], Long) => DataFrame): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: Dataset[T], epochId: Long) =>
        graft.operators.Dedup.withPinScope(b.sparkSession, s"batch-$epochId", blocking = false) {
          val out = batch(b, epochId)
          outDir.foreach(append(out, _, epochId))
        }
      }
      .start()
}
