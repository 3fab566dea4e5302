package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one operation (a query or a micro-batch) came to. `error` is
  * the exception class of a throw, or a digest mismatch. */
final case class Outcome(name: String, span: Int, seconds: Double,
    error: Option[String], digest: Option[String])

object Outcome {
  /** The exception class, then the start of its message. */
  def describe(e: Throwable): String =
    (e.getClass.getName + ": " + String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse(""))
      .take(300)
}

/** Runs a batch workload's queries once each, in the given order, as
  * one closed loop: construction (`queries(name)(spark, dir)`), then
  * execution (a `noop` write). Each query is timed as one span with
  * `construct` and `execute` children.
  *
  * Between queries, outside the timed spans, the harness records the
  * storage the query left behind, checks the result's digest against
  * `expected` (the same DataFrame, so construction is not repeated and
  * blocks it persisted are still there), and then unpersists every
  * persisted RDD without blocking, as `graft.Bench` does.
  *
  * A query that throws or whose digest differs is a failed operation,
  * with its exception class; its time is kept and the pass goes on. */
final class BatchPass(spark: SparkSession, tracer: Tracer,
    queries: String => (SparkSession, String) => DataFrame, dir: String,
    expected: Map[String, String]) {

  val jvm = new JvmGauges(spark)

  def run(order: Seq[String], parent: Int): Seq[Outcome] = order.map { name =>
    val g0 = jvm.gcMs
    var df: DataFrame = null
    var error: Option[String] = None
    // the phases share their boundary readings, so construct + execute
    // is exactly the query's span
    val t0 = System.nanoTime()
    val qSpan = tracer.begin(name, parent, t0)
    val c = tracer.begin("construct", qSpan, t0)
    var t = t0
    try {
      try df = queries(name)(spark, dir)
      finally { t = System.nanoTime(); tracer.finish(c, t) }
      val e = tracer.begin("execute", qSpan, t)
      try df.write.format("noop").mode("overwrite").save()
      finally { t = System.nanoTime(); tracer.finish(e, t) }
    } catch { case NonFatal(e) => error = Some(Outcome.describe(e)) }
    tracer.finish(qSpan, t)
    jvm.addGc(jvm.gcMs - g0)
    val span = tracer.spans(qSpan)
    val persisted = jvm.sample()
    var digest: Option[String] = None
    if (error.isEmpty) {
      try {
        digest = Some(Digest.of(df))
        error = Expected.check(expected, name, digest.get)
      } catch { case NonFatal(e) => error = Some(s"DigestFailed(${e.getClass.getName})") }
    }
    persisted.values.foreach(_.unpersist(blocking = false))
    Outcome(name, qSpan, span.seconds, error, digest)
  }
}

/** JVM and storage readings taken at operation boundaries: GC time
  * (summed over the timed spans only) and the persisted RDDs, with
  * their storage, that each operation left behind. */
final class JvmGauges(spark: SparkSession) {
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private var gcTotal = 0L
  val persisted = mutable.ArrayBuffer.empty[Int]
  val storageMb = mutable.ArrayBuffer.empty[Double]

  def gcMs: Long = beans.map(b => math.max(0L, b.getCollectionTime)).sum
  def addGc(ms: Long): Unit = gcTotal += ms
  def gcSeconds: Double = gcTotal / 1e3

  /** Records what is persisted now; returns those RDDs. */
  def sample(): collection.Map[Int, org.apache.spark.rdd.RDD[_]] = {
    val sc = spark.sparkContext
    val rdds = sc.getPersistentRDDs
    persisted += rdds.size
    storageMb += sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    rdds
  }

  def layerMetrics: Seq[(String, Double)] = Seq(
    "gc_s" -> gcSeconds,
    "persisted_rdds_peak" -> persisted.maxOption.getOrElse(0).toDouble,
    "storage_mb_peak" -> storageMb.maxOption.getOrElse(0.0),
    "rdds_left_end" -> persisted.sum.toDouble)
}
