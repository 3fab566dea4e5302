package graft

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.{GraftInternals, SparkSession}

/** The one job ledger: a listener that files every Spark job, and every
  * stage, under the properties it was submitted with, and sums their
  * cost per label. The labels are the job description (`QueryRun`'s
  * "<name> construct" and "<name> execute") and the micro-batch id Spark
  * sets on every job of a streamed micro-batch. Reads drain the listener
  * bus first, so they see every job started before the read.
  *
  * Attached only by callers that read it (JobProf, StreamBench, the
  * job-budget specs); a plain run carries no listener. */
final class JobLedger private (spark: SparkSession) extends SparkListener {
  import JobLedger._

  private val tallies = mutable.HashMap.empty[Label, Tally]
  private val jobList = mutable.ArrayBuffer.empty[Job]
  private val stageLabels = mutable.HashMap.empty[(Int, Int), Label]

  private def file(l: Label, t: Tally): Unit = tallies(l) = tallies.getOrElse(l, Tally()) + t

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val l = label(e.properties)
    jobList += Job(e.jobId, l, e.time)
    file(l, Tally(jobs = 1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val i = jobList.lastIndexWhere(_.id == e.jobId)
    if (i >= 0) {
      val j = jobList(i).copy(ms = e.time - jobList(i).start)
      jobList(i) = j
      file(j.label, Tally(jobMs = j.ms))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageLabels((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = label(e.properties)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    stageLabels.remove((s.stageId, s.attemptNumber())).foreach { l =>
      val m = Option(s.taskMetrics)
      val runMs = m.fold(0L)(_.executorRunTime)
      file(l, Tally(stages = 1, tasks = s.numTasks, runMs = runMs,
        serialRunMs = if (s.numTasks <= SerialTasks) runMs else 0L,
        shuffleRead = m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
        shuffleWrite = m.fold(0L)(_.shuffleWriteMetrics.bytesWritten)))
    }
  }

  /** The summed cost of the labels `in` selects (every label by default). */
  def tally(in: Label => Boolean = _ => true): Tally = {
    GraftInternals.drainListenerBus(spark)
    synchronized(tallies.collect { case (l, t) if in(l) => t }.foldLeft(Tally())(_ + _))
  }

  /** Every job since the last reset, in start order. */
  def jobs: Seq[Job] = {
    GraftInternals.drainListenerBus(spark)
    synchronized(jobList.toSeq)
  }

  /** Forgets every job and stage filed so far. */
  def reset(): Unit = {
    GraftInternals.drainListenerBus(spark)
    synchronized { tallies.clear(); jobList.clear() }
  }

  /** Stops listening once the jobs started so far are filed; reads still work. */
  def detach(): Unit = {
    GraftInternals.drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(this)
  }
}

object JobLedger {
  /** The properties a job or stage was submitted with. */
  final case class Label(description: Option[String], batchId: Option[Long])

  /** One job; `ms` is -1 until it ends. */
  final case class Job(id: Int, label: Label, start: Long, ms: Long = -1L)

  /** What the jobs and stages of some labels cost. Serial stages (at
    * most [[SerialTasks]] tasks) cannot spread over the cores. */
  final case class Tally(jobs: Int = 0, jobMs: Long = 0L, stages: Int = 0, tasks: Long = 0L,
      runMs: Long = 0L, serialRunMs: Long = 0L, shuffleRead: Long = 0L, shuffleWrite: Long = 0L) {
    def +(o: Tally): Tally = Tally(jobs + o.jobs, jobMs + o.jobMs, stages + o.stages,
      tasks + o.tasks, runMs + o.runMs, serialRunMs + o.serialRunMs,
      shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite)
  }

  private val SerialTasks = 2

  /** Generated classes compiled in this JVM so far, by every session:
    * Spark times each compile into one JVM-global histogram, whose count
    * is exact (its time sum is sampled). Diff two reads to count a span. */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** A ledger of the jobs started after this call. */
  def attach(spark: SparkSession): JobLedger = {
    GraftInternals.drainListenerBus(spark)
    val ledger = new JobLedger(spark)
    spark.sparkContext.addSparkListener(ledger)
    ledger
  }

  private def label(p: Properties): Label = {
    def prop(k: String) = Option(p).flatMap(p => Option(p.getProperty(k)))
    Label(prop("spark.job.description"), prop("streaming.sql.batchId").map(_.toLong))
  }
}
