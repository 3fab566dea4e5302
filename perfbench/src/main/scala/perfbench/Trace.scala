package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** One timed interval at a layer boundary. `parent` is the id of the
  * span that caused it (-1 for a root); every span of one run shares
  * `trace`. Times are `System.nanoTime` readings. */
final case class Span(id: Int, name: String, parent: Int, trace: String,
    start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Records spans in memory around the harness's calls into the engine.
  *
  * Timing is the same with tracing on or off, so the untraced run's
  * `wall_s` and the traced run's span tree come from one code path.
  * With tracing on, the open span's id is also set as a Spark local
  * property, so [[LayerListener]] can attribute every job (and its
  * stages) to the query and phase whose call started it. */
final class Tracer(sc: SparkContext, val trace: String, val tagJobs: Boolean) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  /** Driver-thread time spent on tagging jobs (tracing overhead). */
  private var tagNs = 0L

  def spans: Seq[Span] = buf.toSeq

  /** Opens a span at `at` and tags jobs started from here with it. */
  def begin(name: String, parent: Int, at: Long = System.nanoTime()): Int = {
    val id = buf.size
    buf += Span(id, name, parent, trace, at, -1L)
    tag(id)
    id
  }

  /** Closes span `id` at `at` and tags jobs with its parent again. */
  def finish(id: Int, at: Long = System.nanoTime()): Unit = {
    buf(id) = buf(id).copy(end = at)
    tag(buf(id).parent)
  }

  def within[T](name: String, parent: Int)(body: Int => T): T = {
    val id = begin(name, parent)
    try body(id) finally finish(id)
  }

  private def tag(id: Int): Unit = if (tagJobs) {
    val t0 = System.nanoTime()
    sc.setLocalProperty(Tracer.SpanKey, if (id < 0) null else id.toString)
    tagNs += System.nanoTime() - t0
  }

  def tagSeconds: Double = tagNs / 1e9

  def children(parent: Int, name: String): Seq[Span] =
    buf.iterator.filter(s => s.parent == parent && s.name == name).toSeq

  def json: String = buf.map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      s""""trace":${Json.str(s.trace)},"start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("[", ",\n", "]")
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** Set by Spark's micro-batch execution on the jobs of each batch. */
  val BatchKey = "streaming.sql.batchId"
}

/** Engine work attributed to one span (or one micro-batch). */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var serialRunMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRows = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; serialRunMs += o.serialRunMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; inputBytes += o.inputBytes; inputRows += o.inputRows
  }
}

/** The benchmark's own listener: attributes jobs, and the stage metrics
  * Spark aggregates per completed stage, to the span tagged on the job
  * (or to the streaming batch id). Stages with at most
  * [[LayerListener.SerialTasks]] tasks count as serial. Spark delivers
  * one listener's events on one thread; read the maps only after
  * draining the bus. */
final class LayerListener extends SparkListener {
  private val stageOwner = mutable.HashMap.empty[Int, Work]
  val bySpan = mutable.HashMap.empty[Int, Work]
  val byBatch = mutable.HashMap.empty[Long, Work]
  private var selfNs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val t0 = System.nanoTime()
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    prop(Tracer.BatchKey).map(b => byBatch.getOrElseUpdate(b.toLong, new Work))
      .orElse(prop(Tracer.SpanKey).map(s => bySpan.getOrElseUpdate(s.toInt, new Work)))
      .foreach { w =>
        w.jobs += 1
        e.stageIds.foreach(stageOwner(_) = w)
      }
    selfNs += System.nanoTime() - t0
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val t0 = System.nanoTime()
    val info = e.stageInfo
    stageOwner.get(info.stageId).foreach { w =>
      val m = info.taskMetrics
      w.stages += 1
      w.tasks += info.numTasks
      if (m != null) {
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        if (info.numTasks <= LayerListener.SerialTasks) w.serialRunMs += m.executorRunTime
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.inputBytes += m.inputMetrics.bytesRead
        w.inputRows += m.inputMetrics.recordsRead
      }
    }
    selfNs += System.nanoTime() - t0
  }

  def selfSeconds: Double = selfNs / 1e9

  def spanWork(ids: Iterable[Int]): Work = {
    val w = new Work
    ids.foreach(i => bySpan.get(i).foreach(w.add))
    w
  }
}

object LayerListener {
  val SerialTasks = 2
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
