package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.{Sessions, SparkEntry, Tables}
import graft.queries.RelationalQueries
import graft.streaming.{StreamingIngestPipeline, StreamingState}
import graft.streaming.StreamingIngestPipeline.IngestDoc

/** One benchmark run: set up a session, run one workload's timed pass,
  * check its outputs, and write the result as JSON for `run.py`.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --trace <0|1>
  *   --data <dir> --work <dir> --expected <json> --out <json> --spans <json>
  *
  * `--data` holds the sf0.1 and sf0.001 tables; `--work` is scratch
  * space for the stream's state. The seed only permutes a batch
  * workload's query order. A traced run also writes its spans to
  * `--spans`. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.byName(opts("workload"))
    val seed = opts("seed").toLong
    val traced = opts("trace") == "1"
    val data = opts("data")
    val expected = Expected.load(opts("expected"))

    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors.toString
    val spark = Sessions.builder(cores)
      .config("spark.local.dir", new File(opts("work"), "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    val listener = if (traced) Some(new LayerListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(spark.sparkContext, s"${workload.name}-$seed", traced)
    tracer.finish(tracer.begin("session", -1, t0), t1)
    // SparkEntry.entry's warmup query, on the checkout's copy of sf0.001
    tracer.within("warmup", -1)(_ => RelationalQueries.joinEnrich(spark, s"$data/sf0.001")
      .write.format("noop").mode("overwrite").save())
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val Seq(sessionS, warmupS) = Seq(0, 1).map(tracer.spans(_).seconds)
    System.err.println(f"[perfbench] setup $setupS%.2f s: session $sessionS%.2f s, warmup $warmupS%.2f s")

    val run = workload match {
      case w: Workloads.Batch => runBatch(spark, tracer, w, seed, s"$data/sf0.1", expected)
      case w: Workloads.Stream =>
        runStream(spark, tracer, w, s"$data/sf0.1", opts("work"), expected)
    }
    run.outcomes.foreach(o => System.err.println(f"[perfbench] ${o.name} ${o.seconds}%.2f s"))
    val metrics = mutable.LinkedHashMap[String, Double](
      "wall_s" -> run.wallS, "setup_s" -> setupS, "op_p50_s" -> run.opP50S)
    if (traced) {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val l = listener.get
      metrics ++= Seq("session_build_s" -> sessionS, "warmup_s" -> warmupS)
      metrics ++= run.layers(l)
      metrics("trace_overhead_s") = l.selfSeconds + tracer.tagSeconds
      Files.write(Paths.get(opts("spans")), tracer.json.getBytes(UTF_8))
    }
    spark.stop()

    val failures = run.outcomes.flatMap(o => o.error.map(e =>
      s"""{"op":${Json.str(o.name)},"error":${Json.str(e)}}"""))
    val observed = run.outcomes.flatMap(o => o.digest.map(d => s"${Json.str(o.name)}:${Json.str(d)}"))
    val out =
      s"""{"attempted":${run.outcomes.size},"failed":${failures.size},""" +
        s""""failures":${failures.mkString("[", ",", "]")},""" +
        s""""metrics":${metrics.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")},""" +
        s""""observed":${observed.mkString("{", ",", "}")}}"""
    Files.write(Paths.get(opts("out")), out.getBytes(UTF_8))
  }

  /** A finished pass: its outcomes, `wall_s`, the median operation
    * time, and a way to read the per-layer metrics once the listener
    * bus is drained. */
  final case class Run(outcomes: Seq[Outcome], wallS: Double, opP50S: Double,
      layers: LayerListener => Seq[(String, Double)])

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def workMetrics(w: Work): Seq[(String, Double)] = Seq(
    "stages" -> w.stages.toDouble, "tasks" -> w.tasks.toDouble,
    "executor_run_s" -> w.runMs / 1e3, "executor_cpu_s" -> w.cpuNs / 1e9,
    "serial_stage_s" -> w.serialRunMs / 1e3,
    "shuffle_read_mb" -> w.shuffleRead / 1e6, "shuffle_write_mb" -> w.shuffleWrite / 1e6,
    "spill_mb" -> w.spill / 1e6, "input_mb" -> w.inputBytes / 1e6,
    "input_rows" -> w.inputRows.toDouble)

  def runBatch(spark: SparkSession, tracer: Tracer, w: Workloads.Batch, seed: Long,
      dir: String, expected: Map[String, String]): Run = {
    val order = w.order(seed)
    val pass = new BatchPass(spark, tracer, SparkEntry.queries, dir, expected)
    val outcomes = tracer.within("pass", -1)(id => pass.run(order, id))
    def layers(l: LayerListener): Seq[(String, Double)] = {
      val q = outcomes.map(o => o.name -> o.span).toMap
      def phase(name: String) = outcomes.flatMap(o => tracer.children(o.span, name))
      val construct = phase("construct")
      val execute = phase("execute")
      val cw = l.spanWork(construct.map(_.id))
      val ew = l.spanWork(execute.map(_.id))
      val all = new Work
      all.add(cw); all.add(ew)
      Seq("construct_s" -> construct.map(_.seconds).sum, "construct_jobs" -> cw.jobs.toDouble,
        "execute_s" -> execute.map(_.seconds).sum, "exec_jobs" -> ew.jobs.toDouble) ++
        workMetrics(all) ++
        pass.jvm.layerMetrics ++
        Workloads.allQueries.flatMap { n =>
          val s = q.get(n).map(tracer.spans(_))
          Seq(s"$n.s" -> s.map(_.seconds).getOrElse(0.0),
            s"$n.construct_s" -> s.flatMap(x => tracer.children(x.id, "construct").headOption)
              .map(_.seconds).getOrElse(0.0))
        } ++ Workloads.streamLayerNames.map(_ -> 0.0)
    }
    Run(outcomes, outcomes.map(_.seconds).sum, median(outcomes.map(_.seconds)), layers)
  }

  def runStream(spark: SparkSession, tracer: Tracer, w: Workloads.Stream, dir: String,
      work: String, expected: Map[String, String]): Run = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // arrival order = doc_id order, ts_us monotone: StreamBench's feed
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .orderBy(col("doc_id")).limit(w.docs).collect()
      .map(r => IngestDoc(r.getLong(0), r.getString(1), r.getLong(0) * 300000L, r.getString(2)))
    val root = new File(work, s"stream-${tracer.trace}")
    org.apache.hadoop.fs.FileUtil.fullyDelete(root)
    val rootPath = root.getAbsolutePath
    // StreamBench's pipeline parameters
    val pipe = new StreamingIngestPipeline(rootPath, costMicro = 1000L,
      capMicro = 20000000L, dupShareMaxE6 = 950000L, minBands = 1L, ctxLen = 512)
    val input = MemoryStream[IngestDoc]
    val out = s"$rootPath/packed"
    val start = tracer.begin("start", -1)
    val q = pipe.run(input.toDS(), out, s"$rootPath/ckpt")
    tracer.finish(start)
    val jvm = new JvmGauges(spark)
    val batches = docs.grouped(w.batchDocs).toSeq
    val outcomes = mutable.ArrayBuffer.empty[Outcome]
    var dead: Option[String] = None
    val passSpan = try tracer.within("pass", -1) { pass =>
      batches.indices.foreach { i =>
        val name = s"batch=$i"
        if (dead.isDefined) outcomes += Outcome(name, -1, 0.0, dead, None)
        else {
          var error: Option[String] = None
          val g0 = jvm.gcMs
          val span = tracer.within(name, pass) { id =>
            try {
              input.addData(batches(i).toSeq)
              q.processAllAvailable()
            } catch { case NonFatal(e) => error = Some(Outcome.describe(e)); dead = error }
            id
          }
          jvm.addGc(jvm.gcMs - g0)
          jvm.sample()
          outcomes += Outcome(name, span, tracer.spans(span).seconds, error, None)
        }
      }
      pass
    } finally q.stop()
    val progress = q.recentProgress.toSeq
    // untimed check of each batch's packed output
    val checked = outcomes.toSeq.map { o =>
      if (o.error.isDefined) o
      else try {
        val d = Digest.of(spark.read.parquet(StreamingState.batchDir(out, o.name.drop(6).toLong)))
        val err = Expected.check(expected, o.name, d)
        o.copy(error = err, digest = Some(d))
      } catch { case NonFatal(e) => o.copy(error = Some(s"DigestFailed(${e.getClass.getName})")) }
    }
    val steady = checked.drop(1).filter(_.span >= 0).map(_.seconds)
    def layers(l: LayerListener): Seq[(String, Double)] = {
      val timed = progress.filter(_.durationMs.containsKey("addBatch"))
      def ms(keys: String*): Double =
        median(timed.drop(1).map(p => keys.map(k => Option(p.durationMs.get(k)).fold(0L)(_.longValue)).sum.toDouble))
      val all = new Work
      l.byBatch.values.foreach(all.add)
      val stateFiles = Files.walk(root.toPath).iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.startsWith(Paths.get(out))).toSeq
      val packedRows = checked.flatMap(_.digest).map(Digest.rows(_).toLong).sum
      // construction is starting the streaming query; execution is the
      // micro-batches
      Seq("construct_s" -> tracer.spans(start).seconds,
        "construct_jobs" -> l.spanWork(Seq(start)).jobs.toDouble,
        "execute_s" -> tracer.spans(passSpan).seconds, "exec_jobs" -> all.jobs.toDouble) ++
        workMetrics(all) ++ jvm.layerMetrics ++
        Workloads.allQueries.flatMap(n => Seq(s"$n.s" -> 0.0, s"$n.construct_s" -> 0.0)) ++
        Seq("stream.first_batch_s" -> checked.head.seconds,
          "stream.add_batch_ms" -> ms("addBatch"),
          "stream.planning_ms" -> ms("queryPlanning"),
          // getBatch for v1 sources, latestOffset for v2 ones (MemoryStream)
          "stream.get_batch_ms" -> ms("getBatch", "latestOffset"),
          "stream.commit_ms" -> ms("walCommit", "commitOffsets"),
          "stream.jobs_per_batch" -> median(l.byBatch.toSeq.sortBy(_._1).drop(1).map(_._2.jobs.toDouble)),
          "stream.state_mb" -> stateFiles.map(Files.size(_)).sum / 1e6,
          "stream.state_files" -> stateFiles.size.toDouble,
          "stream.packed_rows" -> packedRows.toDouble)
    }
    Run(checked, tracer.spans(passSpan).seconds, median(steady), layers)
  }
}

/** Expected result digests, recorded on a known-good commit: a name
  * maps to `<rows>:<hash sum>`, or to `<rows>` for a result whose hash
  * sum is not stable from run to run. */
object Expected {
  def load(path: String): Map[String, String] = {
    val f = new File(path)
    if (!f.exists()) Map.empty
    else {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f).get("expected")
      root.properties().asScala.map(e => e.getKey -> e.getValue.get("value").asText()).toMap
    }
  }

  /** Why `digest` fails the check for `name`, if it does. An empty
    * `expected` (a recording run) checks nothing. */
  def check(expected: Map[String, String], name: String, digest: String): Option[String] =
    expected.get(name) match {
      case Some(exp) if exp.contains(':') && exp != digest =>
        Some(s"DigestMismatch(expected $exp, got $digest)")
      case Some(exp) if !exp.contains(':') && exp != Digest.rows(digest) =>
        Some(s"RowCountMismatch(expected $exp, got ${Digest.rows(digest)})")
      case None if expected.nonEmpty => Some("NoExpectedDigest")
      case _ => None
    }
}
