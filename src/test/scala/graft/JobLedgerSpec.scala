package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Jobs are counted in one place: `JobLedger` is the only Spark
  * listener under `src/main` and `src/test`, and the only caller of
  * the listener-bus drain. A run's jobs are filed under the phase
  * labels `QueryRun` sets. */
class JobLedgerSpec extends SparkSpec {

  private def sources(root: String): Seq[(Path, String)] = {
    val files = Files.walk(Paths.get(root))
    try files.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toSeq
    finally files.close()
  }

  test("JobLedger is the one SparkListener and the one caller of drainListenerBus") {
    val listener = """\b(extends|new|with)\s+SparkListener\b""".r
    def listeners(root: String) = sources(root).flatMap { case (p, src) =>
      listener.findAllIn(src).map(_ => p.getFileName.toString)
    }
    assert(listeners("src/main") === Seq("JobLedger.scala"))
    assert(listeners("src/test") === Seq.empty)
    val drains = for {
      (p, src) <- sources("src/main") ++ sources("src/test")
      line <- src.linesIterator
      if line.contains("drainListenerBus(") && !line.contains("def drainListenerBus(")
    } yield p.getFileName.toString
    assert(drains.nonEmpty && drains.forall(_ == "JobLedger.scala"), drains)
  }

  test("a QueryRun's jobs are filed under its construct and execute labels") {
    val name = "q21_dedup_exact"
    val ledger = JobLedger.attach(spark)
    try {
      val run = QueryRun(spark, name, sfDir)
      assert(run.failure.isEmpty, run.failure)
      val all = ledger.tally()
      val construct = ledger.tally(_.description.contains(s"$name construct"))
      val execute = ledger.tally(_.description.contains(s"$name execute"))
      assert(execute.jobs > 0)
      assert(construct.jobs + execute.jobs === all.jobs)
      assert(ledger.jobs.size === all.jobs)
      assert(all.stages >= 1)
    } finally ledger.detach()
  }
}
