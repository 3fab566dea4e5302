package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The harness's own checks: failures are counted, not dropped, and
  * the per-query phases account for the query's time. */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = spark.stop()

  private val boom = udf((x: Long) => if (x == 3L) throw new IllegalStateException("boom") else x)

  private val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ok" -> ((s, _) => s.range(10).toDF("id")),
    "persists" -> ((s, _) => s.range(100).toDF("id").localCheckpoint()),
    "throws_building" -> ((_, _) => throw new UnsupportedOperationException("no plan")),
    "throws_running" -> ((s, _) => s.range(10).select(boom(col("id")).as("id"))))

  private def pass(expected: Map[String, String], order: Seq[String]) = {
    val tracer = new Tracer(spark.sparkContext, "spec", tagJobs = true)
    val p = new BatchPass(spark, tracer, queries, "unused", expected)
    (tracer, p, p.run(order, -1))
  }

  private def digestOf(name: String): String = Digest.of(queries(name)(spark, ""))

  test("a matching digest passes and a tampered one is a failed op") {
    val good = digestOf("ok")
    val (_, _, ok) = pass(Map("ok" -> good), Seq("ok"))
    assert(ok.head.error.isEmpty)
    val tampered = Digest.rows(good) + ":" + (BigInt(good.dropWhile(_ != ':').drop(1)) + 1)
    val (_, _, bad) = pass(Map("ok" -> tampered), Seq("ok"))
    assert(bad.head.error.exists(_.startsWith("DigestMismatch")))
    val (_, _, rows) = pass(Map("ok" -> "11"), Seq("ok"))
    assert(rows.head.error.exists(_.startsWith("RowCountMismatch")))
  }

  test("a query that throws is a failed op with its class, keeps its time, and the pass goes on") {
    val exp = Map("ok" -> digestOf("ok"), "throws_building" -> "0", "throws_running" -> "10")
    val (_, _, out) = pass(exp, Seq("throws_building", "ok", "throws_running"))
    assert(out.map(_.name) == Seq("throws_building", "ok", "throws_running"))
    assert(out.head.error.exists(_.startsWith("java.lang.UnsupportedOperationException")))
    assert(out(2).error.exists(_.startsWith("org.apache.spark.SparkException")))
    assert(out(1).error.isEmpty)
    assert(out.count(_.error.isDefined) == 2)
    assert(out.forall(_.seconds > 0))
  }

  test("construct_s plus execute_s is the query's time") {
    val (tracer, _, out) = pass(Map.empty, Seq("ok", "persists", "throws_running"))
    out.foreach { o =>
      val q = tracer.spans(o.span)
      val phases = Seq("construct", "execute").flatMap(tracer.children(o.span, _))
      assert(phases.size == 2)
      assert(math.abs(phases.map(_.seconds).sum - q.seconds) < 1e-9)
      assert(o.seconds == q.seconds)
    }
  }

  test("persisted results are recorded before the cleanup unpersists them") {
    val (_, p, _) = pass(Map.empty, Seq("persists", "ok"))
    assert(p.jvm.persisted == Seq(1, 0))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("the listener attributes jobs to the phase that started them") {
    val tracer = new Tracer(spark.sparkContext, "spec", tagJobs = true)
    val l = new LayerListener
    spark.sparkContext.addSparkListener(l)
    try {
      val p = new BatchPass(spark, tracer, queries, "unused", Map.empty)
      val out = p.run(Seq("persists"), -1)
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val c = tracer.children(out.head.span, "construct").map(_.id)
      val e = tracer.children(out.head.span, "execute").map(_.id)
      assert(l.spanWork(c).jobs >= 1)
      assert(l.spanWork(e).jobs >= 1)
      assert(l.spanWork(e).tasks >= 1)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
