package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.operators.Dedup

/** The one "run a query, time it, clean up" core behind the harness
  * mains (Bench, ABBench, ScaleBench, JobProf); Verify shares its
  * scope and clean-up. Clean-up runs after the timed phases.
  *
  * Materialization uses the `noop` sink, not count(): count() lets
  * Catalyst prune projection work (a map-only query would measure an
  * empty scan).
  */
object QueryRun {

  /** One timed run of a `SparkEntry.queries` entry, in seconds:
    * construction (building the DataFrame, including any eager jobs the
    * query runs while doing so) and execution (the noop write). On a
    * non-fatal throw `failure` holds it and the phase that threw is
    * timed up to the throw. Each phase's jobs carry the job description
    * "<name> construct" or "<name> execute": the phase labels a
    * [[JobLedger]] files them under. */
  final case class Run(name: String, constructS: Double, executeS: Double,
      failure: Option[Throwable]) {
    /** Wall seconds of a successful run; rethrows the failure. */
    def seconds: Double = failure match {
      case Some(e) => throw e
      case None => constructS + executeS
    }
  }

  def apply(spark: SparkSession, name: String, dir: String): Run = {
    val sc = spark.sparkContext
    val outerDesc = sc.getLocalProperty("spark.job.description")
    val t0 = System.nanoTime()
    var built = Option.empty[Long]
    var t2 = t0
    val failure = scoped(spark, name) {
      try {
        sc.setJobDescription(s"$name construct")
        val df = SparkEntry.queries(name)(spark, dir)
        built = Some(System.nanoTime())
        sc.setJobDescription(s"$name execute")
        df.write.format("noop").mode("overwrite").save()
        None
      } catch { case NonFatal(e) => Some(e) }
      finally { t2 = System.nanoTime(); sc.setJobDescription(outerDesc) }
    }
    val t1 = built.getOrElse(t2)
    Run(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, failure)
  }

  /** The clean-up: runs `body` (query `name`) in a pin scope of its
    * own, then releases, blocking, every pin that scope made and no
    * other scope's. Pins left across a sweep add up to GC and storage
    * pressure that bills later queries (a pinning query once measured
    * 8x slower inside the full sweep than alone). */
  def scoped[T](spark: SparkSession, name: String)(body: => T): T =
    Dedup.withPinScope(spark, name, blocking = true)(body)

  /** Registered query names from a comma list; an unknown name fails
    * before any query runs. */
  def names(csv: String): Seq[String] = {
    val ns = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = ns.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    ns
  }

  /** Pays session/codegen startup outside the timings: one run of
    * `SparkEntry.entry`. A failure is reported on stderr, not fatal. */
  def warmup(spark: SparkSession): Unit =
    try scoped(spark, "warmup")(SparkEntry.entry(spark).write.format("noop").mode("overwrite").save())
    catch { case NonFatal(e) => System.err.println(s"WARNING: warmup failed: $e") }
}
