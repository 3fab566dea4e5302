package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Ids of the live pins made outside any pin scope (`graft.pin[]`). */
  def unscopedPins: Set[Int] = spark.sparkContext.getPersistentRDDs
    .collect { case (id, r) if r.name == "graft.pin[]" => id }.toSet
}

object SparkSpec {
  // local[16] (capped by the box) instead of the historical local[4]:
  // the suite is Spark-bound and sequential, so idle cores are pure
  // wall-clock; 16 (not all 32) keeps 456 tests' allocation pressure
  // inside the shared 8g heap (the r16 full-sweep lesson: 32 threads
  // in a tight heap GC-thrash). shuffle.partitions stays 4 — test
  // frames are tiny and more reduce tasks is pure scheduler overhead.
  // The product recipe (Sessions.builder) underneath, so the suite tests
  // the engine configuration Bench and Verify run.
  lazy val session: SparkSession = Sessions.builder()
    .master(s"local[${math.min(16, Runtime.getRuntime.availableProcessors())}]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()
}
