package perfbench

/** The benchmark's workloads. A batch workload is a list of
  * `SparkEntry.queries` names, each run once per pass in a seeded
  * order; the stream workload feeds documents in doc_id order through
  * `StreamingIngestPipeline` in fixed-size micro-batches. */
object Workloads {
  sealed trait Workload { def name: String }
  final case class Batch(name: String, queries: Seq[String]) extends Workload {
    def order(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(queries)
  }
  final case class Stream(name: String, docs: Int, batchDocs: Int) extends Workload

  val all: Seq[Workload] = Seq(
    // the curation funnel: construction-bound (staging, count probes and
    // the prefix memo run while the DataFrame is built)
    Batch("dedup_curation", Seq("q253_curation_funnel")),
    // the first 1,000 sf0.1 documents in 250-doc micro-batches
    Stream("stream_ingest", docs = 1000, batchDocs = 250))

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $name; known: ${all.map(_.name).mkString(", ")}"))

  val allQueries: Seq[String] = all.collect { case b: Batch => b.queries }.flatten

  val streamLayerNames: Seq[String] = Seq("stream.first_batch_s", "stream.add_batch_ms",
    "stream.planning_ms", "stream.get_batch_ms", "stream.commit_ms",
    "stream.jobs_per_batch", "stream.state_mb", "stream.state_files", "stream.packed_rows")
}
