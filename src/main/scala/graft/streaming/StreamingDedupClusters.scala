package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Dedup

/** Incremental near-dup CLUSTERS — the streaming form of q67's
  * min-label connected components, fed by [[StreamingLshDedup]]'s
  * per-batch candidate pairs.
  *
  * Per micro-batch: (1) the LSH probe yields this batch's new pairs;
  * (2) each endpoint maps to its CURRENT cluster label (self when
  * unseen) via the assignment table, collapsing the batch to a
  * LABEL-graph — its size is bounded by the batch's pairs plus the
  * clusters they touch, never the corpus; (3) batch min-label CC runs
  * on that contracted graph (`Dedup.connectedComponents` — the
  * O(diameter) recipe on a tiny input); (4) deltas are written for
  * exactly the nodes whose label changed plus newly-paired nodes.
  * Because min-label roots are stable under union (the root of merged
  * components is the min of their roots — the overall min node id),
  * replaying any batch partition converges to the identical
  * assignment as batch CC over the union's pairs (spec-pinned).
  *
  * Scale shape: the assignment table is LOG-STRUCTURED parquet —
  * per-batch delta dirs of (node, lab, batch_seq) with
  * last-writer-wins reads (`max_by(lab, batch_seq)` per node), the
  * keyed-store pattern whose compaction amortizes off the hot path;
  * per-batch work reads the table once (a key-pruned join at scale)
  * and writes only the touched rows. Nothing per batch is
  * proportional to corpus size except the one assignment-table probe.
  *
  * Replay idempotency is the batch-keyed contract of [[StreamingState]]. */
class StreamingDedupClusters(val indexDir: String, val clustersDir: String) {

  val lsh = new StreamingLshDedup(indexDir)

  private val assignSchema = StructType(Seq(
    StructField("node", LongType),
    StructField("lab", LongType),
    StructField("batch_seq", LongType)))

  /** Latest-wins view of the log-structured assignment table,
    * optionally restricted to deltas strictly before `before`. */
  def currentAssignments(s: SparkSession,
      before: Option[Long] = None): DataFrame =
    StreamingState.history(s, clustersDir, assignSchema, before)
      .groupBy(col("node"))
      .agg(max_by(col("lab"), col("batch_seq")).as("lab"))

  /** One micro-batch: probe LSH, contract to the label graph, run CC,
    * write the assignment delta under `batch=<batchSeq>`. Returns the
    * batch's candidate pairs (the q23-shaped verdicts, unchanged). */
  def processBatch(arrivals: DataFrame, textCol: String, idCol: String,
      batchSeq: Long): DataFrame = {
    val s = arrivals.sparkSession
    val verdicts = lsh.processBatch(arrivals, textCol, idCol, batchSeq)
    if (!verdicts.isEmpty) {
      val assign = Dedup.stage(currentAssignments(s, Some(batchSeq)), eager = true)
      val pairs = verdicts.select(col("doc_a"), col("doc_b"))
      val edges = pairs
        .join(assign.select(col("node").as("doc_a"), col("lab").as("la")),
          Seq("doc_a"), "left")
        .join(assign.select(col("node").as("doc_b"), col("lab").as("lb")),
          Seq("doc_b"), "left")
        .select(coalesce(col("la"), col("doc_a")).as("a"),
          coalesce(col("lb"), col("doc_b")).as("b"))
        .filter(col("a") =!= col("b"))
      // also keep self-edges for brand-new paired nodes whose pair
      // collapsed into one label (both endpoints new + identical) so
      // they still receive an assignment row
      val newNodes = Dedup.stage(pairs
        .select(col("doc_a").as("node")).union(pairs.select(col("doc_b")))
        .distinct()
        .join(assign, Seq("node"), "left_anti"), eager = true)
      if (!edges.isEmpty) {
        // (node = old label or new node, lab = root), read from CC's pin
        val comp = Dedup.connectedComponents(edges, "a", "b")
        val relabelExisting = assign
          .join(comp.filter(col("node") =!= col("lab"))
            .select(col("node").as("lab"), col("lab").as("root")), Seq("lab"))
          .select(col("node"), col("root").as("lab"))
        val newAssigned = newNodes
          .join(comp.withColumnRenamed("lab", "root"), Seq("node"), "left")
          .select(col("node"), coalesce(col("root"), col("node")).as("lab"))
        StreamingState.append(relabelExisting.unionByName(newAssigned)
          .withColumn("batch_seq", lit(batchSeq)), clustersDir, batchSeq)
      } else if (!newNodes.isEmpty) {
        // every new pair collapsed inside existing clusters — only
        // genuinely-new nodes (paired with their own label) remain
        StreamingState.append(newNodes.select(col("node"), col("node").as("lab"))
          .withColumn("batch_seq", lit(batchSeq)), clustersDir, batchSeq)
      }
    }
    verdicts
  }

  /** Drive a document stream; verdict pairs land in
    * `verdictDir/batch=<id>` (overwrite — replay-idempotent), cluster
    * assignments accumulate in `clustersDir`. */
  def run(stream: DataFrame, textCol: String, idCol: String,
      verdictDir: String, checkpointDir: String): StreamingQuery =
    StreamingState.run(stream, Some(verdictDir), checkpointDir)(
      processBatch(_, textCol, idCol, _))
}
