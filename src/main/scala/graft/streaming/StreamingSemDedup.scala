package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Dedup, Similarity}

/** Incremental SemDeDup — the streaming form of q156, completing the
  * dedup-on-ingest family next to StreamingLshDedup (lexical) and
  * StreamingDedupClusters (components): semantic paraphrase pruning
  * against a FIXED offline-trained quantizer (the production shape —
  * centroids train on a bootstrap corpus; ingest only assigns).
  *
  * Each micro-batch: (1) micro-int + assign arrivals to their nearest
  * centroid, (2) one co-partitioned cluster join scores arrivals
  * against the historical members PLUS the batch itself, (3) emit
  * DELTAS — each arrival's baseline row carrying how many
  * higher-keep-priority near neighbors it already sees, and a RETRO
  * row for every historical member newly dominated by an arrival
  * (dropping is monotone: a dominator never un-arrives, so deltas
  * only ever flip kept -> dropped) — and (4) append the arrivals to
  * the member table. Because a pair is scored exactly once — in the
  * batch where its later member arrives — summing the delta log
  * reproduces the batch q156 verdicts on the union bit-for-bit
  * (spec-pinned, including the retro flip).
  *
  * Scale shape: member state is an append-only PARQUET table keyed by
  * cluster — corpus-sized state on disk, not in the state store; the
  * per-batch probe joins one micro-batch (broadcastable) against only
  * the clusters it touches, so incremental cost is Sum(touched
  * cluster sizes), the SemDeDup bound, not a corpus scan.
  *
  * Replay idempotency is the batch-keyed contract of [[StreamingState]]. */
class StreamingSemDedup(val memberDir: String, val tauE6: Long) {

  private val memberSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("cluster", LongType),
    StructField("dist", LongType),
    StructField("m", ArrayType(LongType, containsNull = false))))

  private def cosE6(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    round(Similarity.intDot(a, b).cast("double") /
      (Similarity.microNorm(a) * Similarity.microNorm(b)) * lit(1000000.0))
      .cast("long")

  /** b-side dominates p-side: farther from the centroid, ties by id. */
  private def dominates = col("b_dist") > col("dist") ||
    (col("b_dist") === col("dist") && col("b_id") < col("vec_id"))

  /** One micro-batch: returns this batch's verdict DELTAS
    * (vec_id, cluster?, dist?, near_delta, max_cos_e6) and appends the
    * arrivals to the member table. Baseline rows (one per arrival)
    * carry the assignment; retro rows carry only the dominated
    * historical vec_id. Deltas are materialized BEFORE the append so
    * the probe never sees its own output. */
  def processBatch(arrivals: DataFrame, cents: DataFrame,
      batchId: Long): DataFrame = {
    val s = arrivals.sparkSession
    val newMem = Dedup.stage(Similarity.kmeansAssign(Similarity.microVecs(arrivals), cents)
      .select(col("vec_id").cast("long"), col("cluster").cast("long"),
        col("dist").cast("long"), col("m")), eager = true)
    val hist = StreamingState.history(s, memberDir, memberSchema, Some(batchId))
    val target = hist.unionByName(newMem)
    // arrivals dominated by anything already known (history or batch)
    val asTarget = (d: DataFrame) => d.select(col("cluster"),
      col("vec_id").as("b_id"), col("dist").as("b_dist"), col("m").as("b_m"))
    val domNew = newMem.join(asTarget(target), Seq("cluster"))
      .filter(col("b_id") =!= col("vec_id") && dominates)
      .withColumn("cos_e6", cosE6(col("m"), col("b_m")))
      .filter(col("cos_e6") >= tauE6)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("near_delta"), max(col("cos_e6")).as("max_cos_e6"))
    // historical members newly dominated by an arrival (retro flip);
    // strictly vs history — batch-internal pairs were already counted
    // on the dominated side above
    val domOld = hist.join(asTarget(newMem), Seq("cluster"))
      .filter(dominates)
      .withColumn("cos_e6", cosE6(col("m"), col("b_m")))
      .filter(col("cos_e6") >= tauE6)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("near_delta"), max(col("cos_e6")).as("max_cos_e6"))
      .select(col("vec_id"), lit(null).cast("long").as("cluster"),
        lit(null).cast("long").as("dist"), col("near_delta"), col("max_cos_e6"))
    val baseline = newMem.join(domNew, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("dist"),
        coalesce(col("near_delta"), lit(0L)).as("near_delta"), col("max_cos_e6"))
    val deltas = Dedup.stage(baseline.unionByName(domOld), eager = true)
    StreamingState.append(newMem, memberDir, batchId)
    deltas
  }

  /** Fold a delta log into final q156-shaped verdicts: baseline rows
    * carry the assignment, retro rows only add dominators. */
  def verdicts(s: SparkSession, deltaDir: String): DataFrame =
    s.read.parquet(deltaDir)
      .groupBy(col("vec_id"))
      .agg(max(col("cluster")).as("cluster"), max(col("dist")).as("dist"),
        sum(col("near_delta")).as("n_prio_near"),
        max(col("max_cos_e6")).as("max_cos_e6"))
      .select(col("vec_id"), col("cluster"), col("dist"), col("n_prio_near"),
        when(col("n_prio_near") > 0, col("max_cos_e6")).as("max_cos_e6"),
        when(col("n_prio_near") > 0, "dropped").otherwise("kept").as("verdict"))

  /** Drive an embedding stream through [[StreamingState.run]], writing each
    * batch's deltas to `deltaDir/batch=<id>` (overwrite, so a replayed
    * batch is idempotent end to end). */
  def run(stream: DataFrame, cents: DataFrame, deltaDir: String,
      checkpointDir: String): StreamingQuery =
    StreamingState.run(stream, Some(deltaDir), checkpointDir)(processBatch(_, cents, _))
}
