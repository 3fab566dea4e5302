package graft

import org.apache.spark.sql.functions.col

import graft.operators.Similarity
import graft.sources.VectorIndexStore

/** The iterative trainers keep their k-row model on the driver between
  * Lloyd rounds: they pin nothing, and the collected model does not
  * depend on how the input is partitioned. */
class LloydTrainerSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))

  /** Persisted RDDs `train` leaves behind. Counted by id, not by size:
    * the ContextCleaner may drop older, unreferenced pins meanwhile. */
  private def pinsLeftBy(train: => Unit): Int = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    train
    (spark.sparkContext.getPersistentRDDs.keySet -- before).size
  }

  test("the Lloyd trainers and the index build leave no pinned RDDs") {
    val subs = Similarity.pqSubvectors(
      emb.select(col("vec_id"), Similarity.microVec(col("embedding")).as("m")))
    val rsubs = subs.withColumn("cluster", col("vec_id") % 4)
    val dir = java.nio.file.Files.createTempDirectory("lloyd-pins").toString
    val left = Seq(
      "kmeansFit" -> pinsLeftBy(Similarity.kmeansFit(emb, 8, Similarity.Dim, 2)),
      "kmeans" -> pinsLeftBy(Similarity.kmeans(emb, 8, Similarity.Dim, 2)),
      "pqTrainCodebooks" -> pinsLeftBy(
        Similarity.pqTrainCodebooks(subs, 16, Similarity.PqSub, 2)),
      "pqTrainLocalCodebooks" -> pinsLeftBy(
        Similarity.pqTrainLocalCodebooks(rsubs, 4, Similarity.PqSub, 2)),
      "VectorIndexStore.build" -> pinsLeftBy(
        VectorIndexStore.build(spark, emb.filter(col("vec_id") >= 10), dir, 8, 64, 2)))
    assert(left.forall(_._2 == 0), left)
  }

  test("kmeansFit's model rows do not depend on the input's partitioning") {
    def model(parts: Int) =
      Similarity.kmeansFit(emb.repartition(parts), 8, Similarity.Dim, 2)._2.collect().toSeq
    val one = model(1)
    assert(one.size == 8)
    assert(one == model(7))
  }
}
