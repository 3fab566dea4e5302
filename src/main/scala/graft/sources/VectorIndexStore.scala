package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.operators.Similarity

/** Persisted IVF-PQ index — the "build once, search many" contract a
  * real vector deployment needs (the reference has no vector store;
  * this is the 100 TB-native equivalent of writing a FAISS index to
  * disk):
  *
  *  - `centroids/`  the trained coarse quantizer (k rows)
  *  - `codebook/`   the residual PQ codewords (blocks x codes rows)
  *  - `codes/`      the compressed corpus, PARTITIONED BY cluster —
  *      a probe reads only its nprobe list directories (partition
  *      pruning is the inverted-list seek), each holding 8 longs per
  *      vector plus the integer norm data needed for ranking.
  *
  * Search never touches raw embeddings: queries quantize against the
  * tiny broadcast model and scan only probed partitions' codes.
  */
object VectorIndexStore {

  /** Train on `corpus` (vec_id, embedding), encode, and persist. */
  def build(s: SparkSession, corpus: DataFrame, path: String,
      k: Int, dim: Int, iters: Int): Unit = {
    val cents = Similarity.kmeansFit(corpus, k, dim, iters)._2
    val rsubs = Similarity.residualSubvectors(corpus, cents)
    // codebook = residual subvectors of the CodebookCodes lowest ids
    // (deterministic; a production build k-means each block — q69
    // demonstrates that training — the store contract is identical)
    val cbIds = rsubs.select(col("vec_id")).distinct()
      .orderBy(col("vec_id")).limit(CodebookCodes)
      .withColumn("code", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("vec_id"))).cast("long") - 1)
    val cb = Similarity.onDriver(rsubs.join(broadcast(cbIds), Seq("vec_id"))
      .select(col("code"), col("block"), col("sub").as("cw")))
    val codes = Similarity.pqEncode(rsubs, cb, carry = Seq("cluster"))
    cents.write.mode(SaveMode.Overwrite).parquet(s"$path/centroids")
    cb.write.mode(SaveMode.Overwrite).parquet(s"$path/codebook")
    codes.write.mode(SaveMode.Overwrite)
      .partitionBy("cluster").parquet(s"$path/codes")
  }

  val CodebookCodes = 16

  /** ADC top-k against the persisted index: the shared IVF-PQ scan over
    * the three persisted tables. Queries quantize against the loaded
    * (tiny) model; the codes scan prunes to probed cluster partitions
    * via the partition filter on `cluster`. */
  def search(s: SparkSession, queries: DataFrame, path: String,
      nprobe: Int, topK: Int): DataFrame =
    Similarity.ivfPqScan(queries, s.read.parquet(s"$path/centroids"),
      s.read.parquet(s"$path/codebook"), s.read.parquet(s"$path/codes"), nprobe, topK)
}
