package graft

import org.apache.spark.sql.functions._

import graft.operators.Bpe

/** Batched-BPE scale demo: trains a realistic-vocab merge table with
  * `Bpe.trainBatchedRounds` and prints ONE JSON line of round/driver
  * accounting — the evidence that a 30k-merge production vocabulary
  * needs ~30k/K driver round-trips, not 30k.
  *
  * The dictionary comes from the customer-name column (whitespace
  * split, lowercased): ~N distinct `customer#0000…` words whose digit
  * tails give BPE the id-shaped symbol stream a real tokenizer
  * spends most of its vocabulary on. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.BpeDemo [totalMerges] [batchK]"
  */
object BpeDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val totalMerges = args.headOption.map(_.toInt).getOrElse(1000)
    val batchK = args.drop(1).headOption.map(_.toInt).getOrElse(64)
    val spark = Sessions.builder("32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dict = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(explode(split(lower(col("c_name")), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(Bpe.wrapWord(col("word")).as("wstr"), col("freq"))
    val words = dict.count()

    val t0 = System.nanoTime()
    val (rounds, _) = Bpe.trainBatchedRounds(dict, totalMerges, batchK)
    val wall = (System.nanoTime() - t0) / 1e9
    val applied = rounds.map(_.size).sum
    println(
      s"""{"metric":"bpe_batched_train","merges":$applied,"batch_k":$batchK,""" +
      s""""rounds":${rounds.size},"driver_round_trips":${rounds.size},""" +
      s""""sequential_round_trips":$applied,"dict_words":$words,""" +
      s""""avg_merges_per_round":${if (rounds.isEmpty) 0.0 else applied.toDouble / rounds.size},""" +
      s""""wall_sec":$wall,"sf":"$sfDir"}""")
    spark.stop()
  }
}
