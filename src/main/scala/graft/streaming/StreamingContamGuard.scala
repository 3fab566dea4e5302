package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.GraftFunctions.tokenShingles
import graft.functions.TextFunctions.{fold, tokens}
import graft.queries.CorpusStatsQueries

/** Incremental benchmark-decontamination gate — the streaming form of
  * q151: every arriving document is probed against a FIXED benchmark
  * gram set and emits its gram-overlap verdict before it is admitted
  * into the training corpus (the decontamination-on-ingest shape a
  * production pipeline wants: the check runs once per document at
  * arrival, never as a corpus-wide backfill).
  *
  * The benchmark set is loaded once from parquet and broadcast into
  * every micro-batch probe — an eval suite is fixed dim-sized state,
  * so it belongs in a broadcast join, not in the state store, and the
  * per-batch cost is one map-side shingle projection plus a broadcast
  * lookup: no shuffle keyed on anything corpus-sized, no growing
  * state. Because each verdict depends only on (document, fixed bench
  * set), replaying arrivals in ANY batch partition emits exactly the
  * batch q151 verdicts for those documents (spec-pinned).
  */
class StreamingContamGuard(val benchDir: String) {

  /** The fixed benchmark gram set (one `gram` string column). */
  def benchGrams(s: SparkSession): DataFrame =
    s.read.parquet(benchDir).select(col("gram")).distinct()

  /** Build the benchmark gram parquet from a benchmark-doc table —
    * the one-time setup step (q151's gram grain). */
  def writeBenchIndex(benchDocs: DataFrame, textCol: String): Unit =
    benchDocs
      .select(explode(tokenShingles(tokens(fold(col(textCol))),
        CorpusStatsQueries.ContamGramK)).as("gram"))
      .distinct()
      .write.mode("overwrite").parquet(benchDir)

  /** Per-arrival verdicts in q151's exact output shape:
    * (id, n_grams, n_hit, hit_frac_e6, verdict). */
  def verdicts(arrivals: DataFrame, textCol: String, idCol: String): DataFrame = {
    val s = arrivals.sparkSession
    val grams = arrivals
      .select(col(idCol).cast("long").as("doc_id"),
        explode(tokenShingles(tokens(fold(col(textCol))),
          CorpusStatsQueries.ContamGramK)).as("gram"))
      .distinct()
    val bench = benchGrams(s).withColumn("bhit", lit(1L))
    val perDoc = grams
      .join(broadcast(bench), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("bhit"), lit(0L))).as("n_hit"))
    arrivals.select(col(idCol).cast("long").as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("hit_frac_e6",
        when(col("n_grams") > 0,
          round(col("n_hit").cast("double") / col("n_grams").cast("double")
            * lit(1000000.0)).cast("long"))
          .otherwise(lit(0L)))
      .withColumn("verdict",
        when(col("n_grams") === 0, "short")
          .when(col("n_hit") === 0, "clean")
          .when(col("hit_frac_e6") >= CorpusStatsQueries.ContamFracE6, "contaminated")
          .otherwise("flagged"))
  }

  /** Drive a document stream, writing each batch's verdicts to
    * `verdictDir/batch=<id>` (the guard is stateless per batch, so
    * keying the output by epochId is all [[StreamingState]]'s replay
    * contract needs). */
  def run(stream: DataFrame, textCol: String, idCol: String,
      verdictDir: String, checkpointDir: String): StreamingQuery =
    StreamingState.run(stream, Some(verdictDir), checkpointDir)((batch, _) =>
      verdicts(batch, textCol, idCol))
}
