package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Clone-based corpus scale-up for the 100x trajectory runs: writes an
  * N-times larger copy of every table with join-consistent key
  * remapping, so the SAME queries run unmodified at 1x/4x/16x/64x and
  * the runtime curve can be recorded (SURVEY §5).
  *
  * Usage: runMain graft.ScaleUp <srcSfDir> <outDir> <clones>
  *
  * Key remapping: every key domain gets a per-clone offset that is a
  * power of ten above its max, applied consistently on both sides of
  * every join (orders.o_custkey moves with customer.c_custkey, etc.),
  * so referential integrity — and therefore join selectivity — is
  * preserved exactly. region/nation stay fixed: they are genuine dims
  * (a 64x corpus still has 25 nations), which scales fact-per-dim
  * fanout the way real growth does.
  *
  * Document text is clone-DECORRELATED, not copied: a clone-specific
  * marker token is interleaved after every second token, so no 3-gram
  * of one clone survives in another (Jaccard across clones ~ 0, LSH
  * bands disjoint) while each clone preserves the original corpus's
  * INTERNAL near-dup structure under its own marker. Without this,
  * 64 identical copies of every doc would turn each dedup bucket into
  * a 64-clique and measure quadratic blowup instead of scaling.
  * Embeddings rotate circularly by the clone id (norm-preserving,
  * decorrelated across clones); n_chars is recomputed to stay
  * consistent with the marked text.
  *
  * ZIPF mode (`runMain graft.ScaleUp <src> <out> <clones> zipf`):
  * the flat-token corpora above give the dedup-family tuning a df
  * distribution natural text never has — the base vocabulary is a few
  * dozen template tokens, each in nearly every document (SURVEY §5
  * records the PPJoin rejection as corpus-specific for exactly this
  * reason). Zipf mode therefore REGENERATES each document's token
  * stream positionally: token i of doc d is rank
  * `r = floor(V^u)` with `u = hash(gen_id, i) uniform in [0,1)` — the
  * inverse-CDF trick that draws ranks with P(r) ∝ 1/r over a V-token
  * vocabulary, giving the heavy head (z1 in ~every doc) and the long
  * rare tail natural corpora show, at the SAME document lengths.
  * Near-dup structure is PLANTED instead of inherited: docs with
  * `doc_id % 20 == 1` draw their first 4/5 of positions from their
  * predecessor's stream (`gen_id = doc_id - 1`) — ~5% of the corpus
  * forms true high-Jaccard pairs for the recall evals, everything
  * else shares only the Zipf head by chance. gen_id is the
  * POST-SHIFT doc id, so clones are decorrelated for free.
  */
object ScaleUp {

  /** Zipf vocabulary size for zipf mode. */
  val ZipfV = 30000

  private def pow10Above(df: DataFrame, keyCol: String): Long = {
    val mx = df.agg(max(col(keyCol))).head().getLong(0)
    var p = 10L
    while (p <= mx) p *= 10L
    p
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ScaleUp <srcSfDir> <outDir> <clones> [zipf]")
    val (src, out, clones) = (args(0), args(1), args(2).toInt)
    val zipf = args.length > 3 && args(3) == "zipf"
    val spark = Sessions.builder("32")
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val nPart = math.min(64, math.max(4, clones * 2))
    val cCol = explode(sequence(lit(0L), lit(clones - 1L))).as("c")

    def cloned(name: String)(remap: DataFrame => DataFrame): Unit = {
      val base = Tables.load(spark, src, name)
      val outDf = remap(base.select(col("*"), cCol)).drop("c")
      outDf.repartition(nPart)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name x$clones written")
    }

    // fixed dims: copy through
    Seq("region", "nation").foreach { name =>
      Tables.load(spark, src, name)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }

    val kCust = pow10Above(Tables.load(spark, src, "customer"), "c_custkey")
    val kSupp = pow10Above(Tables.load(spark, src, "supplier"), "s_suppkey")
    val kPart = pow10Above(Tables.load(spark, src, "part"), "p_partkey")
    val kOrd = pow10Above(Tables.load(spark, src, "orders"), "o_orderkey")
    val kEvt = pow10Above(Tables.load(spark, src, "events"), "event_id")
    val kUsr = pow10Above(Tables.load(spark, src, "events"), "user_id")
    val kDoc = pow10Above(Tables.load(spark, src, "documents"), "doc_id")
    val kVec = pow10Above(Tables.load(spark, src, "embeddings"), "vec_id")

    def shift(c: String, k: Long): Column = (col(c) + col("c") * k).as(c)

    cloned("customer")(_.withColumn("c_custkey", shift("c_custkey", kCust)))
    cloned("supplier")(_.withColumn("s_suppkey", shift("s_suppkey", kSupp)))
    cloned("part")(_.withColumn("p_partkey", shift("p_partkey", kPart)))
    cloned("orders")(_
      .withColumn("o_orderkey", shift("o_orderkey", kOrd))
      .withColumn("o_custkey", shift("o_custkey", kCust)))
    cloned("lineitem")(_
      .withColumn("l_orderkey", shift("l_orderkey", kOrd))
      .withColumn("l_partkey", shift("l_partkey", kPart))
      .withColumn("l_suppkey", shift("l_suppkey", kSupp)))
    cloned("events")(_
      .withColumn("event_id", shift("event_id", kEvt))
      .withColumn("user_id", shift("user_id", kUsr)))
    cloned("documents") { df =>
      val shifted = df.withColumn("doc_id", shift("doc_id", kDoc))
      val remapped =
        if (!zipf)
          shifted.withColumn("text",
            regexp_replace(col("text"), lit("(\\S+ \\S+) "),
              concat(lit("$1 k"), col("c"), lit(" "))))
        else
          // positional Zipf regeneration at the original lengths, with
          // planted near-clone pairs (see the object doc above)
          shifted
            .withColumn("__n", size(split(col("text"), " +")))
            .withColumn("text", expr(
              s"""array_join(transform(sequence(1, __n), i ->
                 |  concat('z', cast(floor(power($ZipfV,
                 |    (abs(xxhash64(
                 |      if(doc_id % 20 = 1 and i <= __n * 4 div 5, doc_id - 1, doc_id),
                 |      i)) % 1000000) / 1000000.0D)) as long))
                 |), ' ')""".stripMargin))
            .drop("__n")
      remapped.withColumn("n_chars", length(col("text")).cast("long"))
    }
    val d = Tables.load(spark, src, "embeddings")
      .select(size(col("embedding")).as("d")).head().getInt(0)
    cloned("embeddings") { df =>
      df.withColumn("embedding",
        expr(s"transform(sequence(0, ${d - 1}), i -> embedding[int((i + c) % $d)])"))
        .withColumn("vec_id", shift("vec_id", kVec))
    }
    spark.stop()
  }
}
