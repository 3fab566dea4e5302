package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.functions.Money.cents

/** Distribution analytics with engine-exact numerics:
  *
  *  - q54: Pearson correlation computed from EXACT integer moments
  *    (n, Σx, Σy, Σxy, Σx², Σy² in integer units) with one final scalar
  *    expression. `corr()` builtins aggregate floats in partition
  *    order and are not cross-engine reproducible; integer moments
  *    are, and the closed-form final step is a fixed expression tree —
  *    bit-exact on both engines, at any parallelism.
  *  - q55: value histogram with integer bucket edges (floor division —
  *    no float boundary ambiguity).
  */
object StatsQueries extends QueryFamily {

  def correlation(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_returnflag"),
        col("l_quantity").cast("long").as("x"), // integer-valued
        // whole dollars: keeps sum(y*y) far from int64 overflow at any SF
        round(col("l_extendedprice")).cast("long").as("y"))
    li.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("corr_e6",
        round(lit(1000000.0) *
          (col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
          (sqrt(col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) *
            sqrt(col("n").cast("double") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double")))).cast("long"))
      .select(col("l_returnflag"), col("n"), col("sx"), col("sy"), col("corr_e6"))
      .orderBy(col("l_returnflag"))
  }

  val correlationSql: String =
    """WITH b AS (SELECT l_returnflag,
      |    CAST(l_quantity AS BIGINT) AS x,
      |    CAST(ROUND(l_extendedprice) AS BIGINT) AS y
      |  FROM lineitem),
      |m AS (SELECT l_returnflag,
      |    COUNT(*) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx,
      |    CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x*y) AS BIGINT) AS sxy,
      |    CAST(SUM(x*x) AS BIGINT) AS sxx,
      |    CAST(SUM(y*y) AS BIGINT) AS syy
      |  FROM b GROUP BY l_returnflag)
      |SELECT l_returnflag, n, sx, sy,
      |  CAST(ROUND(1000000.0 *
      |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |     sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) AS BIGINT) AS corr_e6
      |FROM m ORDER BY l_returnflag""".stripMargin

  val BucketCents = 2000000L // $20k buckets

  def histogram(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .withColumn("bucket", expr(s"CAST(ROUND(o_totalprice*100) AS BIGINT) div $BucketCents"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("bucket_cents"))
      .withColumn("bucket_lo_cents", col("bucket") * BucketCents)
      .select(col("bucket"), col("bucket_lo_cents"), col("n_orders"), col("bucket_cents"))
      .orderBy(col("bucket"))

  val histogramSql: String =
    s"""SELECT CAST(ROUND(o_totalprice*100) AS BIGINT) // $BucketCents AS bucket,
       |  (CAST(ROUND(o_totalprice*100) AS BIGINT) // $BucketCents) * $BucketCents AS bucket_lo_cents,
       |  COUNT(*) AS n_orders,
       |  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS bucket_cents
       |FROM orders
       |GROUP BY 1
       |ORDER BY bucket""".stripMargin

  /** q81: EXACT per-group median and p90 — rank-based order statistics
    * in integer cents, not `percentile_cont` (whose interpolation is a
    * float aggregate that differs across engines). median_x2 is the
    * sum of the two middle values (equal values doubled when n is
    * odd), so nothing ever divides; p90 is the value at the integer
    * ceil(0.9n) rank. One per-group sort — the price of EXACT order
    * statistics at any scale (the approximate path is
    * approx_percentile's sketch). */
  def groupMedian(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("grp"),
        cents(col("o_totalprice")).as("c"), col("o_orderkey"))
    val w = Window.partitionBy(col("grp"))
    val ranked = o
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("c"), col("o_orderkey"))).cast("long"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("lo", expr("(n + 1) div 2"))
      .withColumn("hi", expr("(n + 2) div 2"))
      .withColumn("p90r", expr("(9 * n + 9) div 10"))
    ranked
      .filter(col("rn") === col("lo") || col("rn") === col("hi") || col("rn") === col("p90r"))
      .groupBy(col("grp"), col("n"))
      .agg(
        sum(col("c") * (when(col("rn") === col("lo"), 1L).otherwise(0L) +
          when(col("rn") === col("hi"), 1L).otherwise(0L))).as("median_x2_cents"),
        max(when(col("rn") === col("p90r"), col("c"))).as("p90_cents"))
      .select(col("grp"), col("n"), col("median_x2_cents"), col("p90_cents"))
      .orderBy(col("grp"))
  }

  val groupMedianSql: String =
    """WITH b AS (SELECT o_orderpriority AS grp,
      |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS c, o_orderkey
      |  FROM orders),
      |r AS (SELECT grp, c,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY grp ORDER BY c, o_orderkey) AS BIGINT) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n
      |  FROM b),
      |p AS (SELECT *, (n + 1) // 2 AS lo, (n + 2) // 2 AS hi, (9 * n + 9) // 10 AS p90r FROM r)
      |SELECT grp, n,
      |  CAST(SUM(c * ((CASE WHEN rn = lo THEN 1 ELSE 0 END) +
      |                (CASE WHEN rn = hi THEN 1 ELSE 0 END))) AS BIGINT) AS median_x2_cents,
      |  MAX(CASE WHEN rn = p90r THEN c END) AS p90_cents
      |FROM p WHERE rn = lo OR rn = hi OR rn = p90r
      |GROUP BY grp, n ORDER BY grp""".stripMargin

  /** q82: 3-sigma outlier flags per event type from EXACT integer
    * moments (n, Σc, Σc² in cents — associative, any parallelism).
    * The per-row test (n·c − S)² > 9·(n·Q − S²) is n²·(c−μ)² > 9·n²·σ²
    * cleared of divisions; both sides evaluate the identical double
    * expression tree from integer inputs, so the flag is
    * engine-exact. Moments broadcast; one corpus scan. */
  def outliers(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), cents(col("value")).as("value_cents"))
    val mom = base.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value_cents")).as("sc"),
        sum(col("value_cents") * col("value_cents")).as("qc"))
    base.join(broadcast(mom), Seq("event_type"))
      .filter(
        pow(col("n").cast("double") * col("value_cents").cast("double") -
          col("sc").cast("double"), 2.0) >
        lit(9.0) * (col("n").cast("double") * col("qc").cast("double") -
          col("sc").cast("double") * col("sc").cast("double")))
      .select(col("event_id"), col("event_type"), col("value_cents"), col("n"))
      .orderBy(col("event_id"))
  }

  val outliersSql: String =
    """WITH b AS (SELECT event_id, event_type,
      |    CAST(ROUND(value*100) AS BIGINT) AS value_cents
      |  FROM events),
      |m AS (SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(value_cents) AS BIGINT) AS sc,
      |    CAST(SUM(value_cents*value_cents) AS BIGINT) AS qc
      |  FROM b GROUP BY event_type)
      |SELECT event_id, b.event_type, value_cents, n
      |FROM b JOIN m ON b.event_type = m.event_type
      |WHERE POW(CAST(n AS DOUBLE) * CAST(value_cents AS DOUBLE) - CAST(sc AS DOUBLE), 2.0) >
      |  9.0 * (CAST(n AS DOUBLE) * CAST(qc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
      |ORDER BY event_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "q54_correlation" -> (correlation _),
    "q55_histogram" -> (histogram _),
    "q81_group_median" -> (groupMedian _),
    "q82_outliers" -> (outliers _))

  val oracles: Map[String, String] = Map(
    "q54_correlation" -> correlationSql,
    "q55_histogram" -> histogramSql,
    "q81_group_median" -> groupMedianSql,
    "q82_outliers" -> outliersSql)
}
