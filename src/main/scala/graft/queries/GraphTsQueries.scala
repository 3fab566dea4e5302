package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.operators.Dedup

/** Serial-dependence diagnostics, graph reachability and exact
  * apportionment: q223 lag autocorrelation of the per-type daily
  * series (the stationarity read before any rate model), q224 BFS hop
  * distance over the k-NN graph from a seed set (the reachability
  * genre next to CC/PageRank/k-core/label-prop), and q225
  * largest-remainder (Hamilton) apportionment of a token budget — the
  * exact-integer answer to "give every source floor(share) and spend
  * the remainder where it is owed most".
  */
object GraphTsQueries extends QueryFamily {

  // ---- q223: lag autocorrelation (ACF) of per-type daily counts ----

  val AcfMaxLag = 7

  /** q223: the autocorrelation function at lags 1..[[AcfMaxLag]] over
    * each event type's DENSE daily count series (calendar gaps
    * zero-filled, so lags are calendar lags, not observation lags).
    * Pearson r per (type, lag) from exact integer sums — q54's one
    * fixed IEEE tree, rounded to e6; zero-variance windows yield null.
    *
    * Scale: the corpus collapses to the (type, day) dim in one hash
    * agg; the lag columns come from ONE per-type ordered window pass
    * (all lags in the same sort) and the stack is map-side. */
  def acf(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val spine = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type"),
        explode(expr("sequence(d0, d1)")).as("day"))
    val dense = spine.join(daily, Seq("event_type", "day"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val lagged = (1 to AcfMaxLag).foldLeft(dense) { (df, l) =>
      df.withColumn(s"y$l", lag(col("cnt"), l).over(w))
    }
    val stacked = lagged.select(col("event_type"), col("cnt").as("x"),
      explode(expr("map(" + (1 to AcfMaxLag).map(l => s"${l}L, y$l").mkString(", ") + ")"))
        .as(Seq("lag", "y")))
      .filter(col("y").isNotNull)
    stacked
      .groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("r_e6",
        round(lit(1000000.0) *
          (col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
          (sqrt(col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) *
            sqrt(col("n").cast("double") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double")))).cast("long"))
      .select(col("event_type"), col("lag"), col("n"), col("r_e6"))
      .orderBy(col("event_type"), col("lag"))
  }

  val acfSql: String = {
    val lagCols = (1 to AcfMaxLag)
      .map(l => s"lag(cnt, $l) OVER (PARTITION BY event_type ORDER BY day) AS y$l")
      .mkString(",\n       |    ")
    val unions = (1 to AcfMaxLag)
      .map(l => s"SELECT event_type, CAST($l AS BIGINT) AS lag, cnt AS x, y$l AS y FROM lagged")
      .mkString("\nUNION ALL\n")
    s"""WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1, 2),
       |spine AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day
       |  FROM (SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1)),
       |dense AS (SELECT s.event_type, s.day, COALESCE(d.cnt, 0) AS cnt
       |  FROM spine s LEFT JOIN daily d ON s.event_type = d.event_type AND s.day = d.day),
       |lagged AS (SELECT event_type, day, cnt,
       |    $lagCols
       |  FROM dense),
       |stacked AS ($unions),
       |g AS (SELECT event_type, lag, COUNT(*) AS n,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(x * y) AS BIGINT) AS sxy,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx,
       |    CAST(SUM(y * y) AS BIGINT) AS syy
       |  FROM stacked WHERE y IS NOT NULL GROUP BY event_type, lag)
       |SELECT event_type, lag, n,
       |  CAST(ROUND(1000000.0 *
       |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
       |    (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
       |     sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
       |    AS BIGINT) AS r_e6
       |FROM g
       |ORDER BY event_type, lag""".stripMargin
  }

  // ---- q224: BFS hop distance over the k-NN graph ----

  val BfsMaxHops = 4

  /** q224: synchronized-frontier BFS from a deterministic seed set
    * (vec_id % 17 = 0) over the UNDIRECTED closure of the q183 k-NN
    * graph — hop distance is the reachability read the iterative-graph
    * family (q67 CC, q138 PageRank, q192 k-core, q193 label-prop) did
    * not yet answer: how far is every vector from the labeled core?
    *
    * Scale: [[BfsMaxHops]] rounds; each round joins the FRONTIER
    * (shrinking) against the vec_id-keyed edge table and anti-joins
    * the visited set — per-round cost bounded by frontier x degree,
    * lineage truncated by staging, the q67 recipe. */
  def knnBfs(s: SparkSession, dir: String): DataFrame = {
    val knn = VectorMiningQueries.knnEdges(s, dir)
    val edges = Dedup.stage(knn.select(col("src"), col("dst"))
      .union(knn.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    val nodes = Tables.embeddings(s, dir).select(col("vec_id"))
    var visited = Dedup.stage(nodes.filter(col("vec_id") % 17 === 0)
      .select(col("vec_id"), lit(0L).as("dist")))
    var frontier = visited
    for (d <- 1 to BfsMaxHops) {
      val next = Dedup.stage(
        frontier.join(edges, frontier("vec_id") === edges("src"))
          .select(col("dst").as("vec_id")).distinct()
          .join(visited.select(col("vec_id")), Seq("vec_id"), "left_anti")
          .withColumn("dist", lit(d.toLong)))
      visited = Dedup.stage(visited.union(next))
      frontier = next
    }
    nodes.join(visited, Seq("vec_id"), "left")
      .select(col("vec_id"), (col("vec_id") % 17 === 0).as("seed"),
        col("dist"), col("dist").isNotNull.as("reached"))
      .orderBy(col("vec_id"))
  }

  val knnBfsSql: String =
    s"""WITH RECURSIVE ${VectorMiningQueries.knnEdgesCtes},
       |und AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges)),
       |walk AS (
       |  SELECT vec_id, CAST(0 AS BIGINT) AS d FROM embeddings WHERE vec_id % 17 = 0
       |  UNION ALL
       |  SELECT u.dst AS vec_id, w.d + 1
       |  FROM walk w JOIN und u ON u.src = w.vec_id
       |  WHERE w.d < $BfsMaxHops),
       |dist AS (SELECT vec_id, MIN(d) AS dist FROM walk GROUP BY vec_id)
       |SELECT v.vec_id, v.vec_id % 17 = 0 AS seed, d.dist,
       |  d.dist IS NOT NULL AS reached
       |FROM (SELECT vec_id FROM embeddings) v
       |LEFT JOIN dist d ON v.vec_id = d.vec_id
       |ORDER BY v.vec_id""".stripMargin

  // ---- q225: largest-remainder (Hamilton) apportionment ----

  val TokenBudget = 1000000L

  /** q225: apportion an exact token budget across sources proportional
    * to char mass with largest-remainder rounding — floor quotas, then
    * the leftover seats go to the largest fractional remainders (ties
    * by source name). The classic exact-apportionment method (Hamilton
    * 1792): Σalloc = budget EXACTLY, every alloc within 1 of its real
    * quota — what q77's mix allocation needs when "roughly
    * proportional" must become "sums to the budget". All integer.
    *
    * Scale: one corpus hash agg to the source dim; everything after
    * lives on 20 rows. */
  def apportion(s: SparkSession, dir: String): DataFrame = {
    val wAll = Window.partitionBy()
    Tables.documents(s, dir)
      .groupBy(col("source")).agg(sum(col("n_chars")).as("weight"))
      .withColumn("total", sum(col("weight")).over(wAll))
      .withColumn("floor_q", expr(s"weight * $TokenBudget div total"))
      .withColumn("rem", expr(s"(weight * $TokenBudget) % total"))
      .withColumn("leftover",
        lit(TokenBudget) - sum(col("floor_q")).over(wAll))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))).cast("long"))
      .withColumn("extra", (col("rnk") <= col("leftover")).cast("long"))
      .withColumn("alloc", col("floor_q") + col("extra"))
      .select(col("source"), col("weight"), col("floor_q"), col("rem"),
        col("rnk"), col("extra"), col("alloc"))
      .orderBy(col("source"))
  }

  val apportionSql: String =
    s"""WITH w AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS weight
       |  FROM documents GROUP BY source),
       |t AS (SELECT *, CAST(SUM(weight) OVER () AS BIGINT) AS total FROM w),
       |q AS (SELECT *,
       |    weight * $TokenBudget // total AS floor_q,
       |    (weight * $TokenBudget) % total AS rem
       |  FROM t),
       |l AS (SELECT *,
       |    $TokenBudget - CAST(SUM(floor_q) OVER () AS BIGINT) AS leftover,
       |    CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS BIGINT) AS rnk
       |  FROM q)
       |SELECT source, weight, floor_q, rem, rnk,
       |  CAST(CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
       |  floor_q + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS alloc
       |FROM l
       |ORDER BY source""".stripMargin

  val queries: Map[String, Q] = Map(
    "q223_acf" -> (acf _),
    "q224_knn_bfs" -> (knnBfs _),
    "q225_apportion" -> (apportion _))

  val oracles: Map[String, String] = Map(
    "q223_acf" -> acfSql,
    "q224_knn_bfs" -> knnBfsSql,
    "q225_apportion" -> apportionSql)
}
