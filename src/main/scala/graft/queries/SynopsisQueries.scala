package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Physical-design synopses and interval joins: the v-optimal
  * histogram (q240) — the error-minimal bucket layout a query
  * optimizer or drift monitor keeps per column — and the scale-safe
  * interval join (q241): events against maintenance windows through
  * day-bucket equi-keys instead of a range join.
  */
object SynopsisQueries extends QueryFamily {

  // ---- q240: v-optimal histogram ----

  val VoptBuckets = 6
  /** Value resolution: n_chars quantized div 4 (≤ ~134 distinct cells
    * — the DP's dim); part of the synopsis contract. */
  val VoptRes = 4L

  /** q240: the V-OPTIMAL histogram (Jagadish et al., VLDB'98) over the
    * document length distribution: choose [[VoptBuckets]] contiguous
    * value ranges minimizing the total within-bucket sum of squared
    * errors. Bucket cost = (ss2 − ss1²/n) in e3 fixed point (per-bucket
    * truncation — the deterministic integer contract); the DP is exact
    * under that cost. Output per bucket: value range, mass, mean-milli
    * and its SSE share, plus the optimal total.
    *
    * Shape: the corpus collapses to the ≤134-cell value dim in one
    * hash agg; the DP (cells x buckets, O(V²B) transitions) is a
    * bounded driver model (q211/q231/q238 precedent) joined back; the
    * oracle replays the identical DP as a recursive CTE over prefix
    * arrays. */
  def voptHistogram(s: SparkSession, dir: String): DataFrame = {
    val cells = graft.operators.Dedup.stage(Tables.documents(s, dir)
      .select(expr(s"n_chars div $VoptRes").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      .withColumn("s1", col("v") * col("cnt"))
      .withColumn("s2", col("v") * col("v") * col("cnt")))
    val rows = cells.select(col("v"), col("cnt"), col("s1"), col("s2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val nV = rows.length
    require(nV < 256, s"vopt cell count $nV exceeds the 256-cell pack contract")
    val pc = rows.scanLeft(0L)(_ + _._2).toArray
    val p1 = rows.scanLeft(0L)(_ + _._3).toArray
    val p2 = rows.scanLeft(0L)(_ + _._4).toArray
    def cost(a: Int, b: Int): Long = { // cells a..b inclusive, 0-based
      val n = pc(b + 1) - pc(a)
      val s1 = p1(b + 1) - p1(a)
      val s2 = p2(b + 1) - p2(a)
      s2 * 1000L - s1 * s1 * 1000L / n
    }
    // Contract: the corpus must populate at least VoptBuckets value
    // cells. The oracle's backtrack chain is generated for exactly
    // VoptBuckets levels, so a degenerate corpus would otherwise
    // diverge silently (NULL SQL bounds) instead of failing loudly.
    require(nV >= VoptBuckets,
      s"vopt synopsis contract: need >= $VoptBuckets value cells, corpus has $nV")
    val B = VoptBuckets
    val best = Array.fill(B + 1, nV + 1)(Long.MaxValue / 4)
    val cut = Array.fill(B + 1, nV + 1)(0)
    best(0)(0) = 0L
    for (j <- 1 to B; i <- j to nV) {
      var k = j - 1
      while (k < i) {
        val c = best(j - 1)(k) + cost(k, i - 1)
        if (c < best(j)(i)) { best(j)(i) = c; cut(j)(i) = k }
        k += 1
      }
    }
    // backtrack bucket boundaries
    val bounds = Array.ofDim[Int](B + 1)
    bounds(B) = nV
    for (j <- B to 1 by -1) bounds(j - 1) = cut(j)(bounds(j))
    val buckets = (1 to B).map { j =>
      val (a, b) = (bounds(j - 1), bounds(j) - 1)
      val n = pc(b + 1) - pc(a)
      val s1 = p1(b + 1) - p1(a)
      (j.toLong, rows(a)._1, rows(b)._1, n, s1 * 1000L / n, cost(a, b))
    }
    s.createDataFrame(buckets)
      .toDF("bucket", "v_lo", "v_hi", "n", "mean_milli", "sse_e3")
      .withColumn("total_sse_e3", lit(best(B)(nV)))
      .orderBy(col("bucket"))
  }

  val voptHistogramSql: String = {
    val b = VoptBuckets
    // DP rows (j, i, packed) with packed = best*256 + cut — the packed
    // argmin trick (cf. q193): MIN(packed) is min cost with smallest-k
    // tie-break, and the recursive CTE's accumulated result keeps every
    // level for the backtrack
    s"""WITH RECURSIVE cells AS (SELECT n_chars // $VoptRes AS v,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM documents GROUP BY 1),
       |ord AS (SELECT v, cnt, v * cnt AS s1, v * v * cnt AS s2,
       |    CAST(ROW_NUMBER() OVER (ORDER BY v) AS BIGINT) AS i
       |  FROM cells),
       |nv AS (SELECT CAST(MAX(i) AS BIGINT) AS n FROM ord),
       |pre AS (SELECT i, v,
       |    CAST(SUM(cnt) OVER w AS BIGINT) AS pc,
       |    CAST(SUM(s1) OVER w AS BIGINT) AS p1,
       |    CAST(SUM(s2) OVER w AS BIGINT) AS p2
       |  FROM ord WINDOW w AS (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |  UNION ALL SELECT 0, NULL, 0, 0, 0),
       |costm AS MATERIALIZED (SELECT a.i AS k, c.i AS i,
       |    (c.p2 - a.p2) * 1000 - (c.p1 - a.p1) * (c.p1 - a.p1) * 1000 // (c.pc - a.pc) AS cost
       |  FROM pre a JOIN pre c ON a.i < c.i),
       |dp AS (
       |  SELECT CAST(1 AS BIGINT) AS j, c.i, c.cost * 256 AS packed
       |  FROM costm c WHERE c.k = 0
       |  UNION ALL
       |  SELECT d.j + 1, c.i,
       |    CAST(MIN((d.packed // 256 + c.cost) * 256 + d.i) AS BIGINT)
       |  FROM dp d JOIN costm c ON c.k = d.i
       |  WHERE d.j < $b
       |  GROUP BY d.j + 1, c.i),
       |h6 AS (SELECT (SELECT n FROM nv) AS hi),
       |h5 AS (SELECT (SELECT d.packed % 256 FROM dp d WHERE d.j = 6 AND d.i = (SELECT hi FROM h6)) AS hi),
       |h4 AS (SELECT (SELECT d.packed % 256 FROM dp d WHERE d.j = 5 AND d.i = (SELECT hi FROM h5)) AS hi),
       |h3 AS (SELECT (SELECT d.packed % 256 FROM dp d WHERE d.j = 4 AND d.i = (SELECT hi FROM h4)) AS hi),
       |h2 AS (SELECT (SELECT d.packed % 256 FROM dp d WHERE d.j = 3 AND d.i = (SELECT hi FROM h3)) AS hi),
       |h1 AS (SELECT (SELECT d.packed % 256 FROM dp d WHERE d.j = 2 AND d.i = (SELECT hi FROM h2)) AS hi),
       |h0 AS (SELECT (SELECT d.packed % 256 FROM dp d WHERE d.j = 1 AND d.i = (SELECT hi FROM h1)) AS hi),
       |bounds AS (
       |  SELECT CAST(6 AS BIGINT) AS bucket, (SELECT hi FROM h5) + 1 AS lo_i, (SELECT hi FROM h6) AS hi_i UNION ALL
       |  SELECT CAST(5 AS BIGINT) AS bucket, (SELECT hi FROM h4) + 1 AS lo_i, (SELECT hi FROM h5) AS hi_i UNION ALL
       |  SELECT CAST(4 AS BIGINT) AS bucket, (SELECT hi FROM h3) + 1 AS lo_i, (SELECT hi FROM h4) AS hi_i UNION ALL
       |  SELECT CAST(3 AS BIGINT) AS bucket, (SELECT hi FROM h2) + 1 AS lo_i, (SELECT hi FROM h3) AS hi_i UNION ALL
       |  SELECT CAST(2 AS BIGINT) AS bucket, (SELECT hi FROM h1) + 1 AS lo_i, (SELECT hi FROM h2) AS hi_i UNION ALL
       |  SELECT CAST(1 AS BIGINT) AS bucket, (SELECT hi FROM h0) + 1 AS lo_i, (SELECT hi FROM h1) AS hi_i
       |),
       |agg AS (SELECT bo.bucket,
       |    (SELECT v FROM ord WHERE i = bo.lo_i) AS v_lo,
       |    (SELECT v FROM ord WHERE i = bo.hi_i) AS v_hi,
       |    (SELECT pb.pc FROM pre pb WHERE pb.i = bo.hi_i)
       |      - (SELECT pa.pc FROM pre pa WHERE pa.i = bo.lo_i - 1) AS n,
       |    (SELECT pb.p1 FROM pre pb WHERE pb.i = bo.hi_i)
       |      - (SELECT pa.p1 FROM pre pa WHERE pa.i = bo.lo_i - 1) AS s1,
       |    (SELECT pb.p2 FROM pre pb WHERE pb.i = bo.hi_i)
       |      - (SELECT pa.p2 FROM pre pa WHERE pa.i = bo.lo_i - 1) AS s2
       |  FROM bounds bo),
       |tot AS (SELECT d.packed // 256 AS total FROM dp d
       |  WHERE d.j = $b AND d.i = (SELECT n FROM nv))
       |SELECT bucket, v_lo, v_hi, CAST(n AS BIGINT) AS n,
       |  CAST(s1 * 1000 // n AS BIGINT) AS mean_milli,
       |  CAST(s2 * 1000 - s1 * s1 * 1000 // n AS BIGINT) AS sse_e3,
       |  CAST((SELECT total FROM tot) AS BIGINT) AS total_sse_e3
       |FROM agg
       |ORDER BY bucket""".stripMargin
  }

  // ---- q241: scale-safe interval join ----

  val IntervalWindows = 10

  /** q241: events joined to overlapping maintenance windows WITHOUT a
    * range join — the decomposition every interval join at scale uses:
    * windows replicate into the day buckets they touch (bounded by
    * window length), events map to their own day bucket, the join is
    * an equi-join on the bucket, and the exact [start, end) overlap
    * filters after. Windows are synthesized deterministically off the
    * stream's origin (every 3 days, 6/12/18 h long). Per window: the
    * events inside, distinct users, cent volume. */
  def intervalJoin(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(s, dir)
      .select(unix_micros(col("ts")).as("ts_us"), col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
    val origin = events.select(min(col("ts_us")).as("t0"))
    val windows = s.range(IntervalWindows).toDF("window_id")
      .crossJoin(broadcast(origin))
      .withColumn("w_start", col("t0") + col("window_id") * lit(3L * 86400000000L))
      .withColumn("w_end", col("w_start") +
        (pmod(col("window_id"), lit(3L)) + 1L) * lit(6L * 3600 * 1000000))
      .select(col("window_id"), col("w_start"), col("w_end"))
    val wDays = windows
      .withColumn("day", explode(expr(
        "sequence(w_start div 86400000000, (w_end - 1) div 86400000000)")))
    val eDay = events.withColumn("day", expr("ts_us div 86400000000"))
    eDay.join(wDays, Seq("day"))
      .filter(col("ts_us") >= col("w_start") && col("ts_us") < col("w_end"))
      .groupBy(col("window_id"), col("w_start"), col("w_end"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("cents"))
      .orderBy(col("window_id"))
  }

  val intervalJoinSql: String =
    s"""WITH e AS (SELECT epoch_us(ts) AS ts_us, user_id,
       |    CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events),
       |o AS (SELECT MIN(ts_us) AS t0 FROM e),
       |w AS (SELECT CAST(range AS BIGINT) AS window_id,
       |    t0 + range * 3 * 86400000000 AS w_start,
       |    t0 + range * 3 * 86400000000
       |      + (range % 3 + 1) * 6 * 3600 * 1000000 AS w_end
       |  FROM range($IntervalWindows) CROSS JOIN o)
       |SELECT w.window_id, w.w_start, w.w_end,
       |  COUNT(*) AS n_events,
       |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
       |  CAST(SUM(e.cents) AS BIGINT) AS cents
       |FROM w JOIN e ON e.ts_us >= w.w_start AND e.ts_us < w.w_end
       |GROUP BY w.window_id, w.w_start, w.w_end
       |ORDER BY w.window_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "q240_vopt_histogram" -> (voptHistogram _),
    "q241_interval_join" -> (intervalJoin _))

  val oracles: Map[String, String] = Map(
    "q240_vopt_histogram" -> voptHistogramSql,
    "q241_interval_join" -> intervalJoinSql)
}
