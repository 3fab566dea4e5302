package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.functions.Hashing
import graft.functions.VectorFunctions.{e6, e6Sql}
import graft.operators.Geo

/** Infrastructure-layout operators: grid-bucketed spatial join (q213),
  * hash-bucketed experiment analysis (q214), LPT shard balancing
  * (q216) and rendezvous-hash shard assignment with a reshard audit
  * (q217). These are the operations that decide WHERE data lives and
  * HOW it is measured at fleet scale: the geo layer (H) gains the
  * at-scale join shape for when the point dim outgrows a broadcast,
  * and the storage layer gains the two standard placement algorithms
  * (balance by load, move-minimally on reshard).
  */
object InfraOpsQueries extends QueryFamily {

  // ---- q213: grid-bucketed nearest-neighbor spatial join ----

  /** Grid resolution in degrees. Coordinates are synthesized on the
    * half-degree lattice (Geo.synthLat/Lon), so cell ids compute in
    * EXACT integer arithmetic — no float ever enters a grouping key. */
  val CellDeg = 20L
  val LonCells = 360L / CellDeg // 18
  val LatCells = 180L / CellDeg

  /** q213: nearest supplier station per customer point via grid
    * bucketing — the AT-SCALE spatial join. q34 broadcasts its 25-row
    * capital dim; when the point dim is millions of rows, the correct
    * shape is the geohash/grid-cell candidate join: stations replicate
    * into their 3x3 cell neighborhood (x wraps at the antimeridian, y
    * clamps at the poles), customers probe their own cell, candidates
    * rescore with exact haversine, and a k=1 bounded heap takes the
    * argmin. Semantics: nearest WITHIN one cell ring (the standard
    * radius-bounded contract — cell size prices the search radius);
    * customers with an empty neighborhood report no_station. */
  def geohashJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"),
        Geo.synthLat(col("c_custkey"), 7L).as("lat"),
        Geo.synthLon(col("c_custkey"), 13L).as("lon"),
        expr(s"((c_custkey * 7) % 170 + 5) div $CellDeg").as("cy"),
        expr(s"((c_custkey * 13) % 360) div $CellDeg").as("cx"))
    val stat = Tables.supplier(s, dir)
      .select(col("s_suppkey"),
        Geo.synthLat(col("s_suppkey"), 19L).as("s_lat"),
        Geo.synthLon(col("s_suppkey"), 23L).as("s_lon"),
        expr(s"((s_suppkey * 19) % 170 + 5) div $CellDeg").as("sy"),
        expr(s"((s_suppkey * 23) % 360) div $CellDeg").as("sx"))
    val statRep = stat
      .select(col("s_suppkey"), col("s_lat"), col("s_lon"), col("sy"), col("sx"),
        explode(expr("array(-1, 0, 1)")).as("dy"))
      .select(col("s_suppkey"), col("s_lat"), col("s_lon"), col("sy"), col("sx"),
        col("dy"), explode(expr("array(-1, 0, 1)")).as("dx"))
      .withColumn("cy", col("sy") + col("dy"))
      .withColumn("cx", pmod(col("sx") + col("dx"), lit(LonCells)))
      .filter(col("cy") >= 0 && col("cy") < LatCells)
      .select(col("cy"), col("cx"), col("s_suppkey"), col("s_lat"), col("s_lon"))
    val cand = cust.join(statRep, Seq("cy", "cx"), "left")
      .withColumn("dist_m",
        when(col("s_suppkey").isNotNull, Geo.metersOf(
          Geo.haversineKm(col("lat"), col("lon"), col("s_lat"), col("s_lon")))))
    val best = graft.plans.Plans.topKPerKeyRanked(cand, Seq(cand("c_custkey")),
      Seq((cand("dist_m"), false), (cand("s_suppkey"), false)), 1, "r")
    val nCand = cand.groupBy(col("c_custkey"))
      .agg(sum(when(col("s_suppkey").isNotNull, 1L).otherwise(0L)).as("n_cand"))
    best.join(nCand, Seq("c_custkey"))
      .select(col("c_custkey"), col("cy"), col("cx"), col("n_cand"),
        col("s_suppkey").as("nearest_suppkey"), col("dist_m"))
      .orderBy(col("c_custkey"))
  }

  val geohashJoinSql: String =
    s"""WITH cust AS (SELECT c_custkey,
       |    ${Geo.synthLatSql("c_custkey", 7L)} AS lat,
       |    ${Geo.synthLonSql("c_custkey", 13L)} AS lon,
       |    ((c_custkey * 7) % 170 + 5) // $CellDeg AS cy,
       |    ((c_custkey * 13) % 360) // $CellDeg AS cx
       |  FROM customer),
       |stat AS (SELECT s_suppkey,
       |    ${Geo.synthLatSql("s_suppkey", 19L)} AS s_lat,
       |    ${Geo.synthLonSql("s_suppkey", 23L)} AS s_lon,
       |    ((s_suppkey * 19) % 170 + 5) // $CellDeg AS sy,
       |    ((s_suppkey * 23) % 360) // $CellDeg AS sx
       |  FROM supplier),
       |rep AS (SELECT s_suppkey, s_lat, s_lon,
       |    sy + dy AS cy,
       |    ((sx + dx) % $LonCells + $LonCells) % $LonCells AS cx
       |  FROM stat
       |  CROSS JOIN UNNEST([-1, 0, 1]) AS tdy(dy)
       |  CROSS JOIN UNNEST([-1, 0, 1]) AS tdx(dx)
       |  WHERE sy + dy >= 0 AND sy + dy < $LatCells),
       |cand AS (SELECT c.c_custkey, c.cy, c.cx, r.s_suppkey,
       |    CASE WHEN r.s_suppkey IS NOT NULL THEN
       |      CAST(ROUND((${Geo.haversineKmSql("c.lat", "c.lon", "r.s_lat", "r.s_lon")}) * 1000.0) AS BIGINT)
       |    END AS dist_m
       |  FROM cust c LEFT JOIN rep r ON c.cy = r.cy AND c.cx = r.cx),
       |best AS (SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey
       |      ORDER BY dist_m NULLS LAST, s_suppkey NULLS LAST) AS rn
       |    FROM cand)
       |  WHERE rn = 1),
       |nc AS (SELECT c_custkey,
       |    CAST(SUM(CASE WHEN s_suppkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cand
       |  FROM cand GROUP BY c_custkey)
       |SELECT b.c_custkey, b.cy, b.cx, nc.n_cand,
       |  b.s_suppkey AS nearest_suppkey, b.dist_m
       |FROM best b JOIN nc ON b.c_custkey = nc.c_custkey
       |ORDER BY b.c_custkey""".stripMargin

  // ---- q214: hash-bucketed A/B experiment analysis ----

  /** q214: deterministic experiment assignment + conversion analysis.
    * Users hash into A/B arms (affine family — the production pattern:
    * assignment must be stateless, sticky and uniform); the metric is
    * signup→purchase conversion (q32's funnel semantics). Output: one
    * row with arm sizes, conversions, e6 rates, lift and the 2x2
    * chi-square statistic (one fixed IEEE tree rounded to e6 — the
    * q134 discipline for the single unavoidable division chain).
    * Shape: one user-grain aggregation, then a 2-row dim collapse. */
  def abTest(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      .withColumn("arm", pmod(Hashing.affine(col("user_id"), 5), lit(2L)))
    users
      .groupBy()
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("conv_a"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("conv_b"))
      .withColumn("rate_a_e6", expr("conv_a * 1000000 div n_a"))
      .withColumn("rate_b_e6", expr("conv_b * 1000000 div n_b"))
      .withColumn("lift_e6", col("rate_b_e6") - col("rate_a_e6"))
      .withColumn("chi2_e6",
        when(col("conv_a") + col("conv_b") === 0 ||
          col("conv_a") + col("conv_b") === col("n_a") + col("n_b"), 0L)
        .otherwise(e6(
          (col("n_a") + col("n_b")).cast("double") *
            pow(col("conv_a").cast("double") * (col("n_b") - col("conv_b")).cast("double") -
              col("conv_b").cast("double") * (col("n_a") - col("conv_a")).cast("double"), 2) /
            (col("n_a").cast("double") * col("n_b").cast("double") *
              (col("conv_a") + col("conv_b")).cast("double") *
              ((col("n_a") + col("n_b")) - (col("conv_a") + col("conv_b"))).cast("double")))))
  }

  val abTestSql: String = {
    val arm = s"((${Hashing.affineSql("user_id", 5)}) % 2 + 2) % 2"
    s"""WITH users AS (SELECT user_id,
       |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
       |    $arm AS arm
       |  FROM events GROUP BY user_id),
       |agg AS (SELECT
       |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |    CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
       |    CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
       |  FROM users)
       |SELECT n_a, n_b, conv_a, conv_b,
       |  conv_a * 1000000 // n_a AS rate_a_e6,
       |  conv_b * 1000000 // n_b AS rate_b_e6,
       |  conv_b * 1000000 // n_b - conv_a * 1000000 // n_a AS lift_e6,
       |  CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN 0
       |  ELSE ${e6Sql("""CAST(n_a + n_b AS DOUBLE) *
       |    pow(CAST(conv_a AS DOUBLE) * CAST(n_b - conv_b AS DOUBLE) -
       |        CAST(conv_b AS DOUBLE) * CAST(n_a - conv_a AS DOUBLE), 2) /
       |    (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) *
       |     CAST(conv_a + conv_b AS DOUBLE) *
       |     CAST((n_a + n_b) - (conv_a + conv_b) AS DOUBLE))""")} END AS chi2_e6
       |FROM agg""".stripMargin
  }

  // ---- q216: LPT shard balancing ----

  val Workers = 4

  /** q216: longest-processing-time-first assignment of sources to
    * output workers — the shard-balancing pass that sizes output files
    * (Graham 1969; 4/3-optimal makespan). Sources rank by total char
    * mass (corpus agg → 20-row dim); the greedy assigns each heaviest
    * remaining source to the least-loaded worker. The greedy folds
    * in-plan over the sorted dim array; only the per-source weights
    * touch the corpus. Output: per source its worker, the worker load
    * after placement, and the final makespan vs the ideal lower bound
    * (ceil(total/W)) as an e6 balance ratio. */
  def lptBalance(s: SparkSession, dir: String): DataFrame = {
    val weights = Tables.documents(s, dir)
      .groupBy(col("source")).agg(sum(col("n_chars")).as("weight"))
    val wAll = Window.partitionBy()
    weights
      .agg(sort_array(collect_list(struct((-col("weight")).as("nw"),
        col("source"), col("weight")))).as("items"))
      .select(explode(expr(
        s"""aggregate(
           |  items,
           |  named_struct(
           |    'loads', array_repeat(CAST(0 AS BIGINT), $Workers),
           |    'out', CAST(array() AS ARRAY<STRUCT<source: STRING, weight: BIGINT, worker: INT, load_after: BIGINT>>)),
           |  (acc, x) -> named_struct(
           |    'loads', transform(acc.loads, (l, j) ->
           |      IF(j = array_position(acc.loads, array_min(acc.loads)) - 1, l + x.weight, l)),
           |    'out', array_append(acc.out, named_struct(
           |      'source', x.source, 'weight', x.weight,
           |      'worker', CAST(array_position(acc.loads, array_min(acc.loads)) AS INT),
           |      'load_after', element_at(acc.loads, CAST(array_position(acc.loads, array_min(acc.loads)) AS INT)) + x.weight))),
           |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("r.source"), col("r.weight"), col("r.worker").cast("long").as("worker"),
        col("r.load_after"))
      .withColumn("makespan", max(col("load_after")).over(wAll))
      .withColumn("total", sum(col("weight")).over(wAll))
      .withColumn("balance_e6",
        expr(s"makespan * 1000000 div ((total + ${Workers - 1}) div $Workers)"))
      .select(col("source"), col("weight"), col("worker"), col("load_after"),
        col("makespan"), col("balance_e6"))
      .orderBy(col("source"))
  }

  val lptBalanceSql: String =
    s"""WITH RECURSIVE w AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS weight
       |  FROM documents GROUP BY source),
       |ranked AS (SELECT *, ROW_NUMBER() OVER (ORDER BY weight DESC, source) AS i
       |  FROM w),
       |lpt AS (
       |  SELECT 0 AS i, CAST(NULL AS VARCHAR) AS source, CAST(NULL AS BIGINT) AS weight,
       |    CAST(NULL AS BIGINT) AS worker, CAST(NULL AS BIGINT) AS load_after,
       |    list_transform(range(1, ${Workers + 1}), x -> CAST(0 AS BIGINT)) AS loads
       |  UNION ALL
       |  SELECT r.i, r.source, r.weight,
       |    CAST(list_position(l.loads, list_min(l.loads)) AS BIGINT) AS worker,
       |    l.loads[list_position(l.loads, list_min(l.loads))] + r.weight AS load_after,
       |    list_transform(range(1, ${Workers + 1}), j ->
       |      CASE WHEN j = list_position(l.loads, list_min(l.loads))
       |        THEN l.loads[CAST(j AS INT)] + r.weight ELSE l.loads[CAST(j AS INT)] END) AS loads
       |  FROM lpt l JOIN ranked r ON r.i = l.i + 1),
       |placed AS (SELECT source, weight, worker, load_after FROM lpt WHERE i > 0),
       |tot AS (SELECT CAST(MAX(load_after) AS BIGINT) AS makespan,
       |    CAST(SUM(weight) AS BIGINT) AS total FROM placed)
       |SELECT p.source, p.weight, p.worker, p.load_after, t.makespan,
       |  t.makespan * 1000000 // ((t.total + ${Workers - 1}) // $Workers) AS balance_e6
       |FROM placed p CROSS JOIN tot t
       |ORDER BY p.source""".stripMargin

  // ---- q217: rendezvous-hash shard assignment + reshard audit ----

  val ShardsBefore = 8
  val ShardsAfter = 10

  /** q217: highest-random-weight (rendezvous) shard assignment and the
    * audit of a reshard from [[ShardsBefore]] to [[ShardsAfter]]
    * shards. Each doc scores every shard with the affine hash family
    * and lives on the argmax; rendezvous guarantees a doc moves ONLY
    * if one of the NEW shards wins — the minimal-movement property
    * that makes consistent placement cheap to grow (spec-asserted).
    * Output: the (shard_before, shard_after) transition matrix with
    * moved counts. Pure map-side argmax over a constant-size score
    * array — no shuffle until the matrix aggregation. Hash ties break
    * toward the LARGEST shard id on both engines: Spark's
    * greatest(struct(h,k)) compares k after h, and the oracle orders
    * `k DESC` behind the score. */
  def rendezvousShards(s: SparkSession, dir: String): DataFrame = {
    def argmaxShard(n: Int): org.apache.spark.sql.Column =
      greatest((0 until n).map(k =>
        struct(Hashing.affine(col("doc_id"), k).as("h"), lit(k.toLong).as("k"))): _*)
        .getField("k")
    Tables.documents(s, dir)
      .select(col("doc_id"),
        argmaxShard(ShardsBefore).as("shard_before"),
        argmaxShard(ShardsAfter).as("shard_after"))
      .groupBy(col("shard_before"), col("shard_after"))
      .agg(count(lit(1)).as("n"),
        max(when(col("shard_before") =!= col("shard_after"), 1L).otherwise(0L))
          .cast("boolean").as("moved"))
      .orderBy(col("shard_before"), col("shard_after"))
  }

  val rendezvousShardsSql: String = {
    def score(k: Int) = Hashing.affineSql("doc_id", k)
    def argmax(n: Int) =
      s"""(SELECT k FROM (
         |    SELECT unnest(range(0, $n)) AS k) ks
         |    ORDER BY CASE ${(0 until n).map(k => s"WHEN ks.k = $k THEN ${score(k)}").mkString(" ")} END DESC, k DESC
         |    LIMIT 1)""".stripMargin
    s"""WITH a AS (SELECT doc_id,
       |    ${argmax(ShardsBefore)} AS shard_before,
       |    ${argmax(ShardsAfter)} AS shard_after
       |  FROM documents)
       |SELECT shard_before, shard_after, COUNT(*) AS n,
       |  MAX(CASE WHEN shard_before <> shard_after THEN 1 ELSE 0 END) > 0 AS moved
       |FROM a
       |GROUP BY shard_before, shard_after
       |ORDER BY shard_before, shard_after""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q213_geohash_join" -> (geohashJoin _),
    "q214_ab_test" -> (abTest _),
    "q216_lpt_balance" -> (lptBalance _),
    "q217_rendezvous_shards" -> (rendezvousShards _))

  val oracles: Map[String, String] = Map(
    "q213_geohash_join" -> geohashJoinSql,
    "q214_ab_test" -> abTestSql,
    "q216_lpt_balance" -> lptBalanceSql,
    "q217_rendezvous_shards" -> rendezvousShardsSql)
}
