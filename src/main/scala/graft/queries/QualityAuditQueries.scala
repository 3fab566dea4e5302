package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Trend estimation and warehouse-QA audits: OLS regression (q226),
  * Theil-Sen robust slope (q227), l-diversity (q228), referential
  * integrity (q229) and t-closeness (q248). q226/q227 give the event
  * stream its trend layer on top of q223's serial-dependence read;
  * q228 extends q164's k-anonymity with the homogeneity-attack check
  * and q248 completes the privacy ladder with the
  * distribution-skewness check; q229 is the classic foreign-key audit
  * every warehouse runs before trusting a join.
  */
object QualityAuditQueries extends QueryFamily {

  /** Dense per-type daily counts with a 0-based day index — shared by
    * the OLS and Theil-Sen trend estimators. */
  private def dailySeries(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val spine = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type"), col("d0"),
        explode(expr("sequence(d0, d1)")).as("day"))
    spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), (col("day") - col("d0")).as("x"),
        coalesce(col("cnt"), lit(0L)).as("y"))
  }

  // ---- q226: OLS trend per event type ----

  /** q226: simple linear regression of daily count on day index per
    * event type — slope/intercept/R² as e6 integers, each ONE fixed
    * IEEE tree over exact integer sums (Cramer's closed form; no
    * iterative solver): the trend read of the rate monitoring stack
    * (q208 asks "did it shift", q226 asks "is it drifting and how
    * fast"). Corpus collapses to the (type, day) dim in one hash agg;
    * the regression is five integer sums per type. */
  def linregress(s: SparkSession, dir: String): DataFrame =
    dailySeries(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("b_num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("b_den", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("slope_e6",
        round(lit(1000000.0) * col("b_num").cast("double") / col("b_den").cast("double"))
          .cast("long"))
      .withColumn("intercept_e6",
        round(lit(1000000.0) *
          (col("sy").cast("double") * col("b_den").cast("double") -
            col("b_num").cast("double") * col("sx").cast("double")) /
          (col("n").cast("double") * col("b_den").cast("double"))).cast("long"))
      .withColumn("r2_e6",
        round(lit(1000000.0) * col("b_num").cast("double") * col("b_num").cast("double") /
          (col("b_den").cast("double") *
            (col("n") * col("syy") - col("sy") * col("sy")).cast("double"))).cast("long"))
      .select(col("event_type"), col("n"), col("slope_e6"),
        col("intercept_e6"), col("r2_e6"))
      .orderBy(col("event_type"))

  private val DailyCtes: String =
    """daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |spine AS (SELECT event_type, d0, unnest(range(d0, d1 + 1)) AS day
      |  FROM (SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1)),
      |dense AS (SELECT s.event_type, s.day - s.d0 AS x, COALESCE(d.cnt, 0) AS y
      |  FROM spine s LEFT JOIN daily d ON s.event_type = d.event_type AND s.day = d.day)""".stripMargin

  val linregressSql: String =
    s"""WITH $DailyCtes,
       |g AS (SELECT event_type, COUNT(*) AS n,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(x * y) AS BIGINT) AS sxy,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx,
       |    CAST(SUM(y * y) AS BIGINT) AS syy
       |  FROM dense GROUP BY event_type),
       |c AS (SELECT *, n * sxy - sx * sy AS b_num, n * sxx - sx * sx AS b_den FROM g)
       |SELECT event_type, n,
       |  CAST(ROUND(1000000.0 * CAST(b_num AS DOUBLE) / CAST(b_den AS DOUBLE)) AS BIGINT) AS slope_e6,
       |  CAST(ROUND(1000000.0 *
       |    (CAST(sy AS DOUBLE) * CAST(b_den AS DOUBLE) - CAST(b_num AS DOUBLE) * CAST(sx AS DOUBLE)) /
       |    (CAST(n AS DOUBLE) * CAST(b_den AS DOUBLE))) AS BIGINT) AS intercept_e6,
       |  CAST(ROUND(1000000.0 * CAST(b_num AS DOUBLE) * CAST(b_num AS DOUBLE) /
       |    (CAST(b_den AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))) AS BIGINT) AS r2_e6
       |FROM c
       |ORDER BY event_type""".stripMargin

  // ---- q227: Theil-Sen robust slope per event type ----

  /** q227: the Theil-Sen estimator — the (lower) median of all
    * pairwise slopes (y_j−y_i)/(x_j−x_i), robust to outlier days OLS
    * would chase (breakdown point 29%). Pair generation is quadratic
    * only in the DAY-DIM length (~30 rows per type — bounded at any
    * corpus size); the median picks the row_number'd middle slope
    * under IEEE-double ordering (identical on both engines), reported
    * as one e6 division of the chosen exact fraction. */
  def theilSen(s: SparkSession, dir: String): DataFrame = {
    val d = graft.operators.Dedup.stage(dailySeries(s, dir))
    val a = d.select(col("event_type"), col("x").as("xi"), col("y").as("yi"))
    val b = d.select(col("event_type"), col("x").as("xj"), col("y").as("yj"))
    val slopes = a.join(b, Seq("event_type")).filter(col("xi") < col("xj"))
      .withColumn("slope",
        (col("yj") - col("yi")).cast("double") / (col("xj") - col("xi")).cast("double"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("slope"), col("xi"), col("xj"))
    slopes
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n_pairs", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .filter(col("rn") === expr("(n_pairs + 1) div 2"))
      .select(col("event_type"), col("n_pairs"),
        round(lit(1000000.0) * col("slope")).cast("long").as("slope_e6"),
        col("xi").as("med_xi"), col("xj").as("med_xj"))
      .orderBy(col("event_type"))
  }

  val theilSenSql: String =
    s"""WITH $DailyCtes,
       |pairs AS (SELECT a.event_type, a.x AS xi, b.x AS xj, a.y AS yi, b.y AS yj,
       |    CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
       |  FROM dense a JOIN dense b ON a.event_type = b.event_type AND a.x < b.x),
       |r AS (SELECT *,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope, xi, xj) AS BIGINT) AS rn,
       |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_pairs
       |  FROM pairs)
       |SELECT event_type, n_pairs,
       |  CAST(ROUND(1000000.0 * slope) AS BIGINT) AS slope_e6,
       |  xi AS med_xi, xj AS med_xj
       |FROM r WHERE rn = (n_pairs + 1) // 2
       |ORDER BY event_type""".stripMargin

  // ---- q228: l-diversity audit ----

  /** q228: l-diversity over the q164 quasi-identifier classes with
    * `lang` as the sensitive attribute — k-anonymity alone cannot stop
    * the homogeneity attack (a class of 50 docs all in one language
    * leaks the language); per class: size k, distinct sensitive values
    * l, and the majority-value share (e6); per source the window
    * minimum l. One hash agg to the class grain, windows on the dim. */
  def lDiversity(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("source"),
        length(bin(greatest(col("n_chars"), lit(1L)))).cast("long").as("size_bin"),
        col("lang"))
    val byVal = base.groupBy(col("source"), col("size_bin"), col("lang"))
      .agg(count(lit(1)).as("nv"))
    byVal
      .groupBy(col("source"), col("size_bin"))
      .agg(sum(col("nv")).as("k"), count(lit(1)).as("l"),
        max(col("nv")).as("majority_n"))
      .withColumn("majority_share_e6", expr("majority_n * 1000000 div k"))
      .withColumn("source_min_l",
        min(col("l")).over(Window.partitionBy(col("source"))))
      .select(col("source"), col("size_bin"), col("k"), col("l"),
        col("majority_n"), col("majority_share_e6"), col("source_min_l"))
      .orderBy(col("source"), col("size_bin"))
  }

  val lDiversitySql: String =
    """WITH byval AS (SELECT source,
      |    CAST(length(bin(GREATEST(n_chars, 1))) AS BIGINT) AS size_bin,
      |    lang, CAST(COUNT(*) AS BIGINT) AS nv
      |  FROM documents GROUP BY 1, 2, 3),
      |cls AS (SELECT source, size_bin,
      |    CAST(SUM(nv) AS BIGINT) AS k,
      |    CAST(COUNT(*) AS BIGINT) AS l,
      |    CAST(MAX(nv) AS BIGINT) AS majority_n
      |  FROM byval GROUP BY source, size_bin)
      |SELECT source, size_bin, k, l, majority_n,
      |  majority_n * 1000000 // k AS majority_share_e6,
      |  CAST(MIN(l) OVER (PARTITION BY source) AS BIGINT) AS source_min_l
      |FROM cls
      |ORDER BY source, size_bin""".stripMargin

  // ---- q248: t-closeness audit ----

  /** q248: t-closeness over the q164/q228 quasi-identifier classes
    * (Li et al., ICDE'07) — the third rung of the privacy-audit
    * ladder: k-anonymity bounds class size, l-diversity counts
    * sensitive values, but a class can satisfy both while its `lang`
    * DISTRIBUTION still diverges from the corpus (a class 90% one
    * language in a 50/50 corpus leaks attribute information). t is
    * the variational distance ½·Σ|P_class(v) − P_global(v)| over the
    * sensitive vocabulary, reported per class as an e6 integer with
    * the per-source worst case.
    *
    * Exactness: every term is the integer |nv·N − gv·k| (one
    * BIGINT product per side; exact while k·N < ~9e12, i.e. audit
    * scopes to ~3M rows — at corpus scale the audit runs per shard
    * exactly as the reference's per-collection audits do), and the
    * single e6 division happens once per class — no float sums, so
    * both engines agree bit-for-bit.
    *
    * Scale shape: the corpus is scanned ONCE into the
    * (source, size_bin, lang) hash agg (map-side partial); classes,
    * the global lang distribution, and the 1-row total are all
    * dim-sized derivations of it, and the class×vocab expansion is
    * a broadcast of the bounded lang dim — no corpus-sized join or
    * window anywhere. */
  def tCloseness(s: SparkSession, dir: String): DataFrame = {
    // byval is the ONLY corpus-sized computation and it collapses to
    // the bounded (class, lang) dim — staged once, its four consumers
    // (classes, global distribution, total, expansion join) never
    // re-scan the corpus
    val byval = graft.operators.Dedup.stage(Tables.documents(s, dir)
      .select(col("source"),
        length(bin(greatest(col("n_chars"), lit(1L)))).cast("long").as("size_bin"),
        col("lang"))
      .groupBy(col("source"), col("size_bin"), col("lang"))
      .agg(count(lit(1)).as("nv")))
    val cls = byval.groupBy(col("source"), col("size_bin"))
      .agg(sum(col("nv")).as("k"))
    val glob = byval.groupBy(col("lang")).agg(sum(col("nv")).as("gv"))
    val tot = glob.agg(sum(col("gv")).as("n"))
    cls.crossJoin(broadcast(glob)).crossJoin(broadcast(tot))
      .join(byval, Seq("source", "size_bin", "lang"), "left")
      .withColumn("term",
        abs(coalesce(col("nv"), lit(0L)) * col("n") - col("gv") * col("k")))
      .groupBy(col("source"), col("size_bin"))
      .agg(min(col("k")).as("k"), min(col("n")).as("n"),
        sum(col("term")).as("numer"))
      .withColumn("t_e6", expr("numer * 1000000 div (2 * k * n)"))
      .withColumn("source_max_t_e6",
        max(col("t_e6")).over(Window.partitionBy(col("source"))))
      .select(col("source"), col("size_bin"), col("k"), col("t_e6"),
        col("source_max_t_e6"))
      .orderBy(col("source"), col("size_bin"))
  }

  val tClosenessSql: String =
    """WITH byval AS (SELECT source,
      |    CAST(length(bin(GREATEST(n_chars, 1))) AS BIGINT) AS size_bin,
      |    lang, CAST(COUNT(*) AS BIGINT) AS nv
      |  FROM documents GROUP BY 1, 2, 3),
      |cls AS (SELECT source, size_bin, CAST(SUM(nv) AS BIGINT) AS k
      |  FROM byval GROUP BY 1, 2),
      |gdist AS (SELECT lang, CAST(SUM(nv) AS BIGINT) AS gv FROM byval GROUP BY 1),
      |tot AS (SELECT CAST(SUM(gv) AS BIGINT) AS n FROM gdist),
      |terms AS (SELECT c.source, c.size_bin, c.k, t.n,
      |    ABS(COALESCE(b.nv, 0) * t.n - g.gv * c.k) AS term
      |  FROM cls c CROSS JOIN gdist g CROSS JOIN tot t
      |  LEFT JOIN byval b
      |    ON b.source = c.source AND b.size_bin = c.size_bin AND b.lang = g.lang),
      |cl AS (SELECT source, size_bin, MIN(k) AS k, MIN(n) AS n,
      |    CAST(SUM(term) AS BIGINT) AS numer
      |  FROM terms GROUP BY 1, 2)
      |SELECT source, size_bin, k,
      |  numer * 1000000 // (2 * k * n) AS t_e6,
      |  CAST(MAX(numer * 1000000 // (2 * k * n))
      |    OVER (PARTITION BY source) AS BIGINT) AS source_max_t_e6
      |FROM cl
      |ORDER BY source, size_bin""".stripMargin

  // ---- q229: referential-integrity audit ----

  /** q229: the foreign-key audit — for every FK edge of the star
    * schema: child rows, orphan children (FK value absent from the
    * parent), orphan rate, parent rows, childless parents. Orphans
    * should be zero on healthy data; childless parents (customers who
    * never ordered) are the business signal. Each edge is one left
    * anti-join each way on the key — co-partitioned, no windows. */
  def refIntegrity(s: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: DataFrame, childKey: String,
             parent: DataFrame, parentKey: String): DataFrame = {
      val c = child.select(col(childKey).as("k"))
      val p = parent.select(col(parentKey).as("k")).distinct()
      val cs = c.join(p.withColumn("hit", lit(1L)), Seq("k"), "left")
        .agg(count(lit(1)).as("n_child"),
          sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_orphans"))
      val ps = p.join(c.distinct().withColumn("chit", lit(1L)), Seq("k"), "left")
        .agg(count(lit(1)).as("n_parent"),
          sum(when(col("chit").isNull, 1L).otherwise(0L)).as("n_childless_parents"))
      cs.crossJoin(ps)
        .select(lit(name).as("rel"), col("n_child"), col("n_orphans"),
          expr("n_orphans * 1000000 div greatest(n_child, 1)").as("orphan_rate_e6"),
          col("n_parent"), col("n_childless_parents"))
    }
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val cu = Tables.customer(s, dir)
    val na = Tables.nation(s, dir)
    val su = Tables.supplier(s, dir)
    val pa = Tables.part(s, dir)
    edge("lineitem->orders", li, "l_orderkey", o, "o_orderkey")
      .unionByName(edge("lineitem->part", li, "l_partkey", pa, "p_partkey"))
      .unionByName(edge("lineitem->supplier", li, "l_suppkey", su, "s_suppkey"))
      .unionByName(edge("orders->customer", o, "o_custkey", cu, "c_custkey"))
      .unionByName(edge("customer->nation", cu, "c_nationkey", na, "n_nationkey"))
      .orderBy(col("rel"))
  }

  val refIntegritySql: String = {
    def edge(name: String, child: String, ck: String, parent: String, pk: String) =
      s"""SELECT '$name' AS rel,
         |  (SELECT COUNT(*) FROM $child) AS n_child,
         |  (SELECT COUNT(*) FROM $child c WHERE NOT EXISTS (
         |     SELECT 1 FROM $parent p WHERE p.$pk = c.$ck)) AS n_orphans,
         |  (SELECT COUNT(*) FROM $child c WHERE NOT EXISTS (
         |     SELECT 1 FROM $parent p WHERE p.$pk = c.$ck)) * 1000000
         |    // GREATEST((SELECT COUNT(*) FROM $child), 1) AS orphan_rate_e6,
         |  (SELECT COUNT(DISTINCT $pk) FROM $parent) AS n_parent,
         |  (SELECT COUNT(*) FROM (SELECT DISTINCT $pk AS k FROM $parent) p
         |     WHERE NOT EXISTS (SELECT 1 FROM $child c WHERE c.$ck = p.k)) AS n_childless_parents""".stripMargin
    Seq(
      edge("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      edge("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      edge("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      edge("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
      edge("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY rel")
  }

  val queries: Map[String, Q] = Map(
    "q226_linregress" -> (linregress _),
    "q227_theil_sen" -> (theilSen _),
    "q228_ldiversity" -> (lDiversity _),
    "q229_ref_integrity" -> (refIntegrity _),
    "q248_tcloseness" -> (tCloseness _))

  val oracles: Map[String, String] = Map(
    "q226_linregress" -> linregressSql,
    "q227_theil_sen" -> theilSenSql,
    "q228_ldiversity" -> lDiversitySql,
    "q229_ref_integrity" -> refIntegritySql,
    "q248_tcloseness" -> tClosenessSql)
}
