package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** q238: budgeted source selection as an exact 0/1 knapsack — given a
  * token budget of half the corpus, choose WHOLE sources maximizing
  * lexical richness (distinct-word mass). The mix designers (q77/q104/
  * q158) apportion fractions; the knapsack answers the all-or-nothing
  * licensing/retention question where a source ships entirely or not
  * at all.
  */
object KnapsackQueries extends QueryFamily {

  /** Capacity resolution: weights discretize to ~256 units of the
    * corpus total (ceil), budget = half the units. The discretization
    * is part of the operator contract (exact DP needs integer
    * capacities; 1/256 resolution prices a source to <0.4% of the
    * corpus). */
  val KsUnits = 256L

  /** q238: the exact DP — per source its unit weight (ceil of the
    * char share in 1/[[KsUnits]] steps), its value (distinct folded
    * words), whether the optimal knapsack selects it, and the optimal
    * total value at the budget. The corpus-scale work is the per-source
    * weight/value aggregation; the DP (20 items x ~129 capacities) is
    * a bounded model computed driver-side (the q211/q231 precedent)
    * and joined back broadcast. The oracle replays the identical DP as
    * two recursive CTEs (forward value lists, backward selection). */
  def budgetKnapsack(s: SparkSession, dir: String): DataFrame = {
    val items0 = Tables.documents(s, dir)
      .select(col("source"),
        explode(split(lower(col("text")), "[^a-z]+")).as("word"),
        col("n_chars"))
    val weights = Tables.documents(s, dir).groupBy(col("source"))
      .agg(sum(col("n_chars")).as("chars"))
    val values = items0.filter(col("word") =!= "")
      .groupBy(col("source")).agg(countDistinct(col("word")).as("value"))
    val items = graft.operators.Dedup.stage(
      weights.join(values, Seq("source"))
        .withColumn("total", sum(col("chars")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
        .withColumn("unit", expr(s"(total + ${KsUnits - 1}) div $KsUnits"))
        .withColumn("wu", expr("(chars + unit - 1) div unit"))
        .select(col("source"), col("chars"), col("wu"), col("value")))
    val rows = items.collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3))).sortBy(_._1)
    val budget = (KsUnits / 2).toInt
    // forward DP
    val best = Array.ofDim[Long](rows.length + 1, budget + 1)
    for (i <- 1 to rows.length; c <- 0 to budget) {
      val (_, wu, v) = rows(i - 1)
      best(i)(c) =
        if (wu <= c) math.max(best(i - 1)(c), best(i - 1)(c - wu.toInt) + v)
        else best(i - 1)(c)
    }
    // backward selection
    var cap = budget
    val selected = scala.collection.mutable.Set.empty[String]
    for (i <- rows.length to 1 by -1) {
      if (best(i)(cap) != best(i - 1)(cap)) {
        selected += rows(i - 1)._1
        cap -= rows(i - 1)._2.toInt
      }
    }
    val opt = best(rows.length)(budget)
    val sel = s.createDataFrame(rows.map(r =>
        (r._1, selected.contains(r._1))).toSeq)
      .toDF("source", "selected")
    items.join(broadcast(sel), Seq("source"))
      .withColumn("opt_value", lit(opt))
      .withColumn("budget_units", lit(budget.toLong))
      .select(col("source"), col("chars"), col("wu"), col("value"),
        col("selected"), col("opt_value"), col("budget_units"))
      .orderBy(col("source"))
  }

  val budgetKnapsackSql: String = {
    val b = (KsUnits / 2).toInt
    s"""WITH RECURSIVE w AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS chars
       |  FROM documents GROUP BY source),
       |v AS (SELECT source, CAST(COUNT(DISTINCT word) AS BIGINT) AS value FROM (
       |    SELECT source, unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
       |    FROM documents)
       |  WHERE word <> '' GROUP BY source),
       |items AS (SELECT w.source, w.chars, v.value,
       |    CAST((w.chars + u.unit - 1) // u.unit AS BIGINT) AS wu,
       |    ROW_NUMBER() OVER (ORDER BY w.source) AS i
       |  FROM w JOIN v USING (source)
       |  CROSS JOIN (SELECT ((SELECT SUM(chars) FROM w) + ${KsUnits - 1}) // $KsUnits AS unit) u),
       |fwd AS (
       |  SELECT CAST(0 AS BIGINT) AS i,
       |    list_transform(range(0, $b + 1), x -> CAST(0 AS BIGINT)) AS best
       |  UNION ALL
       |  SELECT it.i, list_transform(range(0, $b + 1), c ->
       |      CASE WHEN it.wu <= c
       |        THEN GREATEST(f.best[CAST(c AS INT) + 1],
       |          f.best[CAST(c - it.wu AS INT) + 1] + it.value)
       |        ELSE f.best[CAST(c AS INT) + 1] END)
       |  FROM fwd f JOIN items it ON it.i = f.i + 1),
       |bwd AS (
       |  SELECT CAST((SELECT MAX(i) FROM items) AS BIGINT) AS i, CAST($b AS BIGINT) AS cap
       |  UNION ALL
       |  SELECT b.i - 1,
       |    CASE WHEN (SELECT f1.best[CAST(b.cap AS INT) + 1] FROM fwd f1 WHERE f1.i = b.i)
       |           <> (SELECT f0.best[CAST(b.cap AS INT) + 1] FROM fwd f0 WHERE f0.i = b.i - 1)
       |      THEN b.cap - (SELECT wu FROM items WHERE i = b.i)
       |      ELSE b.cap END
       |  FROM bwd b WHERE b.i >= 1),
       |sel AS (SELECT it.i, it.source,
       |    (SELECT f1.best[CAST(bb.cap AS INT) + 1] FROM fwd f1 WHERE f1.i = it.i)
       |      <> (SELECT f0.best[CAST(bb.cap AS INT) + 1] FROM fwd f0 WHERE f0.i = it.i - 1)
       |      AS selected
       |  FROM items it JOIN bwd bb ON bb.i = it.i),
       |opt AS (SELECT f.best[$b + 1] AS opt_value FROM fwd f
       |  WHERE f.i = (SELECT MAX(i) FROM items))
       |SELECT it.source, it.chars, it.wu, it.value, sel.selected,
       |  CAST(opt.opt_value AS BIGINT) AS opt_value,
       |  CAST($b AS BIGINT) AS budget_units
       |FROM items it JOIN sel ON sel.source = it.source CROSS JOIN opt
       |ORDER BY it.source""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q238_budget_knapsack" -> (budgetKnapsack _))

  val oracles: Map[String, String] = Map(
    "q238_budget_knapsack" -> budgetKnapsackSql)
}
