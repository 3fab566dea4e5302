package graft

import org.apache.spark.sql.functions.col

import graft.plans.{Plans, TopKPerKeyExec}

class ExtensionsSpec extends SparkSpec {

  test("graft functions are callable from SQL on a Sessions.builder session") {
    val r = spark.sql(
      """SELECT graft_strip_accents('São João') AS s,
        |       graft_poly_hash('ab1') AS h,
        |       graft_array_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                       array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d
        |""".stripMargin).collect().head
    assert(r.getString(0) == "Sao Joao")
    assert(r.getLong(1) == "ab1".foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L))
    assert(r.getDouble(2) == 11.0)
  }

  test("the extension injects the TopKPerKey planner strategy") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    assert(org.apache.spark.sql.GraftInternals.plannerStrategies(ext, spark)
      .contains(graft.plans.TopKPerKeyStrategy))
  }

  test("a top-k frame plans to TopKPerKeyExec without adding session strategies") {
    val df = spark.range(20).select((col("id") % 3).as("g"), col("id"))
    val top = Plans.topKPerKeyRanked(df, Seq(df("g")), Seq((df("id"), true)), 2, "rk")
    val plan = top.queryExecution.sparkPlan
    assert(plan.collectFirst { case e: TopKPerKeyExec => e }.isDefined, plan.toString)
    assert(top.count() == 6)
    assert(spark.experimental.extraStrategies.isEmpty, spark.experimental.extraStrategies)
  }
}
