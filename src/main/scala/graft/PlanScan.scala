package graft

/** Diagnostic sweep: for every SparkEntry query, report scan-level
  * DataFilters that inline heavy derived expressions (the inferred-
  * filter pushdown recompute class). runMain graft.PlanScan [sfDir]. */
object PlanScan {
  val Markers = Seq("strip_accents", "aggregate(", "zip_with", "array_repeat", "transform(")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "false") // concrete plans for collect()
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, q) =>
      try {
        val exec = q(spark, sfDir).queryExecution.executedPlan
        val scanFilters = exec.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.dataFilters.map(_.toString).mkString("; ")
        }.mkString("\n")
        val hits = Markers.filter(scanFilters.contains)
        if (hits.nonEmpty)
          println(s"[planscan] $name: scan DataFilters mention ${hits.mkString(", ")} " +
            s"(${scanFilters.length} chars)")
      } catch { case e: Exception => println(s"[planscan] $name: ERROR ${e.getMessage.take(80)}") }
    }
    println("[planscan] done")
    spark.stop()
  }
}
