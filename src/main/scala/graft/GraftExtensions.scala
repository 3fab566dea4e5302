package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.SparkSessionExtensions

import graft.expressions.{ArrayDot, PolyHash, StripAccents}
import graft.plans.TopKPerKeyStrategy

/** SQL-surface registration of graft's native expressions, so
  * `spark.sql("SELECT graft_strip_accents(name) ...")` works next to
  * the Column API, plus the planner strategy for graft's plan nodes.
  * Sessions get it through `spark.sql.extensions=graft.GraftExtensions`:
  * `Sessions.builder` sets it, and a cluster deployment passes it as
  * `--conf`. Nothing installs it on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
  }
}

object GraftFunctions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", name)

  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_strip_accents", info("graft_strip_accents", "NFKD accent strip"),
      (es: Seq[Expression]) => StripAccents(es.head)),
    ("graft_poly_hash", info("graft_poly_hash", "portable polynomial hash"),
      (es: Seq[Expression]) => PolyHash(es.head)),
    ("graft_array_dot", info("graft_array_dot", "float-array dot product"),
      (es: Seq[Expression]) => ArrayDot(es.head, es(1))))
}
