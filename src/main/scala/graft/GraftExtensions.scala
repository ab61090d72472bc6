package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.operators.KnnTopK

/** Cluster-wide injection point: ship the library jar and set
  * `spark.sql.extensions=graft.GraftExtensions` — every session then
  * has the vector/text kernels as SQL functions, and the planner
  * strategy for the fused kNN operator, without any driver code (the
  * standard way to install custom Catalyst functions on a shared
  * cluster).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, null, "", "", "", "", "", "",
      "scala_udf")

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftSession.sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name), builder))
    }
    ext.injectPlannerStrategy(_ => KnnTopK.Strategy)
  }
}
