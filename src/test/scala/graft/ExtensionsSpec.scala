package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{KnnSearch, KnnTopKExec, VecMetric}

class ExtensionsSpec extends AnyFunSuite {

  /** Run `f` on a session built only with `GraftExtensions`.
    * `spark.sql.extensions=graft.GraftExtensions` is a STATIC conf —
    * it only takes effect when the SparkContext is created, so on the
    * shared test context we exercise the same injection through the
    * programmatic builder route. Never stop() the shared context.
    */
  private def withExtensionsSession(f: SparkSession => Unit): Unit = {
    val prev = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val spark = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .withExtensions(new GraftExtensions)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      f(spark)
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prev.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
  }

  test("GraftExtensions injection installs the kernels in a new session") {
    withExtensionsSession { spark =>
      val row = spark.sql(
        "SELECT vec_l2(array(0.0D, 3.0D), array(4.0D, 0.0D)) AS d").head()
      assert(row.getDouble(0) == 5.0)
    }
  }

  test("extension injection and registerFunctions install the same function table") {
    val names = GraftSession.sqlFunctions.map(_._1)
    assert(names.distinct.length == names.length, s"duplicate names: $names")
    withExtensionsSession { spark =>
      val missing = names.filterNot(spark.catalog.functionExists)
      assert(missing.isEmpty, s"not injected by GraftExtensions: $missing")
    }
    // the per-session route, on a fresh session of the shared context
    // (no extensions, no temp functions carried over)
    val fresh = TestSpark.spark.newSession()
    def listed: Set[String] =
      fresh.catalog.listFunctions().collect().map(_.name).toSet
    val before = listed
    GraftSession.registerFunctions(fresh)
    assert(listed -- before == names.toSet,
      "registerFunctions installed a different set than the table")
  }

  test("a session built only with GraftExtensions plans bruteForce as KnnTopKExec") {
    withExtensionsSession { spark =>
      import spark.implicits._
      assert(spark.experimental.extraStrategies.isEmpty)
      val base = (0L until 40L).map(i => (i, Array(i.toFloat, -i.toFloat)))
        .toDF("id", "vec")
      val queries = Seq((7L, Array(3.2f, -3.2f))).toDF("query_id", "qvec")
      val df = KnnSearch.bruteForce(base, queries, 2, VecMetric.Euclidean)
      assert(df.select("neighbor_id").as[Long].collect().toSeq == Seq(3L, 4L))
      val nodes = new AdaptiveSparkPlanHelper {}
        .collect(df.queryExecution.executedPlan) { case p => p.getClass }
      assert(nodes.contains(classOf[KnnTopKExec]), nodes)
      assert(!nodes.contains(classOf[BroadcastNestedLoopJoinExec]), nodes)
    }
  }
}
