package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression: IVF search as the very first query in a fresh session
  * used to die with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND — constraint
  * inference pushed the cluster-assignment expression (which
  * references the base scan) across the probes/queries self-join
  * before relation dedup renamed the second scan. The probe worklist
  * (IvfIndex.probedQueries) is now a LocalRelation built on the
  * driver, so no plan joins the queries' lineage with the base scan.
  */
class IvfFreshSessionSpec extends AnyFunSuite {
  import TestSpark._
  test("ivfFlat works as the first query in a fresh session") {
    val out = graft.queries.IndexQueries.ivfFlat(spark, "/root/testdata/sf0.01")
    assert(out.count() == 100)
  }
}
