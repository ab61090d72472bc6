package graft

import org.scalatest.funsuite.AnyFunSuite

class SqlSurfaceSpec extends AnyFunSuite {
  import TestSpark._

  test("registered SQL functions evaluate") {
    GraftSession.registerFunctions(spark)
    val row = spark.sql(
      """SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |       vec_cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
        |       text_fingerprint('abc') AS fp,
        |       simhash64(array(CAST(-1 AS BIGINT))) AS sh
        |""".stripMargin).head()
    assert(row.getDouble(0) == 11.0)
    assert(row.getDouble(1) == 1.0)
    assert(row.getLong(2) ==
      "abc".foldLeft(0L)((h, ch) => (h * 31 + ch.toInt) % 1000000007L))
    assert(row.getLong(3) == -1L) // all 64 bits set
  }

  test("pq_adc SQL surface: m table lookups summed") {
    GraftSession.registerFunctions(spark)
    val row = spark.sql(
      """SELECT pq_adc(array(0, 1),
        |              array(array(0.5D, 1.5D), array(2.5D, 3.5D))) AS adc
        |""".stripMargin).head()
    assert(row.getDouble(0) == 0.5 + 3.5)
  }

  test("pack_bits / packed_hamming / poly_hash SQL surface") {
    GraftSession.registerFunctions(spark)
    val row = spark.sql(
      """SELECT packed_hamming(pack_bits(array(1.0D, -1.0D, 1.0D), 60),
        |                      pack_bits(array(1.0D, 1.0D, -1.0D), 60)) AS h,
        |       poly_hash('abc', 31, 1000000007) AS p
        |""".stripMargin).head()
    assert(row.getLong(0) == 2L)
    assert(row.getLong(1) ==
      "abc".foldLeft(0L)((h, ch) => (h * 31 + ch.toInt) % 1000000007L))
    val rh = spark.sql(
      "SELECT rolling_hash_windows('abcd', 3, 131) AS h").head()
      .getSeq[Long](0)
    def fold(s: String) = s.foldLeft(0L)((h, c) => h * 131L + c.toInt)
    assert(rh == Seq(fold("abc"), fold("bcd")))
    // non-literal params are an analysis-time error, not a runtime NPE
    val err = intercept[Exception] {
      spark.sql("SELECT poly_hash('a', vec_id, 7) FROM range(1)").collect()
    }
    assert(err.getMessage.contains("foldable") ||
      err.getMessage.contains("UNRESOLVED"), err.getMessage)
  }

  test("the IVF scan's distance projection stays inside whole-stage codegen") {
    // q20's flat cell scan scores inside the fused KnnTopKExec
    // (IvfScanSpec); the IVF range scan (q52) still scores through the
    // codegen'd vec_l2 expression, after the codegen'd cell assignment
    val fused = SparkEntry.queries("q20_ivf_flat")(spark, sf)
    fused.collect()
    val fusedPlan = fused.queryExecution.executedPlan.toString
    assert(fusedPlan.contains("KnnTopK") &&
      !fusedPlan.contains("BroadcastHashJoin"),
      s"q20's cell scan is not the fused operator:\n$fusedPlan")
    val df = SparkEntry.queries("q52_ivf_range")(spark, sf)
    df.collect() // AQE only finalises (and shows) codegen stages on execution
    val plan = df.queryExecution.executedPlan.toString
    // the scoring vecl2(qvec, vec) — the radius test rides in the
    // probe join's condition — and the cell assignment
    // nearest_centroid(...) must each carry the *(n)
    // whole-stage-codegen marker; an interpreted fallback would print
    // them unstarred
    for (expr <- Seq("vecl2(qvec", "nearest_centroid(")) {
      val line = plan.linesIterator.find(_.contains(expr))
      assert(line.isDefined, s"$expr not in plan:\n$plan")
      assert(line.get.matches(""".*\*\(\d+\) .*"""),
        s"$expr not codegen'd: ${line.get}")
    }
  }

  test("SQL users can run a full knn query over parquet with vec functions") {
    GraftSession.registerFunctions(spark)
    spark.read.parquet(s"$sf/embeddings.parquet")
      .createOrReplaceTempView("emb_sql")
    val out = spark.sql(
      """SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
        |       vec_l2(q.embedding, b.embedding) AS d
        |FROM emb_sql q JOIN emb_sql b
        |WHERE q.vec_id = 0
        |ORDER BY d, b.vec_id LIMIT 5""".stripMargin).collect()
    assert(out.length == 5)
    assert(out.head.getAs[Long]("neighbor_id") == 0L)
  }
}
