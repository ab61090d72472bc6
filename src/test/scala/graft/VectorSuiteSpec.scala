package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._
import graft.operators.{KnnSearch, VecMetric}

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftSession.registerFunctions(s)
    s
  }
  val sf = "/root/testdata/sf0.001"
}

class VectorSuiteSpec extends AnyFunSuite {
  import TestSpark._

  test("vector expressions match hand-computed values") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, -5.0f, 6.0f)))
      .toDF("a", "b")
    val row = df.select(
      vec_dot($"a", $"b").as("dot"),
      vec_l2($"a", $"b").as("l2"),
      vec_cosine_sim($"a", $"b").as("cos"),
      vec_sign_hamming($"a", $"b").as("ham")).head()
    assert(row.getDouble(0) == 1.0 * 4 - 2 * 5 + 3 * 6)
    assert(math.abs(row.getDouble(1) - math.sqrt(9.0 + 49 + 9)) < 1e-12)
    val expCos = 12.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(row.getDouble(2) - expCos) < 1e-12)
    assert(row.getLong(3) == 1L)
  }

  test("collect_topk keeps k best with id tie-break, both directions") {
    import spark.implicits._
    val df = Seq(
      (1L, 5.0, 10L), (1L, 1.0, 11L), (1L, 1.0, 9L), (1L, 3.0, 12L),
      (2L, 2.0, 20L), (2L, 4.0, 21L)
    ).toDF("query_id", "score", "id")
    val asc = df.groupBy("query_id")
      .agg(collect_topk($"score", $"id", 2, asc = true).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getLong(0), x.getDouble(1)))).toMap
    assert(asc(1L) == Seq((9L, 1.0), (11L, 1.0)))
    assert(asc(2L) == Seq((20L, 2.0), (21L, 4.0)))
    val desc = df.groupBy("query_id")
      .agg(collect_topk($"score", $"id", 2, asc = false).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getLong(0), x.getDouble(1)))).toMap
    assert(desc(1L) == Seq((10L, 5.0), (12L, 3.0)))
  }

  test("bruteForce knn is out-of-sample: neighbors are train rows, never the query") {
    // the held-out contract (Split): queries are test rows excluded
    // from the searched base, so no result may be the query itself or
    // any other test row
    for (name <- Seq("q01_knn_euclidean", "q02_knn_cosine")) {
      val got = SparkEntry.queries(name)(spark, sf).collect()
      assert(got.nonEmpty, name)
      got.foreach { r =>
        val (q, n) = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
        assert(q % 10 == 0, s"$name query $q not from the test split")
        assert(n % 10 != 0, s"$name returned non-train neighbor $n for query $q")
      }
    }
  }

  test("knn plan broadcasts queries and avoids sort-based topk") {
    val plan = SparkEntry.queries("q01_knn_euclidean")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("KnnTopK"), plan)
    assert(plan.contains("BroadcastExchange IdentityBroadcastMode"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.toLowerCase.contains("window"))
  }

  test("filtered knn pushes the label predicate into the parquet scan") {
    val plan = SparkEntry.queries("q04_knn_filtered")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(label"),
      s"label filter not pushed:\n$plan")
  }

  test("pack_bits + packed_hamming agree with per-dim sign hamming") {
    import spark.implicits._
    // 130 dims -> 3 words at 60 bits/word, exercising word boundaries
    val rng = new scala.util.Random(7)
    val vecs = Seq.fill(6)(Array.fill(130)(rng.nextGaussian().toFloat))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    val a = df.select(col("id").as("ia"), col("v").as("va"),
      pack_bits(col("v"), 60).as("pa"))
    val b = df.select(col("id").as("ib"), col("v").as("vb"),
      pack_bits(col("v"), 60).as("pb"))
    val rows = a.crossJoin(b).select(
      packed_hamming(col("pa"), col("pb")).as("packed"),
      vec_sign_hamming(col("va"), col("vb")).as("perdim")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // full-width 64-bit packing round-trips the high bit too
    val hi = df.select(pack_bits(col("v"), 64).as("p"))
    val words = hi.head().getSeq[Long](0)
    assert(words.length == 3) // ceil(130/64)
  }

  test("q14 compound filter is evaluated inside the fused kNN scan, not above it") {
    val df = SparkEntry.queries("q14_knn_filtered_compound")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val scan = plan.linesIterator.find(_.contains("KnnTopK"))
    assert(scan.isDefined, s"no KnnTopK in plan:\n$plan")
    // the per-query threshold conjunction rides in the scan operator,
    // so pairs die before any distance evaluation
    assert(scan.get.contains("l0") && scan.get.contains("t0"),
      s"compound predicate not in the kNN scan: ${scan.get}")
    assert(!plan.linesIterator.exists(l => l.contains("Filter") &&
      l.contains("t0")), s"compound predicate above the scan:\n$plan")
    assert(df.count() > 0)
  }

  test("q10 blocked batch query: no broadcast of the query table, same answers") {
    val emb = Tables.embeddings(spark, sf)
    val base = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.select(col("vec_id").as("query_id"),
      col("embedding").as("qvec"))
    val blocked = KnnSearch.bruteForceBlocked(base, queries, 5,
      VecMetric.Euclidean)
    val plan = blocked.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    val asTuples = (df: org.apache.spark.sql.DataFrame) => df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    val exact = KnnSearch.bruteForce(base, queries, 5, VecMetric.Euclidean)
    assert(asTuples(blocked) == asTuples(exact))
  }

  test("blocked paths survive empty and filtered-to-empty inputs") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(graft.operators.Dedup.embeddingNearDups(empty, 0.5).count() == 0)
    val few = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("id", "vec")
    val q = few.select(col("id").as("query_id"), col("vec").as("qvec"))
    val none = KnnSearch.bruteForceBlocked(few, q, 3, VecMetric.Euclidean,
      preFilter = Some(col("id") > 100))
    assert(none.count() == 0)
    val withPair = KnnSearch.bruteForceBlocked(few, q, 3, VecMetric.Euclidean,
      pairFilter = Some(col("id") =!= col("query_id")))
    // self excluded, so each query's single neighbor is the other row
    val got = withPair.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    assert(got == Set((1L, 2L), (2L, 1L)))
  }

  test("query-side scans prune to the selected columns only") {
    val plan = SparkEntry.queries("q01_knn_euclidean")(spark, sf)
      .queryExecution.executedPlan.toString
    // both scans should read exactly (vec_id, embedding)
    assert(plan.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"))
  }

  test("every oracleSql key has a queries entry") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("q47 grouped search: distinct groups per query, champions exact") {
    val res = graft.queries.VectorQueries.groupedSearch(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("label"), r.getAs[Long]("neighbor_id")))
    val byQ = res.groupBy(_._1)
    assert(byQ.nonEmpty)
    byQ.values.foreach { rows =>
      // ranks dense 1..G, one row per group
      assert(rows.map(_._2).sorted.toSeq == (1L to 5L))
      assert(rows.map(_._3).distinct.length == rows.length)
    }
    // the rank-1 group's champion must be the GLOBAL nearest neighbor
    // (the best group is by definition the one holding it)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = emb.filter(graft.queries.Split.isTrain(col("vec_id")))
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        col("label").cast("long").as("grp"))
    val queries = emb.filter(graft.queries.Split.isQuery(col("vec_id"), 10))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val top1 = KnnSearch.bruteForce(base, queries, 1, VecMetric.Euclidean)
      .collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id"))
      .toMap
    res.filter(_._2 == 1L).foreach { case (q, _, _, champion) =>
      assert(champion == top1(q))
    }
    // and each emitted champion's group matches the base row's group
    val grpOf = base.select("id", "grp").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    res.foreach { case (_, _, grp, champion) =>
      assert(grpOf(champion) == grp)
    }
  }
}

class SearchIteratorSpec extends AnyFunSuite {
  import TestSpark._

  test("q48 iterator pages tile the one-shot global ranking exactly") {
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter(queries.Split.isTrain(col("vec_id")))
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val qs = emb.filter(queries.Split.isQuery(col("vec_id"), 10))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val paged = KnnSearch
      .searchIterator(base, qs, pageSize = 5, nPages = 3, VecMetric.Euclidean)
      .select("query_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    val oneShot = KnnSearch.bruteForce(base, qs, 15, VecMetric.Euclidean)
      .select("query_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    assert(paged.toSeq == oneShot.toSeq,
      "continuation pages must reproduce the one-shot top-15 verbatim")
  }

  test("q48 iterator exhausts naturally after a short page") {
    import spark.implicits._
    // 7-row base, pageSize 5: page 1 full, page 2 short (2 rows, so
    // no rank==5 boundary), page 3 empty — the iterator's end-of-stream
    val base = (1 to 7).map(i => (i.toLong, Array(i.toFloat)))
      .toDF("id", "vec")
    val qs = Seq((100L, Array(0.0f))).toDF("query_id", "qvec")
    val out = KnnSearch
      .searchIterator(base, qs, pageSize = 5, nPages = 3, VecMetric.Euclidean)
      .select("page", "rank", "neighbor_id")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      .sortBy(_._2)
    assert(out.map(_._3).toSeq == (1L to 7L))
    assert(out.count(_._1 == 1) == 5 && out.count(_._1 == 2) == 2)
  }
}
