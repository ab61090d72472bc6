package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** a07: the co-located bucketed join must (a) agree with the plain
  * join and (b) actually be shuffle-free — no Exchange anywhere in
  * the join subtree, which is the entire point of paying the bucketed
  * write.
  */
class AnalyticsSpec extends AnyFunSuite {
  import TestSpark._

  test("a07 bucketed join equals the plain join result") {
    val got = SparkEntry.queries("a07_bucketed_join")(spark, sf).collect()
    val want = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 100).cast("long")).as("revenue_cents"))
      .orderBy("o_orderpriority").collect()
    assert(got.toSeq == want.toSeq)
  }

  test("a07 join subtree is exchange-free (bucket co-location)") {
    // join WITHOUT the final rollup: the only shuffle a07 is allowed
    // is the tiny post-join aggregation, so the bare join must have
    // no Exchange at all
    val q = SparkEntry.queries("a07_bucketed_join")(spark, sf)
    q.collect() // ensures bucketed tables exist + AQE finalizes
    val (liTable, ordTable) =
      graft.queries.AnalyticsQueries.bucketedTables(spark, sf)
    val join = spark.table(liTable).hint("merge")
      .join(spark.table(ordTable).hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
    assert(join.count() > 0)
    val plan = join.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange"), s"bucketed join shuffled:\n$plan")
  }

  test("a08 asof join equals the brute-force latest-preceding-click") {
    val got = SparkEntry.queries("a08_asof_join")(spark, sf)
    // brute force: max (click us, click id) over all clicks <= error
    val evRaw = Tables.events(spark, sf)
    val ev = evRaw.select(col("user_id"),
      col("event_id"), EventTime.tsUs(evRaw).as("us"), col("event_type"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id").as("cu"), col("us").as("cus"))
      .agg(max("event_id").as("cid"))
    val errors = ev.filter(col("event_type") === "error")
    val want = errors.join(clicks,
        col("user_id") === col("cu") && col("cus") <= col("us"), "left")
      .groupBy("event_id", "user_id", "us")
      .agg(max(struct(col("cus"), col("cid"))).as("w"))
      .select(col("event_id"), col("user_id"), col("us"),
        coalesce(col("w.cid"), lit(-1L)).as("click_id"),
        coalesce(col("w.cus"), lit(-1L)).as("click_us"))
      .orderBy("event_id")
    assert(got.collect().toSeq == want.collect().toSeq)
    // and the scalable plan has no nested-loop join
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("a09 bucketed range join: correct counts, equi-join only") {
    val got = SparkEntry.queries("a09_range_join")(spark, sf)
    val evRaw = Tables.events(spark, sf)
    val ev = evRaw.select(col("user_id"),
      col("event_id"), EventTime.tsUs(evRaw).as("us"), col("event_type"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("us").as("cus"))
    val want = ev.filter(col("event_type") === "error")
      .join(clicks, col("user_id") === col("cu") &&
        col("cus") > col("us") - 1800L * 1000000L &&
        col("cus") <= col("us"), "left")
      .groupBy("event_id", "user_id", "us")
      .agg(count(col("cus")).as("n_clicks"))
      .orderBy("event_id")
    assert(got.collect().toSeq ==
      want.select("event_id", "user_id", "us", "n_clicks").collect().toSeq)
    assert(got.collect().map(_.getLong(3)).sum > 0)
    // the whole point of the bucketing: the range predicate rides an
    // EQUI-join, never a nested-loop plan
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("a10 salted join: exact on a one-hot-key corpus, salts spread work") {
    import spark.implicits._
    import graft.operators.SkewJoin
    // 10k big rows ALL on key 1 (maximal skew) + a tail key
    val big = spark.range(10000)
      .select(when(col("id") < 9000, 1L).otherwise(2L).as("k"),
        col("id").as("payload"))
    val small = Seq((1L, "hot"), (2L, "cold"), (3L, "unmatched"))
      .toDF("k", "name")
    val got = SkewJoin.saltedJoin(big, small, "k", salts = 8,
        saltBy = xxhash64(col("payload")))
      .groupBy("k", "name").agg(count(lit(1)).as("n"),
        sum("payload").as("s"))
      .orderBy("k").collect()
    val want = big.join(small, "k")
      .groupBy("k", "name").agg(count(lit(1)).as("n"),
        sum("payload").as("s"))
      .orderBy("k").collect()
    assert(got.toSeq == want.toSeq)
    // the hot key's rows really divide across all 8 salts
    val spread = big.withColumn("__salt",
        pmod(xxhash64(col("payload")), lit(8)))
      .filter(col("k") === 1).groupBy("__salt").count().collect()
    assert(spread.length == 8, spread.mkString(","))
  }

  test("a12 per-op mutation latencies: exact post-state, sane percentiles") {
    import graft.queries.Split
    val got = SparkEntry.queries("a12_mutation_latency")(spark, sf).collect()
    assert(got.map(_.getString(0)).toSeq == Seq("delete", "insert", "update"))
    // deterministic effect of the op stream, recomputed independently:
    // +32 held-out inserts, -32 lowest base ids deleted (the delete
    // targets are base ids ranked 32..63), updates keep their ids
    val emb = Tables.embeddings(spark, sf)
    val baseIds = emb.filter(Split.isTrain(col("vec_id")))
      .select(col("vec_id")).orderBy("vec_id")
      .collect().map(_.getLong(0))
    val insIds = emb.filter(!Split.isTrain(col("vec_id")))
      .select(col("vec_id")).orderBy("vec_id").limit(32)
      .collect().map(_.getLong(0))
    val delIds = baseIds.sorted.slice(32, 64)
    val wantRows = baseIds.length + 32 - 32
    val wantCk = baseIds.sum + insIds.sum - delIds.sum
    got.foreach { r =>
      assert(r.getAs[Long]("n_ops") == 32)
      assert(r.getAs[Long]("final_rows") == wantRows,
        s"final_rows ${r.getAs[Long]("final_rows")}")
      assert(r.getAs[Long]("id_checksum") == wantCk,
        s"id_checksum ${r.getAs[Long]("id_checksum")}")
      val ps = Seq("p50_us", "p90_us", "p95_us", "p99_us", "p999_us",
        "max_us").map(r.getAs[Long])
      assert(ps.zip(ps.tail).forall { case (a, b) => a <= b },
        s"percentiles not ordered: $ps")
      // ops_per_sec must be consistent with the series it rides on:
      // n_ops appends in n_ops/qps seconds means the mean is between
      // p50 and max
      val qps = r.getAs[Double]("ops_per_sec")
      val meanUs = 1e6 / qps
      assert(qps > 0 && meanUs <= ps.last && meanUs + 1 >= ps.head,
        s"ops_per_sec $qps inconsistent with series $ps")
      // a log append is NOT a Spark job: single-digit-millis budget
      assert(r.getAs[Long]("p99_us") < 100000,
        s"p99 ${r.getAs[Long]("p99_us")}us — append is not O(op bytes)")
    }
  }

  test("latency percentiles: the mean of a sub-microsecond-spread series stays <= max_us") {
    import graft.queries.AnalyticsQueries
    // every op 3.5 us: truncating the max to 3 us would put the mean
    // (3.5 us) above it
    val ns = Array.fill(32)(3500L)
    val (p50, p90, p95, p99, p999, mx) = AnalyticsQueries.latencyUs(ns)
    val ps = Seq(p50, p90, p95, p99, p999, mx)
    assert(ps == Seq(3L, 3L, 3L, 3L, 3L, 4L), ps)
    val meanUs = ns.sum / 1000.0 / ns.length
    assert(meanUs <= mx && meanUs + 1 >= p50, s"mean $meanUs vs $ps")
    assert(AnalyticsQueries.latencyUs(Array(2000L, 1000L, 3000L)) ==
      ((2L, 3L, 3L, 3L, 3L, 3L)))
  }

  test("a13 per-query ANN latencies: exact post-state, sane percentiles") {
    import graft.queries.{AnalyticsQueries, Split}
    import graft.operators.{IvfIndex, VecMetric}
    val got = SparkEntry.queries("a13_ann_query_latency")(spark, sf).collect()
    assert(got.length == 1 && got(0).getString(0) == "single_query")
    val r = got(0)
    assert(r.getAs[Long]("n_ops") == AnalyticsQueries.A13NQ)
    val ps = Seq("p50_us", "p90_us", "p95_us", "p99_us", "p999_us",
      "max_us").map(r.getAs[Long])
    assert(ps.head > 0 && ps.zip(ps.tail).forall { case (a, b) => a <= b },
      s"percentiles not ordered: $ps")
    // the reference's queries_per_second metric: mean serving wall
    // (1e6/qps us) must sit inside the series' [p50, max] envelope
    val qps = r.getAs[Double]("qps")
    val meanUs = 1e6 / qps
    assert(qps > 0 && meanUs <= ps.last && meanUs + 1 >= ps.head,
      s"qps $qps inconsistent with series $ps")
    // deterministic effect recomputed independently through the BATCH
    // path (IvfIndex composed directly — not VectorCollection): same
    // base split, same sample centroids, same nlist/nprobe/k
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter(Split.isTrain(col("vec_id")))
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val qs = emb.filter(Split.isQuery(col("vec_id"), AnalyticsQueries.A13NQ))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val cents = IvfIndex.sampleCentroids(base, "vec", 16)
    val ids = IvfIndex.search(IvfIndex.assign(base, "vec", cents), qs,
      cents, 10, 6, VecMetric.Euclidean)
      .select("neighbor_id").collect().map(_.getLong(0))
    assert(r.getAs[Long]("total_hits") == ids.length,
      s"total_hits ${r.getAs[Long]("total_hits")}")
    assert(r.getAs[Long]("id_checksum") == ids.sum,
      s"id_checksum ${r.getAs[Long]("id_checksum")}")
  }
}
