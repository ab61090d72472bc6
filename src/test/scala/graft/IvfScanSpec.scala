package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{NearestCentroid, vec_l2}
import graft.operators.{IvfIndex, KnnSearch, KnnTopKExec, VecMetric}

/** `IvfIndex.search` (the driver probe worklist + the cell-keyed
  * [[KnnTopKExec]] scan) against the plan it replaced — the
  * distributed probe (queries × centroids → `collect_topk` → join with
  * the queries), then a broadcast hash join on `cluster` →
  * `metric.score` → `topKOf` — rebuilt here as the reference. Rows must
  * be identical, scores to the bit.
  */
class IvfScanSpec extends AnyFunSuite {
  import TestSpark._

  /** One search: base rows (id, vec, cluster, lab), queries (query_id,
    * qvec, t, u), centroids, each vector side stored as array<float> or
    * array<double>.
    */
  case class Search(metric: VecMetric, k: Int, nprobe: Int,
      cents: Seq[Seq[Double]], floatBase: Boolean, floatQuery: Boolean,
      base: Seq[(Option[Long], Option[Seq[Double]], Option[Int], Int)],
      queries: Seq[(Long, Option[Seq[Double]], Int, Long)], slices: Int,
      pairFilter: Boolean)

  // few distinct values so that scores and centroid distances tie;
  // none is 0, so no cosine norm is 0
  private val elem = Gen.oneOf(-2.0, -1.0, -0.3, 0.1, 0.5, 1.0, 3.0)

  private def vector(d: Int): Gen[Seq[Double]] = for {
    len <- Gen.frequency(8 -> Gen.const(d), 1 -> Gen.const(math.max(1, d - 1)),
      1 -> Gen.const(d + 1))
    v <- Gen.listOfN(len, elem)
  } yield v

  private def maybe[A](g: Gen[A]): Gen[Option[A]] =
    Gen.frequency(12 -> g.map(Option(_)), 1 -> Gen.const(None))

  private val searches: Gen[Search] = for {
    metric <- Gen.oneOf(VecMetric.Euclidean, VecMetric.Cosine,
      VecMetric.InnerProduct, VecMetric.SignHamming)
    d <- Gen.choose(1, 6)
    nlist <- Gen.choose(1, 6)
    // duplicate centroids tie every distance to them
    distinct <- Gen.listOfN(nlist, vector(d))
    cents <- Gen.listOfN(nlist, Gen.frequency(3 -> Gen.const(None),
      1 -> Gen.oneOf(distinct).map(Option(_))))
    nprobe <- Gen.choose(1, nlist + 2)
    n <- Gen.choose(0, 30)
    pool <- Gen.listOfN(3, vector(d))
    // duplicate and null ids, repeated vectors, cells beyond nlist
    // (never probed), null cells; some cells stay empty
    base <- Gen.listOfN(n, for {
      id <- Gen.frequency(20 -> Gen.choose(0L, n / 2L).map(Option(_)),
        1 -> Gen.const(None))
      v <- maybe(Gen.frequency(2 -> vector(d), 1 -> Gen.oneOf(pool)))
      c <- maybe(Gen.choose(0, nlist))
      lab <- Gen.choose(0, 4)
    } yield (id, v, c, lab))
    nq <- Gen.choose(0, 8)
    // a narrow id range: duplicate query ids with different vectors
    queries <- Gen.listOfN(nq, for {
      q <- Gen.choose(0L, 5L)
      v <- maybe(Gen.frequency(3 -> vector(d), 1 -> Gen.oneOf(pool)))
      t <- Gen.choose(0, 4)
      u <- Gen.choose(0L, 2L)
    } yield (q * 7L + 1, v, t, u))
    k <- Gen.choose(1, n + 3)
    floatBase <- Gen.oneOf(true, false)
    floatQuery <- Gen.oneOf(true, false)
    slices <- Gen.choose(1, n + 2)
    pair <- Gen.oneOf(true, false)
  } yield Search(metric, k, nprobe,
    cents.zip(distinct).map { case (c, v) => c.getOrElse(v) },
    floatBase, floatQuery, base, queries, slices, pair)

  private def vecType(isFloat: Boolean) =
    ArrayType(if (isFloat) FloatType else DoubleType)

  private def vecValue(v: Option[Seq[Double]], isFloat: Boolean): Any =
    v.map(xs => if (isFloat) xs.map(_.toFloat) else xs).orNull

  private def frames(s: Search): (DataFrame, DataFrame) = {
    val baseRows = s.base.map { case (id, v, c, lab) =>
      Row(id.map(Long.box).orNull, vecValue(v, s.floatBase),
        c.map(Int.box).orNull, lab) }
    val base = spark.createDataFrame(
      spark.sparkContext.parallelize(baseRows, s.slices),
      StructType(Seq(StructField("id", LongType),
        StructField("vec", vecType(s.floatBase)),
        StructField("cluster", IntegerType),
        StructField("lab", IntegerType))))
    val qRows = s.queries.map { case (q, v, t, u) =>
      Row(q, vecValue(v, s.floatQuery), t, u) }
    val queries = spark.createDataFrame(
      spark.sparkContext.parallelize(qRows, 2),
      StructType(Seq(StructField("query_id", LongType),
        StructField("qvec", vecType(s.floatQuery)),
        StructField("t", IntegerType), StructField("u", LongType))))
    (base, queries)
  }

  // both-sided: base attributes against per-query thresholds, as q39
  private val pairFilter: Column =
    col("lab") <= col("t") && pmod(col("id"), lit(3L)) =!= col("u")

  /** The IVF search plan before the driver worklist and the fused cell
    * scan.
    */
  private def reference(assigned: DataFrame, queries: DataFrame,
      cents: Array[Array[Double]], k: Int, nprobe: Int, metric: VecMetric,
      pair: Option[Column]): DataFrame = {
    import spark.implicits._
    val centsDf = cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("cluster", "centroid")
    val scored = queries.crossJoin(broadcast(centsDf))
      .select(col("query_id"), vec_l2(col("qvec"), col("centroid")).as("score"),
        col("cluster").cast("long").as("id"))
    val probed = KnnSearch.topKOf(scored, nprobe, asc = true)
      .select(col("query_id"), col("neighbor_id").cast("int").as("cluster"))
      .join(queries, "query_id")
      .localCheckpoint(true)
    val joined = assigned.join(broadcast(probed), "cluster")
    KnnSearch.topKOf(pair.fold(joined)(joined.filter).select(col("query_id"),
      metric.score(col("qvec"), col("vec")).as("score"), col("id")),
      k, metric.asc)
  }

  private def bits(df: DataFrame): Seq[(Long, Int, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSeq.sorted

  private def checkSearch(s: Search): Unit = {
    val (base, queries) = frames(s)
    val cents = s.cents.map(_.toArray).toArray
    val pair = Option.when(s.pairFilter)(pairFilter)
    val got = IvfIndex.search(base, queries, cents, s.k, s.nprobe, s.metric,
      pair)
    assert(got.columns.toSeq == Seq("query_id", "rank", "neighbor_id",
      "score"))
    val want = bits(reference(base, queries, cents, s.k, s.nprobe, s.metric,
      pair))
    assert(bits(got) == want, s"rows differ for $s")
  }

  test("IVF search equals the probe-join plan bit for bit") {
    val p = Seq(Seq(1.0, -0.3), Seq(0.1, 3.0), Seq(-2.0, 0.5))
    val pinned = Seq(
      // duplicate centroids (tied distances), nprobe > nlist, k > n,
      // an empty cell (2), an unprobed one (3) and a null cell
      Search(VecMetric.Euclidean, 9, 5, Seq(p(0), p(0), p(1)), true, true,
        Seq((Some(1L), Some(p(0)), Some(0), 0),
          (Some(1L), Some(p(1)), Some(1), 0),
          (Some(2L), Some(p(2)), Some(3), 0),
          (Some(3L), Some(p(2)), None, 0)),
        Seq((1L, Some(p(1)), 4, 0L)), 2, false),
      // duplicate query ids with different vectors share one probe
      // ranking; a null qvec; the q39-shaped pair filter
      Search(VecMetric.Cosine, 2, 1, p, false, true,
        (0 until 12).map(i =>
          (Some(i.toLong), Some(p(i % 3)), Some(i % 3), i % 5)),
        Seq((1L, Some(p(0)), 4, 0L), (1L, Some(p(2)), 3, 1L),
          (8L, None, 4, 2L), (15L, Some(p(1)), 2, 0L)), 3, true),
      // no queries
      Search(VecMetric.InnerProduct, 2, 1, p, true, false,
        Seq((Some(0L), Some(p(0)), Some(0), 0)), Nil, 2, false))
    // every probed pair scored and returned (k > n), with
    // full-precision values, so each score of the four-query blocks
    // is compared
    val rng = new scala.util.Random(11)
    def gauss(d: Int) = Seq.fill(d)(rng.nextGaussian())
    val dense = for {
      m <- Seq(VecMetric.Euclidean, VecMetric.Cosine,
        VecMetric.InnerProduct, VecMetric.SignHamming)
      fl <- Seq(true, false)
    } yield Search(m, 45, 2, Seq.fill(4)(gauss(7)), fl, !fl,
      (0 until 40).map(i => (Some(i.toLong), Some(gauss(7)), Some(i % 4), 0)),
      (0 until 9).map(q => (q.toLong, Some(gauss(7)), 0, 0L)), 3, false)
    (pinned ++ dense).foreach(checkSearch)
    val prop = Prop.forAll(searches) { s => checkSearch(s); true }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(40)
      .withInitialSeed(org.scalacheck.rng.Seed(20261021L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  private def nodesOf(plan: SparkPlan): Seq[SparkPlan] =
    new AdaptiveSparkPlanHelper {}.collect(plan) {
      case p: KnnTopKExec => p
      case p: BroadcastHashJoinExec => p
    }

  test("cell scan metrics: one evaluation per probe row and cell member; q20 is fused") {
    import spark.implicits._
    val nlist = 5
    val base = (0L until 300L).map(i =>
      (i, Array.tabulate(6)(j => ((i * 31 + j * 7) % 13).toFloat - 6f)))
      .toDF("id", "vec").repartition(4)
    val cents = (0 until nlist).map(c =>
      Array.tabulate(6)(j => ((c * 17 + j * 5) % 13).toDouble - 6)).toArray
    val assigned = IvfIndex.assign(base, "vec", cents).cache()
    val queries = (0L until 7L).map(q =>
      (q, Array.tabulate(6)(j => ((q * 5 + j * 3) % 11).toFloat - 5f)))
      .toDF("query_id", "qvec")
    val probed = IvfIndex.probedQueries(queries, cents, 2)
    val df = IvfIndex.searchProbed(assigned, probed, 3, VecMetric.Euclidean)
    assert(df.collect().length == 7 * 3)
    val nodes = nodesOf(df.queryExecution.executedPlan)
    assert(nodes.map(_.getClass) == Seq(classOf[KnnTopKExec]), nodes)
    val sizes = assigned.groupBy("cluster").count().as[(Int, Long)]
      .collect().toMap
    val cells = probed.select("cluster").as[Int].collect()
    assert(cells.length == 7 * 2)
    assert(nodes.head.metrics("numDistanceEvals").value ==
      cells.map(sizes.getOrElse(_, 0L)).sum)
    assigned.unpersist()

    val q20 = SparkEntry.queries("q20_ivf_flat")(spark, sf)
    q20.collect() // AQE settles the final plan on execution
    val q20Nodes = nodesOf(q20.queryExecution.executedPlan)
    assert(q20Nodes.map(_.getClass) == Seq(classOf[KnnTopKExec]), q20Nodes)
  }

  /** The cell assignment before [[NearestCentroid]]: the distance to
    * every centroid through a higher-order transform, then the
    * position of its minimum.
    */
  private def transformAssign(vec: Column,
      cents: Array[Array[Double]]): Column = {
    val d = transform(typedlit(cents.map(_.toSeq).toSeq), c => vec_l2(vec, c))
    (array_position(d, array_min(d)) - 1).cast("int")
  }

  test("cell assignment equals the transform expression it replaced") {
    // NaN components make NaN distances, which rank above every number
    val elemN = Gen.frequency(8 -> elem, 1 -> Gen.const(Double.NaN))
    def vec(d: Int): Gen[Seq[Double]] = for {
      len <- Gen.frequency(6 -> Gen.const(d), 1 -> Gen.const(math.max(1, d - 1)),
        1 -> Gen.const(d + 1))
      v <- Gen.listOfN(len, elemN)
    } yield v
    val cases = for {
      d <- Gen.choose(1, 5)
      nlist <- Gen.frequency(1 -> Gen.const(0), 8 -> Gen.choose(1, 6))
      // duplicate centroids tie their distances
      distinct <- Gen.listOfN(math.max(nlist, 1), vec(d))
      cents <- Gen.listOfN(nlist, Gen.oneOf(distinct))
      rows <- Gen.listOfN(20, maybe(Gen.frequency(3 -> vec(d),
        1 -> Gen.oneOf(distinct))))
      isFloat <- Gen.oneOf(true, false)
    } yield (cents.map(_.toArray).toArray, rows, isFloat)
    def check(cents: Array[Array[Double]], rows: Seq[Option[Seq[Double]]],
        isFloat: Boolean): Unit = {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(v => Row(vecValue(v, isFloat))), 3),
        StructType(Seq(StructField("vec", vecType(isFloat)))))
      val got = df.select(IvfIndex.nearestCluster(col("vec"), cents),
        transformAssign(col("vec"), cents)).collect()
      got.foreach(r => assert(r.get(0) == r.get(1),
        s"${r.get(0)} != ${r.get(1)} for ${cents.map(_.toSeq).toSeq}"))
      // the interpreted path agrees with the generated one
      val e = NearestCentroid(BoundReference(0, vecType(isFloat), true), cents)
      rows.zip(got).foreach { case (v, r) =>
        val arr = v.map(xs => new GenericArrayData(
          if (isFloat) xs.map(x => x.toFloat: Any) else xs.map(x => x: Any)))
        assert(e.eval(InternalRow(arr.orNull)) == r.get(1))
      }
    }
    val p = Seq(Seq(1.0, -0.3), Seq(0.1, 3.0))
    check(Array(p(0).toArray, p(0).toArray, p(1).toArray),
      Seq(Some(p(0)), Some(p(1)), None, Some(Seq(Double.NaN, 0.1)),
        Some(Seq(0.5)), Some(Seq(0.5, 1.0, 3.0))), isFloat = true)
    check(Array(Array(Double.NaN, 1.0), p(1).toArray),
      Seq(Some(p(0)), Some(Seq(Double.NaN, Double.NaN))), isFloat = false)
    check(Array.empty, Seq(Some(p(0)), None), isFloat = false)
    val prop = Prop.forAll(cases) { case (c, rows, fl) => check(c, rows, fl); true }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(40)
      .withInitialSeed(org.scalacheck.rng.Seed(20261023L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }
}
