package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.vec_l2
import graft.operators.{IvfTree, KnnSearch, KnnTopKExec, VecMetric}

/** The IVF tree's driver descent ([[IvfTree.leaves]]) and its search
  * (the leaf-keyed [[KnnTopKExec]] scan) against the plans they
  * replaced — two `collect_topk` rankings over broadcast cross joins,
  * then a broadcast hash join on (l1, l2) → `metric.score` → `topKOf`
  * — rebuilt here as the reference. Probe ranks must be identical, and
  * search rows identical with scores to the bit.
  */
class IvfTreeSpec extends AnyFunSuite {
  import TestSpark._

  /** One tree search: a model, base rows (id, vec, l1, l2), queries
    * (query_id, qvec), each vector side array<float> or array<double>.
    */
  case class Case(metric: VecMetric, k: Int, p1: Int, p2: Int,
      l1: Seq[Seq[Double]], sub: Seq[Seq[Seq[Double]]], floatBase: Boolean,
      floatQuery: Boolean,
      base: Seq[(Option[Long], Option[Seq[Double]], Option[Int], Option[Int])],
      queries: Seq[(Long, Option[Seq[Double]])], slices: Int) {
    def model: IvfTree.Model = IvfTree.Model(l1.map(_.toArray).toArray,
      sub.map(_.map(_.toArray).toArray).toArray)
  }

  // few distinct values so that centroid distances tie
  private val elem = Gen.oneOf(-2.0, -1.0, -0.3, 0.1, 0.5, 1.0, 3.0)

  private def vector(d: Int): Gen[Seq[Double]] = for {
    len <- Gen.frequency(8 -> Gen.const(d), 1 -> Gen.const(math.max(1, d - 1)),
      1 -> Gen.const(d + 1))
    v <- Gen.listOfN(len, elem)
  } yield v

  private def maybe[A](g: Gen[A]): Gen[Option[A]] =
    Gen.frequency(12 -> g.map(Option(_)), 1 -> Gen.const(None))

  private val cases: Gen[Case] = for {
    metric <- Gen.oneOf(VecMetric.Euclidean, VecMetric.Cosine,
      VecMetric.InnerProduct, VecMetric.SignHamming)
    d <- Gen.choose(1, 4)
    nl1 <- Gen.choose(1, 4)
    pool <- Gen.listOfN(3, vector(d))
    // duplicate centroids at both levels from a small pool; ragged
    // cells, one-leaf cells among them
    l1 <- Gen.listOfN(nl1, Gen.frequency(2 -> vector(d), 1 -> Gen.oneOf(pool)))
    sub <- Gen.listOfN(nl1, Gen.choose(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(2 -> vector(d), 1 -> Gen.oneOf(pool)))))
    fanout = sub.map(_.length).max
    p1 <- Gen.choose(1, nl1 + 1)
    p2 <- Gen.choose(1, nl1 * fanout + 2)
    n <- Gen.choose(0, 25)
    // duplicate and null ids; null vectors and leaves; an L1 cell
    // beyond the model (never probed)
    base <- Gen.listOfN(n, for {
      id <- Gen.frequency(20 -> Gen.choose(0L, n / 2L).map(Option(_)),
        1 -> Gen.const(None))
      v <- maybe(Gen.frequency(2 -> vector(d), 1 -> Gen.oneOf(pool)))
      c1 <- maybe(Gen.choose(0, nl1))
      c2 <- maybe(Gen.choose(0, fanout - 1))
    } yield (id, v, c1, c2))
    nq <- Gen.choose(0, 7)
    // a narrow id range: several rows per query id
    queries <- Gen.listOfN(nq, for {
      q <- Gen.choose(0L, 4L)
      v <- maybe(Gen.frequency(3 -> vector(d), 1 -> Gen.oneOf(pool)))
    } yield (q * 7L + 1, v))
    k <- Gen.choose(1, n + 3)
    floatBase <- Gen.oneOf(true, false)
    floatQuery <- Gen.oneOf(true, false)
    slices <- Gen.choose(1, n + 2)
  } yield Case(metric, k, p1, p2, l1, sub, floatBase, floatQuery, base,
    queries, slices)

  private def vecType(isFloat: Boolean) =
    ArrayType(if (isFloat) FloatType else DoubleType)

  private def vecValue(v: Option[Seq[Double]], isFloat: Boolean): Any =
    v.map(xs => if (isFloat) xs.map(_.toFloat) else xs).orNull

  private def frames(c: Case): (DataFrame, DataFrame) = {
    val baseRows = c.base.map { case (id, v, c1, c2) =>
      Row(id.map(Long.box).orNull, vecValue(v, c.floatBase),
        c1.map(Int.box).orNull, c2.map(Int.box).orNull) }
    val base = spark.createDataFrame(
      spark.sparkContext.parallelize(baseRows, c.slices),
      StructType(Seq(StructField("id", LongType),
        StructField("vec", vecType(c.floatBase)),
        StructField("l1", IntegerType), StructField("l2", IntegerType))))
    val qRows = c.queries.map { case (q, v) => Row(q, vecValue(v, c.floatQuery)) }
    val queries = spark.createDataFrame(
      spark.sparkContext.parallelize(qRows, 2),
      StructType(Seq(StructField("query_id", LongType),
        StructField("qvec", vecType(c.floatQuery)))))
    (base, queries)
  }

  /** The distributed descent before the driver one: (query_id, rank,
    * l1, l2), ties (dist, l1, l2).
    */
  private def referenceProbes(queries: DataFrame, m: IvfTree.Model, p1: Int,
      p2: Int): DataFrame = {
    import spark.implicits._
    val maxSub = m.sub.map(_.length).max.max(1)
    val l1Df = m.l1.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("l1", "cv")
    val subDf = m.sub.zipWithIndex.flatMap { case (cs, i) =>
      cs.zipWithIndex.map { case (c, j) => (i, j, c.toSeq) }
    }.toSeq.toDF("l1", "l2", "cv")
    val top1 = KnnSearch.topKOf(
      queries.crossJoin(broadcast(l1Df))
        .select(col("query_id"), vec_l2(col("qvec"), col("cv")).as("score"),
          col("l1").cast("long").as("id")),
      p1, asc = true)
      .select(col("query_id"), col("neighbor_id").cast("int").as("l1"))
    val top2 = KnnSearch.topKOf(
      top1.join(broadcast(subDf), "l1")
        .join(queries, "query_id")
        .select(col("query_id"), vec_l2(col("qvec"), col("cv")).as("score"),
          (col("l1") * maxSub + col("l2")).cast("long").as("id")),
      p2, asc = true)
    top2.select(col("query_id"), col("rank"),
      (col("neighbor_id") / maxSub).cast("int").as("l1"),
      (col("neighbor_id") % maxSub).cast("int").as("l2"))
  }

  /** The tree search before the leaf-keyed scan. */
  private def referenceSearch(assigned: DataFrame, queries: DataFrame,
      m: IvfTree.Model, k: Int, p1: Int, p2: Int,
      metric: VecMetric): DataFrame = {
    val probed = referenceProbes(queries, m, p1, p2).drop("rank")
      .join(queries, "query_id")
      .localCheckpoint(true)
    KnnSearch.topKOf(assigned.join(broadcast(probed), Seq("l1", "l2"))
      .select(col("query_id"),
        metric.score(col("qvec"), col("vec")).as("score"), col("id")),
      k, metric.asc)
  }

  /** The driver descent per query id, as (query_id, rank, l1, l2). */
  private def driverProbes(c: Case): Seq[(Long, Int, Int, Int)] = {
    val m = c.model
    def widened(v: Seq[Double]) =
      if (c.floatQuery) v.map(_.toFloat.toDouble).toArray else v.toArray
    c.queries.groupBy(_._1).toSeq.flatMap { case (q, rows) =>
      IvfTree.leaves(rows.flatMap(_._2).map(widened), m, c.p1, c.p2)
        .zipWithIndex.map { case (leaf, r) =>
          (q, r + 1, leaf / m.fanout, leaf % m.fanout)
        }
    }.sorted
  }

  private def bits(df: DataFrame): Seq[(Long, Int, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSeq.sorted

  private def check(c: Case): Unit = {
    val (base, queries) = frames(c)
    val m = c.model
    val want = referenceProbes(queries, m, c.p1, c.p2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSeq.sorted
    assert(driverProbes(c) == want, s"probes differ for $c")
    val got = IvfTree.search(base, queries, m, c.k, c.p1, c.p2, c.metric)
    assert(got.columns.toSeq == Seq("query_id", "rank", "neighbor_id",
      "score"))
    assert(bits(got) == bits(referenceSearch(base, queries, m, c.k, c.p1,
      c.p2, c.metric)), s"rows differ for $c")
  }

  test("the driver tree probe and search equal the distributed plans") {
    val (o, x, y, z) = (Seq(0.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 1.0),
      Seq(0.0, -1.0))
    val pinned = for (fl <- Seq(true, false)) yield Seq(
      // every distance ties at 1: the L1 ranking breaks by cell, the
      // leaf ranking by (l1, l2) — (0,0), (0,1), (1,0), (2,0) of six —
      // across a one-leaf cell (1), duplicate sub-centroids (cell 2)
      // and a duplicate L1 centroid
      Case(VecMetric.Euclidean, 4, 3, 4, Seq(x, y, x),
        Seq(Seq(x, y), Seq(y), Seq(x, x, z)), fl, fl,
        (0 until 12).map(i =>
          (Some(i.toLong), Some(Seq(i * 0.25, 1.0)), Some(i % 3), Some(i % 2))),
        Seq((1L, Some(o))), 3),
      // several rows per query id: one shared ranking at each level,
      // and an L1 cell picked by two rows offers its leaves twice
      Case(VecMetric.Cosine, 3, 2, 4, Seq(x, y, z),
        Seq(Seq(x, z), Seq(y, y), Seq(z)), fl, !fl,
        (0 until 10).map(i =>
          (Some(i.toLong), Some(Seq(1.0, i - 4.5)), Some(i % 3), Some(i % 2))),
        Seq((1L, Some(x)), (1L, Some(Seq(0.9, 0.1))), (8L, None),
          (15L, Some(z))), 2),
      // p1 and p2 past the model's size; an empty query batch
      Case(VecMetric.InnerProduct, 2, 5, 9, Seq(x, y),
        Seq(Seq(x), Seq(y, z)), fl, fl,
        Seq((Some(0L), Some(x), Some(0), Some(0))), Nil, 1))
    pinned.flatten.foreach(check)
    val prop = Prop.forAll(cases) { c => check(c); true }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(30)
      .withInitialSeed(org.scalacheck.rng.Seed(20261021L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("q36 plans its leaf scan as KnnTopKExec") {
    val df = SparkEntry.queries("q36_ivf_tree")(spark, sf)
    assert(df.count() > 0)
    val execs = new AdaptiveSparkPlanHelper {}.collect(
      df.queryExecution.executedPlan) { case p: KnnTopKExec => p }
    assert(execs.length == 1, df.queryExecution.executedPlan)
  }
}
