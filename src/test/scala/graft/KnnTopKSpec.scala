package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{KnnSearch, KnnTopKExec, VecMetric}

/** `KnnSearch.bruteForce` (the fused [[KnnTopKExec]] scan) against the
  * plan it replaced — broadcast cross join → `metric.score` →
  * `topKOf` — rebuilt here as the reference. Rows must be identical,
  * scores to the bit.
  */
class KnnTopKSpec extends AnyFunSuite {
  import TestSpark._

  /** One search: base rows (id, vec, lab), queries (query_id, qvec, t,
    * u), each vector side stored as array<float> or array<double>.
    */
  case class Search(metric: VecMetric, k: Int, floatBase: Boolean,
      floatQuery: Boolean, base: Seq[(Option[Long], Option[Seq[Double]], Int)],
      queries: Seq[(Long, Option[Seq[Double]], Int, Long)], slices: Int,
      preFilter: Boolean, pairFilter: Boolean)

  // few distinct values so that scores tie; none is 0, so no cosine
  // norm is 0; 0.1 and -0.3 widen differently from float and double
  private val elem = Gen.oneOf(-2.0, -1.0, -0.3, 0.1, 0.5, 1.0, 3.0)

  /** Mostly `d` long; sometimes one shorter or longer, scored over the
    * shorter of the pair as the expressions do.
    */
  private def vector(d: Int): Gen[Option[Seq[Double]]] = for {
    len <- Gen.frequency(8 -> Gen.const(d), 1 -> Gen.const(math.max(1, d - 1)),
      1 -> Gen.const(d + 1))
    v <- Gen.listOfN(len, elem)
    isNull <- Gen.frequency(12 -> false, 1 -> true)
  } yield if (isNull) None else Some(v)

  private val searches: Gen[Search] = for {
    metric <- Gen.oneOf(VecMetric.Euclidean, VecMetric.Cosine,
      VecMetric.InnerProduct, VecMetric.SignHamming)
    d <- Gen.choose(1, 9)
    n <- Gen.choose(0, 30)
    pool <- Gen.listOfN(3, vector(d))
    // duplicate ids from a narrow range, an occasional null id, and
    // repeated vectors from a small pool: ties in score and in id
    base <- Gen.listOfN(n, for {
      id <- Gen.frequency(20 -> Gen.choose(0L, n / 2L).map(Option(_)),
        1 -> Gen.const(None))
      v <- Gen.frequency(2 -> vector(d), 1 -> Gen.oneOf(pool))
      lab <- Gen.choose(0, 4)
    } yield (id, v, lab))
    nq <- Gen.choose(0, 9)
    queries <- Gen.listOfN(nq, for {
      v <- Gen.frequency(3 -> vector(d), 1 -> Gen.oneOf(pool))
      t <- Gen.choose(0, 4)
      u <- Gen.choose(0L, 2L)
    } yield (v, t, u))
    k <- Gen.choose(1, n + 3)
    floatBase <- Gen.oneOf(true, false)
    floatQuery <- Gen.oneOf(true, false)
    // up to n + 2 slices: empty and single-row partitions
    slices <- Gen.choose(1, n + 2)
    pre <- Gen.oneOf(true, false)
    pair <- Gen.oneOf(true, false)
  } yield Search(metric, k, floatBase, floatQuery, base,
    queries.zipWithIndex.map { case ((v, t, u), q) => (q * 7L + 1, v, t, u) },
    slices, pre, pair)

  private def vecType(isFloat: Boolean) =
    ArrayType(if (isFloat) FloatType else DoubleType)

  private def vecValue(v: Option[Seq[Double]], isFloat: Boolean): Any =
    v.map(xs => if (isFloat) xs.map(_.toFloat) else xs).orNull

  private def frames(s: Search): (DataFrame, DataFrame) = {
    val baseRows = s.base.map { case (id, v, lab) =>
      Row(id.map(Long.box).orNull, vecValue(v, s.floatBase), lab) }
    val base = spark.createDataFrame(
      spark.sparkContext.parallelize(baseRows, s.slices),
      StructType(Seq(StructField("id", LongType),
        StructField("vec", vecType(s.floatBase)),
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

  private val preFilter: Column = col("lab") =!= 1
  // both-sided and conjunctive, as q14's knnFilteredCompound
  private val pairFilter: Column =
    col("lab") <= col("t") && pmod(col("id"), lit(3L)) =!= col("u")

  /** The exact-kNN plan before the fused operator. */
  private def reference(base: DataFrame, queries: DataFrame, k: Int,
      metric: VecMetric, pre: Option[Column],
      pair: Option[Column]): DataFrame = {
    val filtered = pre.map(base.filter).getOrElse(base)
    val joined = filtered.crossJoin(broadcast(queries))
    val kept = pair.map(joined.filter).getOrElse(joined)
    KnnSearch.topKOf(kept.select(col("query_id"),
      metric.score(col("qvec"), col("vec")).as("score"), col("id")),
      k, metric.asc)
  }

  private def bits(df: DataFrame): Seq[(Long, Int, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSeq.sorted

  private def execsOf(plan: SparkPlan): Seq[SparkPlan] =
    new AdaptiveSparkPlanHelper {}.collect(plan) {
      case p: KnnTopKExec => p
      case p: BroadcastNestedLoopJoinExec => p
    }

  private def checkSearch(s: Search): Unit = {
    val (base, queries) = frames(s)
    val pre = Option.when(s.preFilter)(preFilter)
    val pair = Option.when(s.pairFilter)(pairFilter)
    val got = KnnSearch.bruteForce(base, queries, s.k, s.metric,
      preFilter = pre, pairFilter = pair)
    assert(got.columns.toSeq == Seq("query_id", "rank", "neighbor_id",
      "score"))
    val want = bits(reference(base, queries, s.k, s.metric, pre, pair))
    assert(bits(got) == want, s"rows differ for $s")
  }

  test("bruteForce equals the cross-join plan bit for bit") {
    val p = Seq(Some(Seq(1.0, -0.3)), Some(Seq(0.1, 3.0)))
    val pinned = Seq(
      // k > n, one row per partition, tied scores under duplicate ids
      Search(VecMetric.Euclidean, 5, true, true,
        Seq((Some(1L), p(0), 0), (Some(1L), p(0), 0), (Some(0L), p(1), 2)),
        Seq((1L, p(1), 4, 0L)), 3, false, false),
      // no queries; an empty base partition
      Search(VecMetric.Cosine, 2, false, true,
        Seq((Some(0L), p(0), 0)), Nil, 2, false, false),
      // null vectors on both sides, unequal lengths, both filters
      Search(VecMetric.InnerProduct, 2, true, false,
        Seq((Some(0L), None, 0), (Some(1L), Some(Seq(1.0, 0.5, -2.0)), 0),
          (Some(2L), p(1), 3), (None, p(0), 0)),
        Seq((1L, None, 4, 1L), (8L, p(0), 4, 2L), (15L, Some(Seq(-1.0)), 3, 0L),
          (22L, p(1), 4, 0L), (29L, p(1), 0, 1L)), 2, true, true))
    // every pair scored and returned (k > n), with full-precision
    // values: each score of the four-query blocks is compared
    val rng = new scala.util.Random(7)
    def gauss(d: Int) = Some(Seq.fill(d)(rng.nextGaussian()))
    val dense = for {
      m <- Seq(VecMetric.Euclidean, VecMetric.Cosine,
        VecMetric.InnerProduct, VecMetric.SignHamming)
      fl <- Seq(true, false)
    } yield Search(m, 45, fl, !fl,
      (0 until 40).map(i => (Some(i.toLong), gauss(7), 0)),
      (0 until 9).map(q => (q.toLong, gauss(7), 0, 0L)), 3, false, false)
    (pinned ++ dense).foreach(checkSearch)
    val prop = Prop.forAll(searches) { s => checkSearch(s); true }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(40)
      .withInitialSeed(org.scalacheck.rng.Seed(20261020L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("a NaN-component base vector gives the same rows under every partitioning") {
    // a NaN component makes every score of its row NaN (sign hamming
    // aside), and cosine against the all-zero row is NaN too
    val rng = new scala.util.Random(11)
    val base = (0 until 16).map { i =>
      val v =
        if (i % 5 == 3) Seq(1.0, Double.NaN, -0.3)
        else if (i == 7) Seq(0.0, 0.0, 0.0)
        else Seq.fill(3)(rng.nextGaussian())
      (Some(i.toLong), Some(v), 0)
    }
    val queries = (0 until 3).map(q =>
      (q.toLong, Some(Seq.fill(3)(rng.nextGaussian())), 0, 0L))
    for (m <- Seq(VecMetric.Euclidean, VecMetric.Cosine,
           VecMetric.InnerProduct, VecMetric.SignHamming);
         floatBase <- Seq(true, false)) {
      val runs = Seq(1, 2, 3, 5, 16).map { slices =>
        val (b, q) = frames(Search(m, 5, floatBase, false, base, queries,
          slices, false, false))
        bits(KnnSearch.bruteForce(b, q, 5, m))
      }
      assert(runs.forall(_ == runs.head), s"$m floatBase=$floatBase: $runs")
      assert(runs.head.length == 3 * 5)
    }
  }

  /** A fixed search with its fused operator's SQL metrics. */
  private def measured(pair: Option[Column], k: Int)
      : (Seq[Row], Map[String, Long], Int) = {
    import spark.implicits._
    val base = (0L until 200L).map(i =>
      (i, Array.tabulate(6)(j => ((i * 31 + j * 7) % 13).toFloat - 6f),
        (i % 5).toInt)).toDF("id", "vec", "lab").repartition(4)
    val queries = (0L until 7L).map(q =>
      (q, Array.tabulate(6)(j => ((q * 5 + j * 3) % 11).toFloat - 5f),
        (q % 5).toInt, q % 3)).toDF("query_id", "qvec", "t", "u")
    val df = KnnSearch.bruteForce(base, queries, k, VecMetric.Euclidean,
      pairFilter = pair)
    val rows = df.collect().toSeq
    val execs = execsOf(df.queryExecution.executedPlan)
    assert(execs.map(_.getClass) == Seq(classOf[KnnTopKExec]), execs)
    (rows, execs.head.metrics.map { case (n, m) => n -> m.value },
      base.rdd.getNumPartitions)
  }

  test("operator metrics: evaluations, heap inserts, output rows") {
    val (rows, all, parts) = measured(None, 3)
    assert(rows.length == 7 * 3)
    assert(all("numDistanceEvals") == 200L * 7)
    assert(all("numHeapInserts") >= 7L * 3 &&
      all("numHeapInserts") <= all("numDistanceEvals"))
    assert(all("numOutputRows") <= parts * 7L * 3)
    val (_, filtered, _) = measured(Some(pairFilter), 3)
    assert(filtered("numDistanceEvals") > 0 &&
      filtered("numDistanceEvals") < all("numDistanceEvals"))
    assert(filtered("numOutputRows") <= parts * 7L * 3)
  }

  test("a bruteForce result joins with itself") {
    import spark.implicits._
    val base = (0L until 40L).map(i => (i, Array(i.toFloat, -i.toFloat)))
      .toDF("id", "vec")
    val queries = Seq((7L, Array(3.2f, -3.2f)), (8L, Array(1f, 1f)))
      .toDF("query_id", "qvec")
    val r = KnnSearch.bruteForce(base, queries, 2, VecMetric.Euclidean)
    val pairs = r.as("a").join(r.as("b"), Seq("query_id", "rank"))
      .select(col("a.neighbor_id"), col("b.neighbor_id")).as[(Long, Long)]
      .collect()
    assert(pairs.length == 4 && pairs.forall { case (a, b) => a == b })
  }
}
