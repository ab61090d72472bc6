package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CollectTopK, PqAdc, pq_adc}
import graft.operators.{IvfIndex, KnnSearch, KnnTopKExec, PqIndex, VecMetric,
  VectorCollection}

/** `PqIndex.search` (ADC scoring and the exact re-rank inside one
  * [[KnnTopKExec]] pass, merged by `collect_rerank`) against the plan it
  * replaced — the query's ADC table joined to the base (on the cell, or
  * crossed), `pq_adc` → `collect_topk` of n·rerank candidates, the
  * candidates joined back to the base and the queries, the exact score
  * → `topKOf` — rebuilt here as the reference. Rows must be identical,
  * scores to the bit.
  */
class PqScanSpec extends AnyFunSuite {
  import TestSpark._

  /** One search. Base rows (id, vec, codes, cluster, lab); queries
    * (query_id, qvec, t, u) with distinct ids, and for a keyed search
    * the cells each query probes. Codes are drawn directly, so ADC
    * scores tie wherever two rows share codes.
    */
  case class Search(metric: VecMetric, n: Int, rerank: Int, m: Int,
      subDim: Int, codebook: Seq[Seq[Seq[Double]]], floatBase: Boolean,
      floatQuery: Boolean,
      base: Seq[(Option[Long], Option[Seq[Double]], Option[Seq[Int]],
        Option[Int], Int)],
      queries: Seq[(Long, Option[Seq[Double]], Int, Long, Seq[Int])],
      keyed: Boolean, slices: Int, pairFilter: Boolean) {
    def model: PqIndex.Model = PqIndex.Model(m, subDim,
      codebook.map(_.map(_.toArray).toArray).toArray)
  }

  // few distinct values so that table entries and exact scores tie;
  // 0.1 and -0.3 widen differently from float and double
  private val elem = Gen.oneOf(-2.0, -1.0, -0.3, 0.1, 0.5, 1.0, 3.0)

  private def maybe[A](g: Gen[A]): Gen[Option[A]] =
    Gen.frequency(12 -> g.map(Option(_)), 1 -> Gen.const(None))

  /** Mostly `d` long; sometimes one shorter or longer. */
  private def vector(d: Int): Gen[Seq[Double]] = for {
    len <- Gen.frequency(8 -> Gen.const(d), 1 -> Gen.const(math.max(1, d - 1)),
      1 -> Gen.const(d + 1))
    v <- Gen.listOfN(len, elem)
  } yield v

  private val searches: Gen[Search] = for {
    metric <- Gen.oneOf(VecMetric.Euclidean, VecMetric.InnerProduct)
    m <- Gen.choose(1, 3)
    subDim <- Gen.choose(1, 3)
    ks <- Gen.choose(1, 4)
    codebook <- Gen.listOfN(m, Gen.listOfN(ks, Gen.listOfN(subDim, elem)))
    nlist <- Gen.choose(1, 4)
    n <- Gen.choose(0, 25)
    // a small pool of code arrays: tied ADC scores
    pool <- Gen.listOfN(3, Gen.listOfN(m, Gen.choose(0, ks - 1)))
    rows <- Gen.listOfN(n, for {
      isNullId <- Gen.frequency(20 -> false, 1 -> true)
      v <- maybe(vector(m * subDim))
      c <- maybe(Gen.frequency(1 -> Gen.oneOf(pool),
        2 -> Gen.listOfN(m, Gen.choose(0, ks - 1))))
      // cell nlist is never probed
      cell <- maybe(Gen.choose(0, nlist))
      lab <- Gen.choose(0, 4)
    } yield (isNullId, v, c, cell, lab))
    nq <- Gen.choose(0, 6)
    queries <- Gen.listOfN(nq, for {
      v <- maybe(vector(m * subDim))
      t <- Gen.choose(0, 4)
      u <- Gen.choose(0L, 2L)
      cells <- Gen.someOf(0 until nlist)
    } yield (v, t, u, cells.toSeq.sorted))
    nn <- Gen.choose(1, 3)
    rerank <- Gen.choose(1, 4)
    floatBase <- Gen.oneOf(true, false)
    floatQuery <- Gen.oneOf(true, false)
    keyed <- Gen.oneOf(true, false)
    slices <- Gen.choose(1, n + 2)
    pair <- Gen.oneOf(true, false)
  } yield Search(metric, nn, rerank, m, subDim, codebook, floatBase,
    floatQuery,
    rows.zipWithIndex.map { case ((isNullId, v, c, cell, lab), i) =>
      (Option.when(!isNullId)(i.toLong * 3), v, c, cell, lab) },
    queries.zipWithIndex.map { case ((v, t, u, cells), q) =>
      (q * 7L + 1, v, t, u, cells) },
    keyed, slices, pair)

  private def vecType(isFloat: Boolean) =
    ArrayType(if (isFloat) FloatType else DoubleType)

  private def vecValue(v: Option[Seq[Double]], isFloat: Boolean): Any =
    v.map(xs => if (isFloat) xs.map(_.toFloat) else xs).orNull

  /** (base, queries, worklist): the worklist is one row per query and
    * probed cell, (query_id, cluster, qvec, t, u), as
    * `IvfIndex.probedQueries` lays it out.
    */
  private def frames(s: Search): (DataFrame, DataFrame, DataFrame) = {
    val baseRows = s.base.map { case (id, v, c, cell, lab) =>
      Row(id.map(Long.box).orNull, vecValue(v, s.floatBase), c.orNull,
        cell.map(Int.box).orNull, lab) }
    val base = spark.createDataFrame(
      spark.sparkContext.parallelize(baseRows, s.slices),
      StructType(Seq(StructField("id", LongType),
        StructField("vec", vecType(s.floatBase)),
        StructField("codes", ArrayType(IntegerType)),
        StructField("cluster", IntegerType),
        StructField("lab", IntegerType))))
    val qRows = s.queries.map { case (q, v, t, u, _) =>
      Row(q, vecValue(v, s.floatQuery), t, u) }
    val qSchema = StructType(Seq(StructField("query_id", LongType),
      StructField("qvec", vecType(s.floatQuery)),
      StructField("t", IntegerType), StructField("u", LongType)))
    val queries = spark.createDataFrame(
      spark.sparkContext.parallelize(qRows, 2), qSchema)
    val wRows = s.queries.flatMap { case (q, v, t, u, cells) =>
      cells.map(c => Row(q, c, vecValue(v, s.floatQuery), t, u)) }
    val worklist = spark.createDataFrame(
      spark.sparkContext.parallelize(wRows, 2),
      StructType(qSchema.fields.head +:
        StructField("cluster", IntegerType, nullable = false) +:
        qSchema.fields.tail))
    (base, queries, worklist)
  }

  // both-sided: base attributes against per-query thresholds, as q39
  private val pairFilter: Column =
    col("lab") <= col("t") && pmod(col("id"), lit(3L)) =!= col("u")

  /** The PQ plan before the one-pass scan (VectorCollection's, q21's
    * and q46's): ADC candidates by `collect_topk`, their exact scores
    * through a join back to the base and the queries.
    */
  private def reference(s: Search, base: DataFrame, queries: DataFrame,
      worklist: DataFrame): DataFrame = {
    val probes = if (s.keyed) worklist else queries
    val tbl =
      if (s.metric == VecMetric.Euclidean) PqIndex.distTable(col("qvec"), s.model)
      else PqIndex.dotTable(col("qvec"), s.model)
    val withTbl = broadcast(probes.withColumn("tbl", tbl))
    val joined =
      if (s.keyed) base.join(withTbl, "cluster") else base.crossJoin(withTbl)
    val kept = if (s.pairFilter) joined.filter(pairFilter) else joined
    val cands = kept.select(col("query_id"), col("id"),
        pq_adc(col("codes"), col("tbl")).as("adc"))
      .groupBy("query_id")
      .agg(graft.functions.collect_topk(col("adc"), col("id"),
        s.n * s.rerank, s.metric.asc).as("topk"))
      .select(col("query_id"), explode(col("topk.id")).as("id"))
    val exact = base.select(col("id"), col("vec"))
      .join(broadcast(cands), "id")
      .join(broadcast(queries.select("query_id", "qvec")), "query_id")
      .select(col("query_id"),
        s.metric.score(col("qvec"), col("vec")).as("score"), col("id"))
    KnnSearch.topKOf(exact, s.n, s.metric.asc)
  }

  private def searched(s: Search, base: DataFrame, queries: DataFrame,
      worklist: DataFrame): DataFrame =
    PqIndex.search(base, if (s.keyed) worklist else queries, s.model, s.n,
      s.rerank, s.metric, Option.when(s.pairFilter)(pairFilter), s.keyed)

  private def bits(df: DataFrame): Seq[(Long, Int, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSeq.sorted

  private def checkSearch(s: Search): Unit = {
    val (base, queries, worklist) = frames(s)
    val got = searched(s, base, queries, worklist)
    assert(got.columns.toSeq == Seq("query_id", "rank", "neighbor_id",
      "score"))
    val want = bits(reference(s, base, queries, worklist))
    assert(bits(got) == want, s"rows differ for $s")
  }

  private val cb2 = Seq(Seq(Seq(1.0, -0.3), Seq(0.1, 3.0)),
    Seq(Seq(-2.0, 0.5), Seq(0.5, 0.5)))

  test("PQ search equals the ADC join plan bit for bit") {
    val v = Seq(Seq(1.0, -0.3, 0.5, 3.0), Seq(0.1, 3.0, -2.0, 0.5))
    val pinned = Seq(
      // every row's codes equal (all ADC scores tie), n·rerank beyond
      // the candidates, an empty cell (1) and an unprobed one (2)
      Search(VecMetric.Euclidean, 3, 4, 2, 2, cb2, true, true,
        (0 until 6).map(i => (Some(i.toLong), Some(v(i % 2)), Some(Seq(1, 0)),
          Some(if (i < 4) 0 else 2), 0)),
        Seq((1L, Some(v(0)), 0, 0L, Seq(0, 1)), (8L, Some(v(1)), 0, 0L, Seq(1))),
        keyed = true, 3, pairFilter = false),
      // null codes, vector, cell and id; a null qvec; a shorter qvec;
      // the q39-shaped pair filter; double vectors
      Search(VecMetric.InnerProduct, 2, 2, 2, 2, cb2, false, false,
        Seq((Some(0L), None, Some(Seq(0, 1)), Some(0), 0),
          (Some(3L), Some(v(0)), None, Some(0), 0),
          (Some(6L), Some(v(1)), Some(Seq(1, 1)), None, 1),
          (None, Some(v(1)), Some(Seq(0, 0)), Some(0), 0),
          (Some(9L), Some(v(1)), Some(Seq(0, 0)), Some(0), 2),
          (Some(12L), Some(v(0)), Some(Seq(1, 0)), Some(0), 3)),
        Seq((1L, Some(v(0)), 4, 0L, Seq(0)), (8L, None, 4, 1L, Seq(0)),
          (15L, Some(Seq(0.5, 1.0, -2.0)), 2, 2L, Seq(0))),
        keyed = true, 2, pairFilter = true),
      // unkeyed, no queries
      Search(VecMetric.Euclidean, 1, 1, 2, 2, cb2, true, false,
        Seq((Some(0L), Some(v(0)), Some(Seq(0, 1)), Some(0), 0)), Nil,
        keyed = false, 2, pairFilter = false))
    // full-precision values: exact scores never tie, ADC scores rarely
    val rng = new scala.util.Random(13)
    def gauss(d: Int) = Seq.fill(d)(rng.nextGaussian())
    val dense = for {
      metric <- Seq(VecMetric.Euclidean, VecMetric.InnerProduct)
      fl <- Seq(true, false)
      keyed <- Seq(true, false)
    } yield Search(metric, 4, 3, 4, 2, Seq.fill(4, 5)(gauss(2)), fl, !fl,
      (0 until 60).map(i => (Some(i.toLong), Some(gauss(8)),
        Some(Seq.fill(4)(rng.nextInt(5))), Some(i % 3), 0)),
      (0 until 5).map(q => (q.toLong, Some(gauss(8)), 0, 0L,
        Seq(q % 3, (q + 1) % 3))), keyed, 3, pairFilter = false)
    (pinned ++ dense).foreach(checkSearch)
    val prop = Prop.forAll(searches) { s => checkSearch(s); true }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(40)
      .withInitialSeed(org.scalacheck.rng.Seed(20261022L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("a query id with more than one query row is an error") {
    val v = Seq(Seq(1.0, -0.3, 0.5, 3.0), Seq(0.1, 3.0, -2.0, 0.5))
    val base = (0 until 4).map(i =>
      (Some(i.toLong), Some(v(i % 2)), Some(Seq(i % 2, 1)), Some(0), 0))
    for ((keyed, qs) <- Seq(
      // different vectors, unkeyed and keyed
      false -> Seq((1L, Some(v(0)), 0, 0L, Seq(0)), (1L, Some(v(1)), 0, 0L, Seq(0))),
      true -> Seq((1L, Some(v(0)), 0, 0L, Seq(0)), (1L, Some(v(1)), 0, 0L, Seq(0))),
      // the same row twice
      true -> Seq((1L, Some(v(0)), 0, 0L, Seq(0)), (1L, Some(v(0)), 0, 0L, Seq(0))))) {
      val s = Search(VecMetric.Euclidean, 2, 2, 2, 2, cb2, true, true, base,
        qs, keyed, 2, pairFilter = false)
      val (b, q, w) = frames(s)
      val err = intercept[Exception](searched(s, b, q, w).collect())
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage)
          .contains("PQ search needs distinct query ids")), err)
    }
  }

  private def execOf(plan: SparkPlan): Seq[SparkPlan] =
    new AdaptiveSparkPlanHelper {}.collect(plan) {
      case p: KnnTopKExec => p
      case p: BroadcastHashJoinExec => p
    }

  /** No plan node scores codes with pq_adc or folds rows with
    * collect_topk: the ADC scores live only inside the fused scan.
    */
  private def adcFolds(plan: SparkPlan): Seq[String] =
    new AdaptiveSparkPlanHelper {}.flatMap(plan) { p =>
      p.expressions.flatMap(_.collect {
        case e: PqAdc => e.prettyName
        case e: CollectTopK => e.prettyName
      })
    }

  private def assertOnePass(df: DataFrame, what: String): KnnTopKExec = {
    df.collect() // AQE settles the final plan on execution
    val plan = df.queryExecution.executedPlan
    val nodes = execOf(plan)
    assert(nodes.map(_.getClass) == Seq(classOf[KnnTopKExec]),
      s"$what: $nodes")
    assert(adcFolds(plan).isEmpty, s"$what folds ADC-scored rows:\n$plan")
    nodes.head.asInstanceOf[KnnTopKExec]
  }

  test("ADC metrics: one evaluation per probe row and cell member; every PQ search is one pass") {
    import spark.implicits._
    val nlist = 5
    val base = (0L until 300L).map(i =>
      (i, Array.tabulate(8)(j => ((i * 31 + j * 7) % 13).toFloat - 6f)))
      .toDF("id", "vec").repartition(4)
    val cents = (0 until nlist).map(c =>
      Array.tabulate(8)(j => ((c * 17 + j * 5) % 13).toDouble - 6)).toArray
    val model = PqIndex.sampleModel(base, "vec", 4, 6)
    val assigned = IvfIndex.assign(base, "vec", cents)
      .withColumn("codes", PqIndex.encode(col("vec"), model)).cache()
    val queries = (0L until 7L).map(q =>
      (q, Array.tabulate(8)(j => ((q * 5 + j * 3) % 11).toFloat - 5f)))
      .toDF("query_id", "qvec")
    val probed = IvfIndex.probedQueries(queries, cents, 2)
    val (n, rerank) = (3, 4)
    val df = PqIndex.search(assigned, probed, model, n, rerank,
      VecMetric.Euclidean, keyed = true)
    val exec = assertOnePass(df, "PqIndex.search")
    assert(df.collect().length == 7 * n)
    val sizes = assigned.groupBy("cluster").count().as[(Int, Long)]
      .collect().toMap
    val cells = probed.select("cluster").as[Int].collect()
    assert(cells.length == 7 * 2)
    val metric = exec.metrics.map { case (k, v) => k -> v.value }
    assert(metric("numDistanceEvals") == cells.map(sizes.getOrElse(_, 0L)).sum)
    val parts = assigned.rdd.getNumPartitions
    assert(metric("numReranked") > 0 &&
      metric("numReranked") <= parts * 7L * n * rerank)
    assert(metric("numHeapInserts") >= metric("numReranked"))
    assert(metric("numOutputRows") == metric("numReranked"))
    assigned.unpersist()

    val coll = new VectorCollection(spark, base, nlist = 4, nprobe = 2,
      quantization = "pq", pqM = 4, pqKStar = 6, rerank = rerank)
    coll.createIndex()
    assertOnePass(coll.batchQuery(queries, n), "VectorCollection pq")
    for (q <- Seq("q21_ivf_pq", "q46_scann_aniso"))
      assertOnePass(SparkEntry.queries(q)(spark, sf), q)
  }
}
