package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Mutations

/** `Mutations.applyBatch` against a plain `Map[Long, row]` model: the
  * merge must keep one row per key, let deletes win, replace same-key
  * rows, keep the column order and keep the base's partition count.
  */
class MutationsPropertySpec extends AnyFunSuite {
  import TestSpark._

  /** One write: a base (one row per key), an upsert batch that may
    * repeat keys, and delete keys that may be absent or upserted too.
    */
  case class Write(base: Map[Long, Int], ups: List[(Long, Int)],
      dels: List[Long])

  private val upsert = for {
    k <- Gen.choose(0L, 29L)
    v <- Gen.choose(1000, 1999)
  } yield (k, v)

  // keys overlap on purpose: base in [0, 20), upserts in [0, 30),
  // deletes in [0, 40) — so deletes hit base rows, upserted rows and
  // absent keys, and small key ranges make in-batch duplicates common
  private val writes: Gen[Write] = for {
    baseKeys <- Gen.frequency(1 -> Gen.const(Set.empty[Long]),
      5 -> Gen.containerOf[Set, Long](Gen.choose(0L, 19L)))
    baseVals <- Gen.listOfN(baseKeys.size, Gen.choose(0, 999))
    ups <- Gen.frequency(1 -> Gen.const(Nil), 4 -> Gen.listOf(upsert))
    dels <- Gen.frequency(1 -> Gen.const(Nil),
      4 -> Gen.listOf(Gen.choose(0L, 39L)))
  } yield Write(baseKeys.toList.zip(baseVals).toMap, ups, dels)

  private def rowsDf(rows: Seq[(Long, Int)]): DataFrame = {
    import spark.implicits._
    rows.map { case (k, v) => (k, Array(v.toFloat, -v.toFloat), v) }
      .toDF("id", "vec", "tag")
  }

  private def keysDf(keys: Seq[Long]): DataFrame = {
    import spark.implicits._
    keys.toDF("id")
  }

  /** Apply `w` and compare against the model; throws on a mismatch. */
  private def checkWrite(w: Write): Unit = {
    val base = rowsDf(w.base.toSeq)
    val out = Mutations.applyBatch(base, rowsDf(w.ups), keysDf(w.dels), "id")
    assert(out.columns.toSeq == base.columns.toSeq, "column order")
    val got = out.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1), r.getInt(2))).toSeq
    val keys = got.map(_._1)
    assert(keys.distinct.size == keys.size, s"duplicate keys in $keys")
    got.foreach { case (k, vec, v) =>
      assert(vec == Seq(v.toFloat, -v.toFloat), s"row $k split its columns")
    }
    val deleted = w.dels.toSet
    val upserted = w.ups.groupBy(_._1).map { case (k, kvs) =>
      k -> kvs.map(_._2).toSet }
    assert(keys.toSet == (w.base.keySet ++ upserted.keySet) -- deleted,
      s"keys for $w")
    got.foreach { case (k, _, v) =>
      // a repeated key in one batch keeps one of its rows, any one
      val allowed = upserted.getOrElse(k, Set(w.base(k)))
      assert(allowed(v), s"key $k holds $v, expected one of $allowed")
    }
  }

  test("applyBatch equals a Map model: one row per key, delete wins") {
    // the cases the contract names, each pinned once
    val pinned = Seq(
      Write(Map.empty, Nil, Nil),
      Write(Map(1L -> 1, 2L -> 2), Nil, Nil),
      Write(Map.empty, List((5L, 1005), (5L, 1006)), List(7L)),
      Write(Map(1L -> 1, 2L -> 2), List((1L, 1001), (3L, 1003)),
        List(1L, 3L, 9L)))
    pinned.foreach(checkWrite)
    val prop = Prop.forAll(writes) { w => checkWrite(w); true }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(30).withMaxSize(12)
      .withInitialSeed(org.scalacheck.rng.Seed(20261019L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("partition count holds across 50 consecutive writes") {
    val parts = 3
    var table = rowsDf((0L until 60L).map(k => (k, k.toInt)))
      .repartition(parts).localCheckpoint(true)
    val model = scala.collection.mutable.Map[Long, Int]()
    (0L until 60L).foreach(k => model(k) = k.toInt)
    (0 until 50).foreach { i =>
      val ups = (0 until 4).map(j => ((i * 7L + j * 13L) % 90, 1000 + i))
      val dels = Seq((i * 11L) % 90)
      table = Mutations.applyBatch(table, rowsDf(ups), keysDf(dels), "id")
        .localCheckpoint(true)
      ups.foreach { case (k, v) => model(k) = v }
      dels.foreach(model.remove)
      assert(table.rdd.getNumPartitions == parts, s"write $i")
    }
    val got = table.select("id", "tag").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == model.toMap)
  }

  /** Join operators of a physical plan, inside AQE's stages too. */
  private def joinsOf(plan: SparkPlan): Seq[String] =
    new AdaptiveSparkPlanHelper {}.collect(plan) {
      case _: BroadcastHashJoinExec => "broadcast"
      case _: SortMergeJoinExec => "sort-merge"
    }

  test("Spark picks the join: small batches broadcast, big ones do not") {
    val base = rowsDf((0L until 40L).map(k => (k, k.toInt)))
      .repartition(3).localCheckpoint(true)
    val w = Write((0L until 40L).map(k => k -> k.toInt).toMap,
      List((3L, 1003), (45L, 1045), (3L, 1004)), List(4L, 45L, 99L))
    def merged = Mutations.applyBatch(base, rowsDf(w.ups), keysDf(w.dels),
      "id")
    // a collection write: a small local batch is broadcast when the
    // query is planned, so the base is read in one map-only pass and
    // never shuffled
    val small = joinsOf(merged.queryExecution.sparkPlan)
    assert(small.nonEmpty && small.forall(_ == "broadcast"), small)
    // a batch above the broadcast threshold is not forced into a
    // broadcast; the sort-merge plan gives the same rows
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val big = merged
      big.collect() // AQE fixes its final plan as the stages run
      val joins = joinsOf(big.queryExecution.executedPlan)
      assert(joins.nonEmpty && !joins.contains("broadcast"), joins)
      checkWrite(w)
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
