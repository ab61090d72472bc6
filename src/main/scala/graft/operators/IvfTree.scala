package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions._

/** Two-level IVF tree — the Spark-native analog of the reference's
  * tree-partitioned index family (SPTAG BKT / SCANN's coarse-then-
  * fine quantization; README "Supported Databases and Algorithms").
  * A flat IVF needs nlist ~ sqrt(N) cells for balanced scan cost, and
  * at 100 TB that is a million-centroid argmin in every assignment;
  * a tree keeps each level's fanout small (the assignment argmin is
  * fanout-sized, the model a driver-trivial fanout^2 table) while the
  * leaf count — and so the pruning ratio — is their product.
  *
  * Build: level-1 centroids partition the corpus; within each L1
  * cell, level-2 sub-centroids partition the cell. Both levels are
  * deterministic sample-init (first ids in id order — faiss-style
  * reproducible sampling, DuckDB-replicable) like IvfIndex; both
  * assignments are pure column projections against broadcast
  * centroid literals — no shuffle in the build beyond the write.
  *
  * Search descends on the driver: rank L1 cells by query distance,
  * keep p1; rank the surviving cells' sub-centroids, keep p2 leaves;
  * scan only those leaves. The scanned fraction is ~(p2 / (l1 * sub))
  * with two fanout-sized rankings as the only overhead per query.
  */
object IvfTree {

  /** sub(i) = sub-centroids of L1 cell i, indexed by rank-by-id
    * within the cell (ragged: a small cell may have fewer than
    * `sub` members).
    */
  final case class Model(l1: Array[Array[Double]],
      sub: Array[Array[Array[Double]]]) {
    /** The widest cell's sub-centroid count: leaf (l1, l2) has id
      * l1 · fanout + l2.
      */
    val fanout: Int = sub.map(_.length).foldLeft(1)(math.max)
  }

  /** Deterministic sample-init build: L1 = first `l1` vectors by id;
    * each cell's sub-centroids = its first `sub` member vectors by id.
    * The collected model is l1 x sub vectors — tiny by construction.
    */
  def sampleModel(base: DataFrame, vecCol: String, l1: Int, sub: Int,
      idCol: String = "id"): Model = {
    val l1Cents = IvfIndex.sampleCentroids(base, vecCol, l1, idCol)
    val w = Window.partitionBy("l1").orderBy(idCol)
    val subRows = IvfIndex.assign(base, vecCol, l1Cents)
      .withColumnRenamed("cluster", "l1")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= sub)
      .select(col("l1"), col("rn"),
        col(vecCol).cast("array<double>").as("cv"))
      .collect()
    val subCents = Array.tabulate(l1) { c =>
      val members = subRows.filter(_.getInt(0) == c).sortBy(_.getInt(1))
        .map(_.getSeq[Double](2).toArray)
      // An L1 cell can end up with zero members when duplicate vectors
      // appear among the sampled centroids (ties all assign to the
      // first duplicate). Repair at build time by seeding the cell
      // with its own L1 centroid — a valid single-leaf cell — rather
      // than handing assign() a model it must reject.
      if (members.nonEmpty) members else Array(l1Cents(c).clone())
    }
    Model(l1Cents, subCents)
  }

  /** Column: argmin sub-cell within the row's own L1 cell — a pure
    * projection against the (fanout^2-sized) broadcast literal, no
    * shuffle, first-min tie-break = lowest l2 rank.
    */
  private def nearestSub(vec: Column, l1Col: Column, m: Model): Column = {
    val subLit = typedlit(m.sub.map(_.map(_.toSeq).toSeq).toSeq)
    val d = transform(element_at(subLit, l1Col + 1), c => vec_l2(vec, c))
    (array_position(d, array_min(d)) - 1).cast("int")
  }

  /** Assign every row to its (l1, l2) leaf. An empty L1 cell would
    * make nearestSub's array_min null and silently drop its rows from
    * any later probe join — refuse such a model up front instead.
    */
  def assign(df: DataFrame, vecCol: String, m: Model): DataFrame = {
    val empty = m.sub.zipWithIndex.collect { case (cs, i) if cs.isEmpty => i }
    require(empty.isEmpty,
      s"IvfTree model has empty L1 cells ${empty.mkString(",")}: " +
        "out-of-sample rows assigned there would vanish from probes")
    val a1 = IvfIndex.assign(df, vecCol, m.l1)
      .withColumnRenamed("cluster", "l1")
    a1.withColumn("l2", nearestSub(col(vecCol), col("l1"), m))
  }

  /** The `p2` leaves nearest to `vecs`, nearest first, as leaf ids
    * l1 · fanout + l2: [[IvfIndex.nearestCells]] picks the `p1` nearest
    * L1 centroids, then ranks those cells' sub-centroids by the same L2
    * into one heap, so ties break by (distance, l1, l2). The rows of one
    * query id share both rankings, and an L1 cell picked twice (by two
    * of its rows) offers its sub-centroids twice.
    */
  def leaves(vecs: Seq[Array[Double]], m: Model, p1: Int,
      p2: Int): Array[Int] = {
    val heap = new TopKHeap(p2, asc = true)
    val l2 = PairKernel(VecMetric.Euclidean)
    for (c <- IvfIndex.nearestCells(vecs, m.l1, p1);
         (s, j) <- m.sub(c).zipWithIndex; v <- vecs)
      heap.insert(l2.one(v, s, math.min(v.length, s.length)),
        c * m.fanout + j)
    heap.sortedBestFirst.map(_._2.toInt)
  }

  /** Tree search: the driver descent ([[leaves]]) picks each query's
    * leaves, and [[IvfIndex.searchProbed]] keyed on the leaf id scores
    * the probed leaves in one streamed pass.
    */
  def search(assigned: DataFrame, queries: DataFrame, m: Model,
      k: Int, p1: Int, p2: Int, metric: VecMetric): DataFrame =
    IvfIndex.searchProbed(
      assigned.withColumn("cluster", col("l1") * m.fanout + col("l2")),
      IvfIndex.probedQueries(queries, leaves(_, m, p1, p2)), k, metric)
}
