package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnknownPartitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._

import graft.functions.TopKHeap

/** Fused distance + top-k scan: the exact-kNN operator behind
  * [[KnnSearch.bruteForce]].
  *
  * `left` is the base (`baseId`, `baseVec`, whatever `pairFilter`
  * reads), `right` the query batch (`queryId`, `queryVec`). The output
  * is PARTIAL: per base partition, each query's best k as
  * (query_id, score, id) rows — at most partitions × Q × k rows, which
  * [[KnnSearch.topKOf]] merges. The Q×N scored pairs never become
  * rows (FuseME's cuboid-fused operator, SIGMOD 2022, applied to
  * score + top-k).
  */
case class KnnTopK(
    left: LogicalPlan,
    right: LogicalPlan,
    baseId: Expression,
    baseVec: Expression,
    queryId: Expression,
    queryVec: Expression,
    pairFilter: Option[Expression],
    metric: VecMetric,
    k: Int,
    output: Seq[Attribute]) extends BinaryNode {

  override def producedAttributes: AttributeSet = outputSet

  override protected def withNewChildrenInternal(
      l: LogicalPlan, r: LogicalPlan): KnnTopK = copy(left = l, right = r)
}

object KnnTopK {

  /** The partial top-k frame (query_id, score, id) of `queries` against
    * `base`. The column arguments are resolved exactly as
    * `base.crossJoin(queries).select(...)` resolves them, so a
    * `pairFilter` may name columns of either side. Each child is
    * pruned to the columns the scan reads.
    */
  def scan(
      base: DataFrame,
      queries: DataFrame,
      k: Int,
      metric: VecMetric,
      id: Column,
      vec: Column,
      qid: Column,
      qvec: Column,
      pairFilter: Option[Column]): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val probe = base.crossJoin(queries)
      .select(id, vec, qid, qvec, pairFilter.getOrElse(lit(true)))
    val (exprs, join) = probe.queryExecution.analyzed match {
      case Project(ps, j: Join) => (ps.map {
        case a: Alias => a.child
        case e => e
      }, j)
      case p => throw new IllegalStateException(s"unexpected probe plan $p")
    }
    val Seq(bid, bvec, q, qv, pf) = exprs
    Seq(bvec, qv).foreach(e => require(e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }, s"kNN vectors must be array<float|double>, got " +
      s"${e.dataType.catalogString} for $e"))
    require(bid.dataType == LongType,
      s"kNN ids must be bigint, got ${bid.dataType.catalogString}")
    val filter = pairFilter.map(_ => pf)
    def pruned(child: LogicalPlan, used: Seq[Expression]): LogicalPlan = {
      val refs = AttributeSet(used.flatMap(_.references))
      val keep = child.output.filter(refs.contains)
      if (keep.length == child.output.length) child else Project(keep, child)
    }
    val node = KnnTopK(
      pruned(join.left, Seq(bid, bvec) ++ filter),
      pruned(join.right, Seq(q, qv) ++ filter),
      bid, bvec, q, qv, filter, metric, k,
      Seq(AttributeReference("query_id", q.dataType, q.nullable)(),
        AttributeReference("score", DoubleType, nullable = false)(),
        AttributeReference("id", LongType, nullable = false)()))
    // aliased, because the analyzer renews an alias's attribute when
    // one frame appears on both sides of a join, but not the output of
    // a node it does not know
    Shim.dataFrame(base.sparkSession,
      Project(node.output.map(a => Alias(a, a.name)()), node))
  }

  /** Plans [[KnnTopK]] as [[KnnTopKExec]]; installed per session by
    * `GraftSession.registerFunctions` and cluster-wide by
    * `GraftExtensions`.
    */
  object Strategy extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case n: KnnTopK =>
        KnnTopKExec(planLater(n.left), planLater(n.right), n.baseId,
          n.baseVec, n.queryId, n.queryVec, n.pairFilter, n.metric, n.k,
          n.output) :: Nil
      case _ => Nil
    }
  }
}

/** Physical [[KnnTopK]]. The query batch is broadcast (as
  * BroadcastNestedLoopJoinExec broadcasts its build side) and each
  * base partition streams through once:
  *   - a base row whose id or vector is null is skipped, as is a
  *     query whose vector is null (the score would be null);
  *   - the base vector is widened to double once per row;
  *   - `pairFilter`, a predicate over the joined (base, query) row,
  *     picks the queries the row is scored against;
  *   - the kernel scores the row against those queries four at a time;
  *   - one [[TopKHeap]] per query keeps the partition's best k.
  * A task holds Q × k heap entries besides the broadcast batch itself,
  * the memory bound the broadcast already implies; unbounded query
  * sets go through [[KnnSearch.bruteForceBlocked]].
  */
case class KnnTopKExec(
    left: SparkPlan,
    right: SparkPlan,
    baseId: Expression,
    baseVec: Expression,
    queryId: Expression,
    queryVec: Expression,
    pairFilter: Option[Expression],
    metric: VecMetric,
    k: Int,
    output: Seq[Attribute]) extends BinaryExecNode {

  override def producedAttributes: AttributeSet = outputSet

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numDistanceEvals" ->
      SQLMetrics.createMetric(sparkContext, "number of distance evaluations"),
    "numHeapInserts" ->
      SQLMetrics.createMetric(sparkContext, "number of heap inserts"),
    "numOutputRows" ->
      SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(IdentityBroadcastMode) :: Nil

  override def outputPartitioning: Partitioning =
    UnknownPartitioning(left.outputPartitioning.numPartitions)

  override protected def doExecute(): RDD[InternalRow] = {
    val batch = right.executeBroadcast[Array[InternalRow]]()
    val evals = longMetric("numDistanceEvals")
    val inserts = longMetric("numHeapInserts")
    val outRows = longMetric("numOutputRows")
    val id = BindReferences.bindReference(baseId, left.output)
    val vec = BindReferences.bindReference(baseVec, left.output)
    val qid = BindReferences.bindReference(queryId, right.output)
    val qvec = BindReferences.bindReference(queryVec, right.output)
    val vecIsFloat = KnnTopKExec.isFloat(baseVec)
    val qvecIsFloat = KnnTopKExec.isFloat(queryVec)
    val kernel = PairKernel(metric)
    val asc = metric.asc
    val kk = k
    val qidType = queryId.dataType
    val cond = pairFilter
    val joinedOutput = left.output ++ right.output
    left.execute().mapPartitionsWithIndex { (part, rows) =>
      if (!rows.hasNext) Iterator.empty
      else {
        val qRows = batch.value
        val nq = qRows.length
        val qvs = qRows.map(r => Option(qvec.eval(r).asInstanceOf[ArrayData])
          .map(KnnTopKExec.widen(_, qvecIsFloat, null)).orNull)
        val qaux = qvs.map(q => if (q == null) 0.0 else kernel.aux(q, q.length))
        val live = qvs.indices.filter(qvs(_) != null).toArray
        val pred = cond.map { c =>
          val p = Predicate.create(c, joinedOutput); p.initialize(part); p
        }
        val joined = new JoinedRow
        val sel = if (pred.isEmpty) live else new Array[Int](live.length)
        val scores = new Array[Double](live.length)
        val heaps = Array.fill(nq)(new TopKHeap(kk, asc))
        var vbuf = new Array[Double](0)
        var nEvals = 0L
        var nInserts = 0L
        while (rows.hasNext) {
          val row = rows.next()
          val idv = id.eval(row)
          val va = vec.eval(row).asInstanceOf[ArrayData]
          if (idv != null && va != null) {
            val m = pred match {
              case None => live.length
              case Some(p) =>
                joined.withLeft(row)
                var m = 0; var j = 0
                while (j < live.length) {
                  if (p.eval(joined.withRight(qRows(live(j))))) {
                    sel(m) = live(j); m += 1
                  }
                  j += 1
                }
                m
            }
            if (m > 0) {
              vbuf = KnnTopKExec.widen(va, vecIsFloat, vbuf)
              val vlen = va.numElements()
              kernel.scoreRow(qvs, qaux, sel, m, vbuf, vlen,
                kernel.aux(vbuf, vlen), scores)
              val idl = idv.asInstanceOf[Long]
              var j = 0
              while (j < m) {
                if (heaps(sel(j)).insert(scores(j), idl)) nInserts += 1
                j += 1
              }
              nEvals += m
            }
          }
        }
        evals += nEvals
        inserts += nInserts
        val proj = UnsafeProjection.create(
          Array[DataType](qidType, DoubleType, LongType))
        val out = new GenericInternalRow(3)
        (0 until nq).iterator.flatMap { j =>
          val best = heaps(j).sortedBestFirst
          outRows += best.length
          out.update(0, qid.eval(qRows(j)))
          best.iterator.map { case (s, i) =>
            out.setDouble(1, s); out.setLong(2, i)
            proj(out): InternalRow
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      l: SparkPlan, r: SparkPlan): KnnTopKExec = copy(left = l, right = r)
}

object KnnTopKExec {
  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** `a` widened to double, into `buf` when it is long enough. */
  private def widen(a: ArrayData, isFloat: Boolean,
      buf: Array[Double]): Array[Double] = {
    val n = a.numElements()
    val out = if (buf != null && buf.length >= n) buf else new Array[Double](n)
    var i = 0
    if (isFloat) while (i < n) { out(i) = a.getFloat(i).toDouble; i += 1 }
    else while (i < n) { out(i) = a.getDouble(i); i += 1 }
    out
  }
}

/** One metric's pair scores for [[KnnTopKExec]]. Every pair's sums run
  * in index order over min(|q|, |v|) elements, exactly as the metric's
  * expression (VecL2, VecCosineSim, VecDot, VecSignHamming) and
  * `VecMetric.localScore` accumulate them, so each score is
  * bit-identical to theirs. The L2, cosine and inner-product kernels
  * override `four` to score one base vector against four queries of
  * its length per pass over the dimensions: each vector element is
  * loaded once, and four independent sums hide the add latency.
  */
private[operators] abstract class PairKernel extends Serializable {
  /** A per-vector term `four` may reuse, since it sees equal lengths. */
  def aux(v: Array[Double], n: Int): Double = 0.0

  def one(q: Array[Double], v: Array[Double], n: Int): Double

  /** out(o + t) = score of qt against v(0 until n), t < 4; every qt and
    * v has length n, and at, va are their [[aux]] terms.
    */
  def four(q0: Array[Double], q1: Array[Double], q2: Array[Double],
      q3: Array[Double], a0: Double, a1: Double, a2: Double, a3: Double,
      v: Array[Double], va: Double, n: Int, out: Array[Double],
      o: Int): Unit = {
    out(o) = one(q0, v, n); out(o + 1) = one(q1, v, n)
    out(o + 2) = one(q2, v, n); out(o + 3) = one(q3, v, n)
  }

  /** out(j) = score of query qs(sel(j)) against v(0 until vlen), j < m. */
  final def scoreRow(qs: Array[Array[Double]], qa: Array[Double],
      sel: Array[Int], m: Int, v: Array[Double], vlen: Int, va: Double,
      out: Array[Double]): Unit = {
    var j = 0
    while (j + 3 < m) {
      val s0 = sel(j); val s1 = sel(j + 1)
      val s2 = sel(j + 2); val s3 = sel(j + 3)
      val q0 = qs(s0); val q1 = qs(s1); val q2 = qs(s2); val q3 = qs(s3)
      if (q0.length == vlen && q1.length == vlen && q2.length == vlen &&
          q3.length == vlen) {
        four(q0, q1, q2, q3, qa(s0), qa(s1), qa(s2), qa(s3), v, va, vlen,
          out, j)
        j += 4
      } else {
        out(j) = one(q0, v, math.min(q0.length, vlen)); j += 1
      }
    }
    while (j < m) {
      val q = qs(sel(j)); out(j) = one(q, v, math.min(q.length, vlen)); j += 1
    }
  }
}

private[operators] object PairKernel {
  def apply(metric: VecMetric): PairKernel = metric match {
    case VecMetric.Euclidean => L2
    case VecMetric.Cosine => Cosine
    case VecMetric.InnerProduct => Dot
    case VecMetric.SignHamming => SignHamming
  }

  private object L2 extends PairKernel {
    def one(q: Array[Double], v: Array[Double], n: Int): Double = {
      var acc = 0.0; var i = 0
      while (i < n) { val d = q(i) - v(i); acc += d * d; i += 1 }
      math.sqrt(acc)
    }
    override def four(q0: Array[Double], q1: Array[Double],
        q2: Array[Double], q3: Array[Double], a0: Double, a1: Double,
        a2: Double, a3: Double, v: Array[Double], va: Double, n: Int,
        out: Array[Double], o: Int): Unit = {
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0; var i = 0
      while (i < n) {
        val x = v(i)
        val d0 = q0(i) - x; val d1 = q1(i) - x
        val d2 = q2(i) - x; val d3 = q3(i) - x
        s0 += d0 * d0; s1 += d1 * d1; s2 += d2 * d2; s3 += d3 * d3
        i += 1
      }
      out(o) = math.sqrt(s0); out(o + 1) = math.sqrt(s1)
      out(o + 2) = math.sqrt(s2); out(o + 3) = math.sqrt(s3)
    }
  }

  /** The squared norm is `aux`: summed in index order over the whole
    * vector, the same sum `one` forms when the lengths are equal.
    */
  private object Cosine extends PairKernel {
    override def aux(v: Array[Double], n: Int): Double = {
      var acc = 0.0; var i = 0
      while (i < n) { val x = v(i); acc += x * x; i += 1 }
      acc
    }
    def one(q: Array[Double], v: Array[Double], n: Int): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val u = q(i); val w = v(i)
        dot += u * w; na += u * u; nb += w * w; i += 1
      }
      dot / math.sqrt(na * nb)
    }
    override def four(q0: Array[Double], q1: Array[Double],
        q2: Array[Double], q3: Array[Double], a0: Double, a1: Double,
        a2: Double, a3: Double, v: Array[Double], va: Double, n: Int,
        out: Array[Double], o: Int): Unit = {
      dot4(q0, q1, q2, q3, v, n, out, o)
      out(o) /= math.sqrt(a0 * va); out(o + 1) /= math.sqrt(a1 * va)
      out(o + 2) /= math.sqrt(a2 * va); out(o + 3) /= math.sqrt(a3 * va)
    }
  }

  private object Dot extends PairKernel {
    def one(q: Array[Double], v: Array[Double], n: Int): Double = {
      var acc = 0.0; var i = 0
      while (i < n) { acc += q(i) * v(i); i += 1 }
      acc
    }
    override def four(q0: Array[Double], q1: Array[Double],
        q2: Array[Double], q3: Array[Double], a0: Double, a1: Double,
        a2: Double, a3: Double, v: Array[Double], va: Double, n: Int,
        out: Array[Double], o: Int): Unit =
      dot4(q0, q1, q2, q3, v, n, out, o)
  }

  /** out(o + t) = q_t · v over n elements, each sum in index order. */
  private def dot4(q0: Array[Double], q1: Array[Double], q2: Array[Double],
      q3: Array[Double], v: Array[Double], n: Int, out: Array[Double],
      o: Int): Unit = {
    var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0; var i = 0
    while (i < n) {
      val x = v(i)
      s0 += q0(i) * x; s1 += q1(i) * x; s2 += q2(i) * x; s3 += q3(i) * x
      i += 1
    }
    out(o) = s0; out(o + 1) = s1; out(o + 2) = s2; out(o + 3) = s3
  }

  private object SignHamming extends PairKernel {
    def one(q: Array[Double], v: Array[Double], n: Int): Double = {
      var acc = 0L; var i = 0
      while (i < n) { if ((q(i) > 0) != (v(i) > 0)) acc += 1L; i += 1 }
      acc.toDouble
    }
  }
}
