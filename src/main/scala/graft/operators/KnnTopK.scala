package graft.operators

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

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

import graft.functions.{CandidateHeap, TopKHeap}

/** Fused distance + top-k scan: the operator behind
  * [[KnnSearch.bruteForce]], the IVF cell scan
  * ([[IvfIndex.searchProbed]]) and the PQ search ([[PqIndex.search]]).
  *
  * `left` is the base (`baseId`, `baseVec`, whatever `pairFilter`
  * reads), `right` the query batch (`queryId`, `queryVec`). With a cell
  * key pair (`baseCell`, `queryCell`) a base row is scored only against
  * the query rows whose cell equals its own, an equi-join on the cell;
  * without one, against every query row. The output is PARTIAL: per
  * base partition, each query id's best k as (query_id, score, id)
  * rows — at most partitions × Q × k rows, which [[KnnSearch.topKOf]]
  * merges. The scored pairs never become rows (FuseME's cuboid-fused
  * operator, SIGMOD 2022, applied to score + top-k).
  *
  * With a PQ model (`pq`, the base's `baseCodes`) the scan scores codes
  * instead: each row's ADC score against the query's table, into heaps
  * of k candidates that keep the row's vector, and each kept candidate's
  * exact score from that vector. The output is then (query_id, adc, id,
  * exact) — per base partition, each query id's best k by (adc, id),
  * with the exact score (null for a null vector) — which
  * [[PqIndex.search]] merges and ranks.
  *
  * The keys are plain fields, not a pair: the optimizer finds a node's
  * references among its fields of type Expression and Option, and
  * would prune a key column it cannot see.
  */
case class KnnTopK(
    left: LogicalPlan,
    right: LogicalPlan,
    baseId: Expression,
    baseVec: Expression,
    queryId: Expression,
    queryVec: Expression,
    pairFilter: Option[Expression],
    baseCell: Option[Expression],
    queryCell: Option[Expression],
    baseCodes: Option[Expression],
    pq: Option[PqIndex.Model],
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
    * `pairFilter` may name columns of either side; `cells`, when given,
    * is the (base, query) cell-key pair, each key reading only its own
    * side. With `codes` (the base's array<int> PQ codes and their
    * model) the scan ranks by ADC score and the frame is the partial
    * candidate frame (query_id, adc, id, exact). Each child is pruned to
    * the columns the scan reads.
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
      pairFilter: Option[Column],
      cells: Option[(Column, Column)] = None,
      codes: Option[(Column, PqIndex.Model)] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(codes.isEmpty || metric == VecMetric.Euclidean ||
      metric == VecMetric.InnerProduct,
      s"PQ scans rank by Euclidean (L2 table) or InnerProduct (dot " +
        s"table), got $metric")
    val keys = cells.toSeq.flatMap { case (b, q) => Seq(b, q) }
    val probe = base.crossJoin(queries)
      .select(Seq(id, vec, qid, qvec, pairFilter.getOrElse(lit(true))) ++
        keys ++ codes.map(_._1): _*)
    val (exprs, join) = probe.queryExecution.analyzed match {
      case Project(ps, j: Join) => (ps.map {
        case a: Alias => a.child
        case e => e
      }, j)
      case p => throw new IllegalStateException(s"unexpected probe plan $p")
    }
    val Seq(bid, bvec, q, qv, pf) = exprs.take(5)
    Seq(bvec, qv).foreach(e => require(e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }, s"kNN vectors must be array<float|double>, got " +
      s"${e.dataType.catalogString} for $e"))
    require(bid.dataType == LongType,
      s"kNN ids must be bigint, got ${bid.dataType.catalogString}")
    val filter = pairFilter.map(_ => pf)
    val bcell = cells.map(_ => exprs(5))
    val qcell = cells.map(_ => exprs(6))
    val bcodes = codes.map(_ => exprs(5 + keys.length))
    for (c <- bcodes) require(c.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }, s"PQ codes must be array<int>, got ${c.dataType.catalogString}")
    // boxed keys of different types never compare equal
    for (b <- bcell; c <- qcell) require(b.dataType == c.dataType,
      s"cell keys differ in type: ${b.dataType.catalogString} vs " +
        c.dataType.catalogString)
    def pruned(child: LogicalPlan, used: Seq[Expression]): LogicalPlan = {
      val refs = AttributeSet(used.flatMap(_.references))
      val keep = child.output.filter(refs.contains)
      if (keep.length == child.output.length) child else Project(keep, child)
    }
    val qidAttr = AttributeReference("query_id", q.dataType, q.nullable)()
    val idAttr = AttributeReference("id", LongType, nullable = false)()
    val node = KnnTopK(
      pruned(join.left, Seq(bid, bvec) ++ filter ++ bcell ++ bcodes),
      pruned(join.right, Seq(q, qv) ++ filter ++ qcell),
      bid, bvec, q, qv, filter, bcell, qcell, bcodes, codes.map(_._2),
      metric, k,
      if (codes.isEmpty) Seq(qidAttr,
        AttributeReference("score", DoubleType, nullable = false)(), idAttr)
      else Seq(qidAttr,
        AttributeReference("adc", DoubleType, nullable = false)(), idAttr,
        AttributeReference("exact", DoubleType, nullable = true)()))
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
          n.baseVec, n.queryId, n.queryVec, n.pairFilter, n.baseCell,
          n.queryCell, n.baseCodes, n.pq, n.metric, n.k, n.output) :: Nil
      case _ => Nil
    }
  }
}

/** Physical [[KnnTopK]]. The query batch is broadcast (as
  * BroadcastNestedLoopJoinExec broadcasts its build side) and each
  * base partition streams through once:
  *   - each task widens every distinct query vector to double once and
  *     keeps one heap per distinct query id; a query row whose vector
  *     is null is dropped (its score would be null);
  *   - with a cell key, the task maps each cell to the query rows of
  *     that cell, and a base row meets only its own cell's rows;
  *   - a base row whose id, vector or cell is null is skipped;
  *   - the base vector is widened to double once per row;
  *   - `pairFilter`, a predicate over the joined (base, query) row,
  *     picks the query rows the base row is scored against;
  *   - the kernel scores the row against those queries four at a time,
  *     each score going to its query id's heap.
  * A task holds the widened distinct query vectors and Q × k heap
  * entries besides the broadcast batch itself, the memory bound the
  * broadcast already implies; unbounded query sets go through
  * [[KnnSearch.bruteForceBlocked]].
  *
  * The PQ mode runs its own row loop ([[adcScan]]), picked once per
  * plan, so the flat loop's kernel call sites never see codes.
  */
case class KnnTopKExec(
    left: SparkPlan,
    right: SparkPlan,
    baseId: Expression,
    baseVec: Expression,
    queryId: Expression,
    queryVec: Expression,
    pairFilter: Option[Expression],
    baseCell: Option[Expression],
    queryCell: Option[Expression],
    baseCodes: Option[Expression],
    pq: Option[PqIndex.Model],
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
      SQLMetrics.createMetric(sparkContext, "number of output rows")) ++
    pq.map(_ => "numReranked" ->
      SQLMetrics.createMetric(sparkContext, "number of re-ranked candidates"))

  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(IdentityBroadcastMode) :: Nil

  override def outputPartitioning: Partitioning =
    UnknownPartitioning(left.outputPartitioning.numPartitions)

  override protected def doExecute(): RDD[InternalRow] =
    if (pq.isDefined) adcScan() else flatScan()

  private def flatScan(): RDD[InternalRow] = {
    val batch = right.executeBroadcast[Array[InternalRow]]()
    val evals = longMetric("numDistanceEvals")
    val inserts = longMetric("numHeapInserts")
    val outRows = longMetric("numOutputRows")
    val id = BindReferences.bindReference(baseId, left.output)
    val vec = BindReferences.bindReference(baseVec, left.output)
    val qid = BindReferences.bindReference(queryId, right.output)
    val qvec = BindReferences.bindReference(queryVec, right.output)
    val bcell = baseCell.map(BindReferences.bindReference(_, left.output))
      .orNull
    val qcell = queryCell.map(BindReferences.bindReference(_, right.output))
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
        val qs = new KnnTopKExec.Queries(qRows, qid, qvec, qvecIsFloat,
          kernel)
        val (all, byCell, widest) = KnnTopKExec.groups(qRows, qs, qcell)
        val heaps = Array.fill(qs.ids.length)(new TopKHeap(kk, asc))
        val pred = cond.map { c =>
          val p = Predicate.create(c, joinedOutput); p.initialize(part); p
        }.orNull
        val joined = new JoinedRow
        val sel = new Array[Int](widest)
        val hp = new Array[Int](widest)
        val scores = new Array[Double](widest)
        var vbuf = new Array[Double](0)
        var nEvals = 0L
        var nInserts = 0L
        while (rows.hasNext) {
          val row = rows.next()
          val idv = id.eval(row)
          val va = vec.eval(row).asInstanceOf[ArrayData]
          val group =
            if (idv == null || va == null) null
            else byCell match {
              case None => all
              case Some(mp) => mp.get(bcell.eval(row))
            }
          if (group != null) {
            if (pred != null) joined.withLeft(row)
            var m = 0; var j = 0
            while (j < group.length) {
              val p = group(j)
              if (pred == null || pred.eval(joined.withRight(qRows(p)))) {
                sel(m) = qs.vecOf(p); hp(m) = qs.heapOf(p); m += 1
              }
              j += 1
            }
            if (m > 0) {
              vbuf = KnnTopKExec.widen(va, vecIsFloat, vbuf)
              val vlen = va.numElements()
              kernel.scoreRow(qs.vecs, qs.aux, sel, m, vbuf, vlen,
                kernel.aux(vbuf, vlen), scores)
              val idl = idv.asInstanceOf[Long]
              j = 0
              while (j < m) {
                if (heaps(hp(j)).insert(scores(j), idl)) nInserts += 1
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
        heaps.indices.iterator.flatMap { h =>
          val best = heaps(h).sortedBestFirst
          outRows += best.length
          out.update(0, qs.ids(h))
          best.iterator.map { case (s, i) =>
            out.setDouble(1, s); out.setLong(2, i)
            proj(out): InternalRow
          }
        }
      }
    }
  }

  /** The PQ row loop. Per task, each distinct query vector's ADC table
    * ([[KnnTopKExec.adcTable]]); per base row, its codes turned into
    * table offsets once, then for each query row it meets the m lookups
    * summed in code order (PqAdc's sum) into that query's
    * [[CandidateHeap]], a kept row's vector copied once. At the end each
    * kept candidate gets its exact score by the metric's kernel: null
    * codes, id or cell skip a row, a null vector keeps its candidate
    * slot with a null exact score. A query id must have one query row
    * (one per cell when keyed): the merge pairs each candidate with one
    * query vector.
    */
  private def adcScan(): RDD[InternalRow] = {
    val batch = right.executeBroadcast[Array[InternalRow]]()
    val evals = longMetric("numDistanceEvals")
    val inserts = longMetric("numHeapInserts")
    val reranked = longMetric("numReranked")
    val outRows = longMetric("numOutputRows")
    val id = BindReferences.bindReference(baseId, left.output)
    val vec = BindReferences.bindReference(baseVec, left.output)
    val codes = BindReferences.bindReference(baseCodes.get, left.output)
    val qid = BindReferences.bindReference(queryId, right.output)
    val qvec = BindReferences.bindReference(queryVec, right.output)
    val bcell = baseCell.map(BindReferences.bindReference(_, left.output))
      .orNull
    val qcell = queryCell.map(BindReferences.bindReference(_, right.output))
    val vecIsFloat = KnnTopKExec.isFloat(baseVec)
    val qvecIsFloat = KnnTopKExec.isFloat(queryVec)
    val kernel = PairKernel(metric)
    val model = pq.get
    val l2 = metric == VecMetric.Euclidean
    val asc = metric.asc
    val kk = k
    val qidType = queryId.dataType
    val cond = pairFilter
    val joinedOutput = left.output ++ right.output
    left.execute().mapPartitionsWithIndex { (part, rows) =>
      if (!rows.hasNext) Iterator.empty
      else {
        val qRows = batch.value
        val qs = new KnnTopKExec.Queries(qRows, qid, qvec, qvecIsFloat,
          kernel)
        val (all, byCell, _) = KnnTopKExec.groups(qRows, qs, qcell)
        val qvecOf = KnnTopKExec.oneRowPerId(qs, all, byCell)
        val tables = qs.vecs.map(KnnTopKExec.adcTable(_, model, l2))
        val ks = model.codebook.headOption.fold(0)(_.length)
        val heaps = Array.fill(qs.ids.length)(new CandidateHeap(kk, asc))
        val pred = cond.map { c =>
          val p = Predicate.create(c, joinedOutput); p.initialize(part); p
        }.orNull
        val joined = new JoinedRow
        var offs = new Array[Int](0)
        var nEvals = 0L
        var nInserts = 0L
        while (rows.hasNext) {
          val row = rows.next()
          val idv = id.eval(row)
          val ca = codes.eval(row).asInstanceOf[ArrayData]
          val group =
            if (idv == null || ca == null) null
            else byCell match {
              case None => all
              case Some(mp) => mp.get(bcell.eval(row))
            }
          if (group != null) {
            if (pred != null) joined.withLeft(row)
            val nc = ca.numElements()
            if (offs.length < nc) offs = new Array[Int](nc)
            var s = 0
            while (s < nc) { offs(s) = s * ks + ca.getInt(s); s += 1 }
            val idl = idv.asInstanceOf[Long]
            var copied = false
            var kept: ArrayData = null
            var j = 0
            while (j < group.length) {
              val p = group(j)
              if (pred == null || pred.eval(joined.withRight(qRows(p)))) {
                val t = tables(qs.vecOf(p))
                var adc = 0.0
                s = 0
                while (s < nc) { adc += t(offs(s)); s += 1 }
                nEvals += 1
                val h = heaps(qs.heapOf(p))
                if (h.admits(adc, idl)) {
                  if (!copied) {
                    val va = vec.eval(row).asInstanceOf[ArrayData]
                    kept = if (va == null) null else va.copy()
                    copied = true
                  }
                  h.insert(adc, idl, kept)
                  nInserts += 1
                }
              }
              j += 1
            }
          }
        }
        evals += nEvals
        inserts += nInserts
        val proj = UnsafeProjection.create(
          Array[DataType](qidType, DoubleType, LongType, DoubleType))
        val out = new GenericInternalRow(4)
        var vbuf = new Array[Double](0)
        heaps.indices.iterator.flatMap { h =>
          val heap = heaps(h)
          outRows += heap.size
          out.update(0, qs.ids(h))
          Iterator.range(0, heap.size).map { i =>
            out.setDouble(1, heap.score(i)); out.setLong(2, heap.id(i))
            heap.payload(i) match {
              case va: ArrayData =>
                vbuf = KnnTopKExec.widen(va, vecIsFloat, vbuf)
                val q = qs.vecs(qvecOf(h))
                out.setDouble(3,
                  kernel.one(q, vbuf, math.min(q.length, va.numElements())))
                reranked += 1
              case _ => out.setNullAt(3)
            }
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

  /** The query rows a base row meets: `all` (every row with a vector),
    * or with a cell key the rows of the base row's cell; and the widest
    * such group.
    */
  private def groups(qRows: Array[InternalRow], qs: Queries,
      qcell: Option[Expression])
      : (Array[Int], Option[java.util.HashMap[Any, Array[Int]]], Int) = {
    val all = qRows.indices.filter(qs.vecOf(_) >= 0).toArray
    val byCell = qcell.map { c =>
      val mp = new java.util.HashMap[Any, Array[Int]]()
      all.groupBy(j => c.eval(qRows(j))).foreach { case (key, js) =>
        if (key != null) mp.put(key, js)
      }
      mp
    }
    val widest = byCell.fold(all.length)(mp =>
      mp.values.iterator.asScala.map(_.length).foldLeft(0)(math.max))
    (all, byCell, widest)
  }

  /** Each heap's one query vector (an index into `qs.vecs`, -1 for a
    * heap no row with a vector feeds), requiring that each query id has
    * one row with a vector in every group a base row meets.
    */
  private def oneRowPerId(qs: Queries, all: Array[Int],
      byCell: Option[java.util.HashMap[Any, Array[Int]]]): Array[Int] = {
    val vecOf = Array.fill(qs.ids.length)(-1)
    def fail(h: Int) = throw new IllegalArgumentException(
      s"PQ search needs distinct query ids: query id ${qs.ids(h)} has " +
        "more than one query row")
    all.foreach { j =>
      val h = qs.heapOf(j)
      if (vecOf(h) >= 0 && vecOf(h) != qs.vecOf(j)) fail(h)
      vecOf(h) = qs.vecOf(j)
    }
    val groupsMet = byCell.fold(Iterator.single(all))(_.values.iterator.asScala)
    groupsMet.foreach { g =>
      val seen = new java.util.BitSet(qs.ids.length)
      g.foreach { j =>
        val h = qs.heapOf(j)
        if (seen.get(h)) fail(h)
        seen.set(h)
      }
    }
    vecOf
  }

  /** Query vector `q`'s ADC table: entry s·k* + c scores q's subvector
    * s against codeword c of subspace s — squared L2 (`l2`) or dot —
    * over the shorter of the two, in index order. `PqIndex.distTable`
    * and `dotTable` slice the query (`slice(q, s·subDim + 1, subDim)`,
    * empty past its end) and score it with vec_l2sq / vec_dot, so each
    * entry is bit-identical to theirs.
    */
  private[operators] def adcTable(q: Array[Double], model: PqIndex.Model,
      l2: Boolean): Array[Double] = {
    val cb = model.codebook
    val ks = cb.headOption.fold(0)(_.length)
    val t = new Array[Double](cb.length * ks)
    var s = 0
    while (s < cb.length) {
      val start = s * model.subDim
      val len = if (start >= q.length) 0
        else math.min(model.subDim, q.length - start)
      var c = 0
      while (c < ks) {
        val w = cb(s)(c)
        val n = math.min(len, w.length)
        var acc = 0.0
        var i = 0
        if (l2) while (i < n) {
          val d = q(start + i) - w(i); acc += d * d; i += 1
        }
        else while (i < n) { acc += q(start + i) * w(i); i += 1 }
        t(s * ks + c) = acc
        c += 1
      }
      s += 1
    }
    t
  }

  /** One task's view of the broadcast query rows: row j's vector is
    * `vecs(vecOf(j))` (-1 when null), widened once per distinct vector,
    * and its scores go to heap `heapOf(j)`, one heap per distinct query
    * id `ids(heapOf(j))`.
    */
  private final class Queries(rows: Array[InternalRow], qid: Expression,
      qvec: Expression, isFloat: Boolean, kernel: PairKernel) {
    val vecOf = new Array[Int](rows.length)
    val heapOf = new Array[Int](rows.length)
    private val vecIdx = new java.util.HashMap[ArrayData, Integer]()
    private val idIdx = new java.util.HashMap[Any, Integer]()
    private val vs = ArrayBuffer.empty[Array[Double]]
    private val is = ArrayBuffer.empty[Any]
    rows.indices.foreach { j =>
      val qv = qvec.eval(rows(j)).asInstanceOf[ArrayData]
      vecOf(j) = if (qv == null) -1 else vecIdx.computeIfAbsent(qv, _ => {
        vs += widen(qv, isFloat, null); vs.length - 1
      })
      val q = qid.eval(rows(j))
      heapOf(j) = idIdx.computeIfAbsent(q, _ => { is += q; is.length - 1 })
    }
    val vecs: Array[Array[Double]] = vs.toArray
    val aux: Array[Double] = vecs.map(v => kernel.aux(v, v.length))
    val ids: Array[Any] = is.toArray
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
