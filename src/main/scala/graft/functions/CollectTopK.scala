package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.{BinaryLike, TernaryLike}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Bounded per-group top-k as a native aggregate — THE scalable kNN
  * reduce. Map-side partial aggregation keeps one k-sized heap per
  * query on every partition, so the shuffle carries
  * O(partitions x Q x k) rows instead of the N x Q a
  * sort/row_number() plan would move. This is how a 100 TB scan
  * answers a 10k-query batch with a kilobyte-scale shuffle.
  *
  * Ordering is (score, id) lexicographic — `asc=true` keeps the k
  * smallest (distances), `asc=false` the k largest (similarities);
  * ties always break toward the smaller id, matching the oracle's
  * `ORDER BY score [DESC], id`.
  *
  * Replaces the reference's per-query `kneighbors` scan
  * (bigvectorbench/algorithms/bruteforce/module.py:41-66) with one
  * distributed pass for the whole batch.
  */
case class CollectTopK(
    left: Expression,  // score: Double
    right: Expression, // id: Long
    k: Int,
    asc: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKHeap] with BinaryLike[Expression] {

  override def createAggregationBuffer(): TopKHeap = new TopKHeap(k, asc)

  override def update(buf: TopKHeap, input: InternalRow): TopKHeap = {
    val s = left.eval(input)
    val id = right.eval(input)
    if (s != null && id != null) {
      CollectTopK.observeRows(1)
      buf.insert(s.asInstanceOf[Double], id.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKHeap, other: TopKHeap): TopKHeap = {
    // the merge fan-in (deserialized partial buffers) counts against
    // the same per-task budget as update rows — the round-14 OOM
    // surfaced in exactly this path (TopKHeap.fromBytes)
    CollectTopK.observeRows(other.size)
    buf.mergeFrom(other); buf
  }

  override def eval(buf: TopKHeap): Any = {
    val sorted = buf.sortedBestFirst
    new GenericArrayData(sorted.map { case (s, id) =>
      InternalRow(id, s)
    })
  }

  override def serialize(buf: TopKHeap): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): TopKHeap =
    TopKHeap.fromBytes(bytes, k, asc)

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(o: Int): CollectTopK =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CollectTopK =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CollectTopK = copy(left = l, right = r)
  override def prettyName: String = "collect_topk"
}

object CollectTopK {
  /** Rows one task may stream through collect_topk buffers before a
    * sizing warning is logged. The heap buffers are unmanaged JVM
    * objects (TypedImperativeAggregate) that Spark's memory manager
    * cannot see, so a task fed far past the sizing target (~10M
    * rows/task, NnDescent.RowsPerTaskTarget) fails as an OPAQUE
    * executor OOM instead of spilling — the round-14 5M build OOM'd
    * an 80 GB heap at ~44M rows/task with no earlier signal. The
    * aggregate now flags the mis-sizing itself, while the job is
    * still alive and the fix (more shuffle partitions) is actionable.
    * Default 32M: ~3x the safe chunk, under the measured OOM point.
    * Override with GRAFT_TOPK_WARN_ROWS; specs set the var directly.
    */
  @volatile var warnRowsPerTask: Long =
    sys.env.get("GRAFT_TOPK_WARN_ROWS").flatMap(_.trim.toLongOption)
      .getOrElse(32L * 1000 * 1000)

  /** Total sizing warnings logged in this JVM (spec observability). */
  val warningCount = new java.util.concurrent.atomic.AtomicLong(0)

  private lazy val log = org.slf4j.LoggerFactory.getLogger(classOf[CollectTopK])

  private final class TaskRows {
    var attempt: Long = Long.MinValue
    var rows: Long = 0L
    var pending: Int = 0
    var warned: Boolean = false
  }
  private val taskRows: ThreadLocal[TaskRows] =
    ThreadLocal.withInitial(() => new TaskRows)

  /** Count `n` rows against the current task's top-k row budget. Hot
    * path (once per update row): one ThreadLocal read plus a field
    * increment; the TaskContext lookup and threshold check amortize
    * over 65,536-row quanta. Tasks run one-per-thread, so a thread
    * switch is a task switch and the attempt-id check below keeps
    * counts per-task (a stale sub-quantum carryover of < 65,536 rows
    * is immaterial against a multi-million-row threshold).
    */
  private[functions] def observeRows(n: Int): Unit = {
    val c = taskRows.get()
    c.pending += n
    if (c.pending >= 65536) flush(c)
  }

  private def flush(c: TaskRows): Unit = {
    val add = c.pending
    c.pending = 0
    val tc = org.apache.spark.TaskContext.get()
    if (tc == null) return
    if (c.attempt != tc.taskAttemptId()) {
      c.attempt = tc.taskAttemptId(); c.rows = 0L; c.warned = false
    }
    c.rows += add
    if (!c.warned && c.rows > warnRowsPerTask) {
      c.warned = true
      warningCount.incrementAndGet()
      log.warn(s"collect_topk: task ${tc.taskAttemptId()} (stage " +
        s"${tc.stageId()}, partition ${tc.partitionId()}) streamed " +
        s"${c.rows} rows through typed top-k buffers (threshold " +
        s"$warnRowsPerTask). These buffers are unmanaged JVM heap — an " +
        "undersized shuffle width fails as an executor OOM, not a " +
        "spill. Raise spark.sql.shuffle.partitions toward ~10M " +
        "rows/task (NnDescent.autoShufflePartitions derives this).")
    }
  }
}

/** Bounded binary heap of (score, id), worst element at root so a
  * better candidate evicts it in O(log k). Flat primitive arrays —
  * no boxing on the hot path.
  */
final class TopKHeap(k: Int, asc: Boolean) {
  private val scores = new Array[Double](k)
  private val ids = new Array[Long](k)
  private var n = 0

  /** Elements currently held (≤ k) — the merge fan-in unit. */
  def size: Int = n

  @inline private def worse(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    TopKHeap.worse(asc, s1, i1, s2, i2)

  /** Offer (s, id); true when the heap kept it. */
  def insert(s: Double, id: Long): Boolean = {
    if (n < k) {
      var i = n
      scores(i) = s; ids(i) = id; n += 1
      // sift up (root holds the WORST of the kept set)
      while (i > 0) {
        val p = (i - 1) >> 1
        if (worse(scores(i), ids(i), scores(p), ids(p))) {
          swap(i, p); i = p
        } else return true
      }
      true
    } else if (worse(scores(0), ids(0), s, id)) {
      scores(0) = s; ids(0) = id
      siftDown(0)
      true
    } else false
  }

  @inline private def swap(i: Int, j: Int): Unit = {
    val ts = scores(i); scores(i) = scores(j); scores(j) = ts
    val ti = ids(i); ids(i) = ids(j); ids(j) = ti
  }

  private def siftDown(start: Int): Unit = {
    var i = start
    while (true) {
      val l = 2 * i + 1; val r = l + 1
      var w = i
      if (l < n && worse(scores(l), ids(l), scores(w), ids(w))) w = l
      if (r < n && worse(scores(r), ids(r), scores(w), ids(w))) w = r
      if (w == i) return
      swap(i, w); i = w
    }
  }

  def mergeFrom(other: TopKHeap): Unit = {
    var i = 0
    while (i < other.n) { insert(other.scores(i), other.ids(i)); i += 1 }
  }

  def sortedBestFirst: Array[(Double, Long)] =
    Array.tabulate(n)(i => (scores(i), ids(i)))
      .sortWith((a, b) => TopKHeap.worse(asc, b._1, b._2, a._1, a._2))

  def toBytes: Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + n * 16)
    bb.putInt(n)
    var i = 0
    while (i < n) { bb.putDouble(scores(i)); bb.putLong(ids(i)); i += 1 }
    bb.array()
  }
}

object TopKHeap {
  /** Is (s1, i1) strictly worse than (s2, i2), i.e. later in the final
    * ranking? Scores compare by their total order (NaN above every
    * number, -0.0 below 0.0) and ties break toward the smaller id: the
    * order a heap keeps by and [[TopKHeap.sortedBestFirst]] sorts by,
    * so a heap keeps the same set whatever order its rows arrive in.
    */
  @inline def worse(asc: Boolean, s1: Double, i1: Long, s2: Double,
      i2: Long): Boolean = {
    val c = java.lang.Double.compare(s1, s2)
    (if (asc) c > 0 else c < 0) || (c == 0 && i1 > i2)
  }

  def fromBytes(bytes: Array[Byte], k: Int, asc: Boolean): TopKHeap = {
    val bb = ByteBuffer.wrap(bytes)
    val m = bb.getInt
    val h = new TopKHeap(k, asc)
    var i = 0
    while (i < m) { h.insert(bb.getDouble, bb.getLong); i += 1 }
    h
  }
}

/** The re-rank merge of a PQ search ([[graft.operators.PqIndex.search]]):
  * rows (approximate score, id, exact score) in, the top k by exact
  * score out. Per group it keeps the `cands` best rows by (approximate
  * score, id) — `asc` as in [[CollectTopK]] — exactly the candidate set
  * a `collect_topk` over every approximately scored row keeps, since
  * each of those is in its own partition's best `cands`. It then ranks
  * the kept rows with a non-null exact score as `collect_topk(exact,
  * id, k, asc)` would, into the same array<struct<id, score>>.
  */
case class CollectRerank(
    first: Expression,  // approximate score: Double
    second: Expression, // id: Long
    third: Expression,  // exact score: Double, null when unscored
    cands: Int,
    k: Int,
    asc: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CandidateHeap]
    with TernaryLike[Expression] {

  override def createAggregationBuffer(): CandidateHeap =
    new CandidateHeap(cands, asc)

  override def update(buf: CandidateHeap, input: InternalRow): CandidateHeap = {
    val s = first.eval(input)
    val id = second.eval(input)
    if (s != null && id != null) {
      val sd = s.asInstanceOf[Double]
      val idl = id.asInstanceOf[Long]
      if (buf.admits(sd, idl))
        buf.insert(sd, idl, third.eval(input).asInstanceOf[AnyRef])
    }
    buf
  }

  override def merge(buf: CandidateHeap, other: CandidateHeap): CandidateHeap = {
    var i = 0
    while (i < other.size) {
      if (buf.admits(other.score(i), other.id(i)))
        buf.insert(other.score(i), other.id(i), other.payload(i))
      i += 1
    }
    buf
  }

  override def eval(buf: CandidateHeap): Any = {
    val best = new TopKHeap(k, asc)
    var i = 0
    while (i < buf.size) {
      buf.payload(i) match {
        case e: java.lang.Double => best.insert(e.doubleValue, buf.id(i))
        case _ => ()
      }
      i += 1
    }
    new GenericArrayData(best.sortedBestFirst.map { case (s, id) =>
      InternalRow(id, s)
    })
  }

  override def serialize(buf: CandidateHeap): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 25)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) {
      bb.putDouble(buf.score(i)); bb.putLong(buf.id(i))
      buf.payload(i) match {
        case e: java.lang.Double => bb.put(1: Byte); bb.putDouble(e)
        case _ => bb.put(0: Byte); bb.putDouble(0.0)
      }
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CandidateHeap = {
    val bb = ByteBuffer.wrap(bytes)
    val h = new CandidateHeap(cands, asc)
    var i = bb.getInt
    while (i > 0) {
      val s = bb.getDouble; val id = bb.getLong
      val has = bb.get() == 1; val e = bb.getDouble
      h.insert(s, id, if (has) java.lang.Double.valueOf(e) else null)
      i -= 1
    }
    h
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(o: Int): CollectRerank =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CollectRerank =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression): CollectRerank =
    copy(first = a, second = b, third = c)
  override def prettyName: String = "collect_rerank"
}

/** [[TopKHeap]]'s bounded (score, id) heap with one payload per entry:
  * the PQ scan keeps each candidate's vector for its exact re-rank,
  * the re-rank merge its exact score. Callers insert only what
  * [[admits]] accepts, so a payload is built only for a kept entry.
  */
final class CandidateHeap(k: Int, asc: Boolean) {
  private val scores = new Array[Double](k)
  private val ids = new Array[Long](k)
  private val payloads = new Array[AnyRef](k)
  private var n = 0

  def size: Int = n
  def score(i: Int): Double = scores(i)
  def id(i: Int): Long = ids(i)
  def payload(i: Int): AnyRef = payloads(i)

  @inline private def worse(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    TopKHeap.worse(asc, s1, i1, s2, i2)

  /** Would the heap keep (s, id)? */
  def admits(s: Double, id: Long): Boolean =
    n < k || worse(scores(0), ids(0), s, id)

  /** Keep (s, id, p), evicting the worst when full; only after
    * [[admits]] said yes.
    */
  def insert(s: Double, id: Long, p: AnyRef): Unit = {
    if (n < k) {
      var i = n
      scores(i) = s; ids(i) = id; payloads(i) = p; n += 1
      while (i > 0) {
        val q = (i - 1) >> 1
        if (worse(scores(i), ids(i), scores(q), ids(q))) {
          swap(i, q); i = q
        } else return
      }
    } else {
      scores(0) = s; ids(0) = id; payloads(0) = p
      var i = 0
      while (true) {
        val l = 2 * i + 1; val r = l + 1
        var w = i
        if (l < n && worse(scores(l), ids(l), scores(w), ids(w))) w = l
        if (r < n && worse(scores(r), ids(r), scores(w), ids(w))) w = r
        if (w == i) return
        swap(i, w); i = w
      }
    }
  }

  @inline private def swap(i: Int, j: Int): Unit = {
    val ts = scores(i); scores(i) = scores(j); scores(j) = ts
    val ti = ids(i); ids(i) = ids(j); ids(j) = ti
    val tp = payloads(i); payloads(i) = payloads(j); payloads(j) = tp
  }
}
