package perfbench

/** The benchmark's own answers, computed in plain Scala without any
  * program code, so that a fault shared by the program's kernels cannot
  * also hide in the check.
  */
object Truth {

  /** Euclidean distance in double precision, accumulated in index
    * order: the same arithmetic the program documents for its L2
    * kernel, so equal inputs give bit-equal scores and rank ties fall
    * to the id.
    */
  def l2(q: Array[Float], v: Array[Float]): Double = {
    require(q.length == v.length, s"dims ${q.length} != ${v.length}")
    var acc = 0.0
    var i = 0
    while (i < q.length) {
      val d = q(i).toDouble - v(i).toDouble
      acc += d * d
      i += 1
    }
    math.sqrt(acc)
  }

  /** Exact top-`k` ids of `ids`/`vecs` nearest to `q`, ordered by
    * (distance, id). Returns min(k, n) ids.
    */
  def topK(q: Array[Float], ids: Array[Long], vecs: Array[Array[Float]],
      k: Int): Array[Long] = {
    require(ids.length == vecs.length, "ids and vecs differ in length")
    require(k > 0, s"k must be positive, got $k")
    // bounded max-heap on (distance, id): the root is the worst kept
    val worstFirst: Ordering[(Double, Long)] =
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
    val heap = scala.collection.mutable.PriorityQueue.empty(worstFirst)
    var i = 0
    while (i < ids.length) {
      val e = (l2(q, vecs(i)), ids(i))
      if (heap.size < k) heap.enqueue(e)
      else if (worstFirst.lt(e, heap.head)) { heap.dequeue(); heap.enqueue(e) }
      i += 1
    }
    heap.dequeueAll[(Double, Long)].reverse.map(_._2).toArray
  }

  /** [[topK]] for every query, spread over `threads` plain threads. */
  def topKAll(queries: Array[Array[Float]], ids: Array[Long],
      vecs: Array[Array[Float]], k: Int, threads: Int): Array[Array[Long]] = {
    val out = new Array[Array[Long]](queries.length)
    val workers = (0 until threads).map { t =>
      new Thread(() => {
        var i = t
        while (i < queries.length) {
          out(i) = topK(queries(i), ids, vecs, k)
          i += threads
        }
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    require(out.forall(_ != null), "a ground-truth worker failed")
    out
  }

  /** Fraction of the true top-k ids present in `found` (recall@k),
    * averaged over queries.
    */
  def recall(truth: Array[Array[Long]], found: Array[Seq[Long]]): Double = {
    require(truth.length == found.length, "truth and results differ in length")
    val hits = truth.indices.map(i => found(i).toSet.intersect(truth(i).toSet).size)
    hits.sum.toDouble / truth.map(_.length).sum
  }

  /** Word 3-gram Jaccard of two space-separated texts. */
  def jaccard3(a: String, b: String): Double = {
    def grams(s: String): Set[String] =
      s.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val (ga, gb) = (grams(a), grams(b))
    val inter = ga.intersect(gb).size
    inter.toDouble / (ga.size + gb.size - inter)
  }

  /** Probability that banded MinHash-LSH (`bands` x `rows`) surfaces a
    * pair of Jaccard `j` as a candidate.
    */
  def lshHitProbability(j: Double, bands: Int, rows: Int): Double =
    1.0 - math.pow(1.0 - math.pow(j, rows), bands)
}

/** Failed correctness checks. Any one fails the run. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(cond: Boolean, what: => String): Unit =
    if (!cond) throw new CheckFailed(what)

  /** Every query's result equals the expected ids, rank for rank. */
  def sameRanking(what: String, expected: Array[Array[Long]],
      got: Array[Seq[Long]]): Unit = {
    apply(expected.length == got.length,
      s"$what: ${got.length} result lists for ${expected.length} queries")
    expected.indices.foreach { i =>
      apply(expected(i).toSeq == got(i),
        s"$what: query $i returned ${got(i).mkString(",")}, " +
          s"expected ${expected(i).mkString(",")}")
    }
  }
}
