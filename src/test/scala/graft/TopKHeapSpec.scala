package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CandidateHeap, TopKHeap}

/** The bounded heaps behind every top-k ([[TopKHeap]] for collect_topk
  * and the fused scans, [[CandidateHeap]] for the PQ candidates) keep
  * the k best entries by (score, id) in the total order of doubles —
  * NaN above every number, -0.0 below 0.0 — so the kept set, and with
  * it a distributed top-k, does not depend on the order rows arrive in.
  */
class TopKHeapSpec extends AnyFunSuite {

  private def bits(xs: Seq[(Double, Long)]): Seq[(Long, Long)] =
    xs.map { case (s, id) => (java.lang.Double.doubleToRawLongBits(s), id) }

  /** The k best of `entries`, best first. */
  private def best(entries: Seq[(Double, Long)], k: Int,
      asc: Boolean): Seq[(Double, Long)] = {
    val byScore =
      if (asc) Ordering.Double.TotalOrdering
      else Ordering.Double.TotalOrdering.reverse
    entries.sorted(Ordering.Tuple2(byScore, Ordering.Long)).take(k)
  }

  private def topK(order: Seq[(Double, Long)], k: Int,
      asc: Boolean): Seq[(Double, Long)] = {
    val h = new TopKHeap(k, asc)
    order.foreach { case (s, id) => h.insert(s, id) }
    h.sortedBestFirst.toSeq
  }

  private def candidates(order: Seq[(Double, Long)], k: Int,
      asc: Boolean): Seq[(Double, Long)] = {
    val h = new CandidateHeap(k, asc)
    order.foreach { case (s, id) => if (h.admits(s, id)) h.insert(s, id, null) }
    (0 until h.size).map(i => (h.score(i), h.id(i)))
  }

  test("a NaN score ranks last ascending whatever its arrival order") {
    val early = Seq((0.1, 1L), (Double.NaN, 2L), (0.2, 3L))
    val late = Seq((0.1, 1L), (0.2, 3L), (Double.NaN, 2L))
    assert(bits(topK(early, 2, asc = true)) == bits(Seq((0.1, 1L), (0.2, 3L))))
    assert(bits(topK(late, 2, asc = true)) == bits(Seq((0.1, 1L), (0.2, 3L))))
  }

  test("both heaps keep the same set under every insertion order") {
    // NaN, both zeros, tied scores under different ids and one
    // duplicated entry
    val entries = Seq((Double.NaN, 4L), (0.5, 2L), (-0.0, 7L), (0.0, 3L),
      (0.5, 1L), (Double.NaN, 0L), (0.5, 2L))
    for (asc <- Seq(true, false); k <- 1 to entries.length + 1) {
      val want = bits(best(entries, k, asc))
      entries.permutations.foreach { order =>
        assert(bits(topK(order, k, asc)) == want,
          s"TopKHeap asc=$asc k=$k order=$order")
        assert(bits(candidates(order, k, asc)).sorted == want.sorted,
          s"CandidateHeap asc=$asc k=$k order=$order")
      }
    }
  }

  test("a merge of partial heaps keeps the single heap's set") {
    val entries = Seq((Double.NaN, 5L), (1.0, 2L), (Double.NaN, 1L),
      (0.25, 9L), (1.0, 0L), (-1.0, 3L))
    for (asc <- Seq(true, false); k <- 1 to 4; cut <- 0 to entries.length) {
      val (a, b) = entries.splitAt(cut)
      val ha = new TopKHeap(k, asc)
      a.foreach { case (s, id) => ha.insert(s, id) }
      val hb = TopKHeap.fromBytes({
        val h = new TopKHeap(k, asc)
        b.foreach { case (s, id) => h.insert(s, id) }
        h.toBytes
      }, k, asc)
      ha.mergeFrom(hb)
      assert(bits(ha.sortedBestFirst.toSeq) == bits(best(entries, k, asc)),
        s"asc=$asc k=$k cut=$cut")
    }
  }
}
