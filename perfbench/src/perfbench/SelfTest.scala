package perfbench

/** Tests of the benchmark's own ground truth and checker on hand-made
  * cases. Every run starts with them; a failure stops the run before
  * any measurement.
  */
object SelfTest {
  private def expect(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(s"self-test failed: $what")

  private def v(xs: Float*): Array[Float] = xs.toArray

  def run(): Unit = {
    // ties: equal distances rank by id, whatever the input order
    val ids = Array(7L, 3L, 5L, 1L)
    val vecs = Array(v(1, 0), v(0, 1), v(-1, 0), v(0, 3))
    expect(Truth.topK(v(0, 0), ids, vecs, 3).toSeq == Seq(3L, 5L, 7L),
      "ties rank by id")
    expect(Truth.topK(v(0, 2), ids, vecs, 2).toSeq == Seq(1L, 3L),
      "nearest first")
    // k > n returns every entity, in order
    expect(Truth.topK(v(0, 0), ids, vecs, 10).toSeq == Seq(3L, 5L, 7L, 1L),
      "k > n")
    // a single entity
    expect(Truth.topK(v(5, 5), Array(42L), Array(v(0, 0)), 10).toSeq ==
      Seq(42L), "single entity")
    // distance arithmetic: 3-4-5 triangle in double precision
    expect(Truth.l2(v(0, 0), v(3, 4)) == 5.0, "l2")
    // the threaded form agrees with the serial one
    val qs = Array(v(0, 0), v(0, 2), v(5, 5))
    expect(Truth.topKAll(qs, ids, vecs, 2, 2).map(_.toSeq).toSeq ==
      qs.map(q => Truth.topK(q, ids, vecs, 2).toSeq).toSeq, "threaded")
    // recall counts hits over true ids
    expect(Truth.recall(Array(Array(1L, 2L)), Array(Seq(2L, 9L))) == 0.5,
      "recall")
    // a perturbed neighbour id must fail the checker
    val truth = Array(Array(3L, 5L, 7L))
    Check.sameRanking("identical", truth, Array(Seq(3L, 5L, 7L)))
    val caught =
      try { Check.sameRanking("perturbed", truth, Array(Seq(3L, 5L, 8L))); false }
      catch { case _: CheckFailed => true }
    expect(caught, "a perturbed neighbour id passed the checker")
    // 3-gram Jaccard: 30 of 32 tokens shared in the lead gives 28/32
    val a = (0 until 32).map(i => s"w$i").mkString(" ")
    val b = ((0 until 30).map(i => s"w$i") ++ Seq("x1", "x2")).mkString(" ")
    expect(Truth.jaccard3(a, b) == 28.0 / 32, "jaccard3")
    expect(math.abs(Truth.lshHitProbability(0.875, 8, 8) - 0.9656) < 1e-3,
      "LSH hit probability")
  }

  def main(args: Array[String]): Unit = {
    run()
    println("perfbench self-test: ok")
  }
}
