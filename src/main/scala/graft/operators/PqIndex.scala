package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions._

/** Product quantization — the reference's milvus-ivfpq compression
  * leg. The vector is split into m subspaces; each gets a small
  * codebook; a vector is stored as m small codes (8-32x smaller scan
  * at 100 TB — the quantized scan is the answer to scan-bound brute
  * force). Search is an ADC scan: the query precomputes an (m x k*)
  * distance table, each row's approximate distance is m table lookups
  * summed — no vector math per row — and the best n·rerank candidates
  * per query are re-ranked by exact distance. [[search]] does both in
  * one pass over the stored table.
  */
object PqIndex {

  case class Model(m: Int, subDim: Int, codebook: Array[Array[Array[Double]]]) {
    // plans print the model; an array prints as its address
    override def toString: String =
      s"Model(m=$m, subDim=$subDim, k*=${codebook.headOption.fold(0)(_.length)})"
  }

  /** Deterministic codebooks: subvectors of the kStar vectors with
    * smallest id (sample init, engine-portable — the DuckDB oracle
    * rebuilds the identical codebook as ORDER BY id LIMIT kStar).
    */
  def sampleModel(base: DataFrame, vecCol: String, m: Int, kStar: Int,
      idCol: String = "id"): Model = {
    val vs = base.orderBy(idCol).limit(kStar)
      .select(col(vecCol).cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(vs.nonEmpty && vs(0).length % m == 0,
      s"dim ${vs.headOption.map(_.length)} not divisible by m=$m")
    val subDim = vs(0).length / m
    val codebook = Array.tabulate(m, vs.length, subDim)(
      (s, c, i) => vs(c)(s * subDim + i))
    Model(m, subDim, codebook)
  }

  /** Column: array<int> of m codes — fused single-pass kernel. */
  def encode(vec: Column, model: Model): Column =
    pq_encode(vec, model.codebook)

  /** SCANN-family score-aware codes (reference milvus-scann,
    * README.md:84): per subspace, argmin of the ANISOTROPIC loss
    * eta*|r_par|^2 + |r_orth|^2 — residual error along the datapoint
    * direction (which perturbs inner products with queries that score
    * the point highly) costs eta > 1 times the orthogonal error. The
    * compressed scan is byte-identical in shape to [[encode]]'s; only
    * the assignment objective changes, trading a little L2 fidelity
    * for dot-product fidelity where it matters.
    */
  def encodeAniso(vec: Column, model: Model, eta: Double): Column =
    pq_encode_aniso(vec, model.codebook, eta)

  /** Column: the query's inner-product ADC table — per subspace, dot
    * of the query subvector with every codeword. [[pq_adc]] over it
    * sums to the approximate full inner product.
    */
  def dotTable(qvec: Column, model: Model): Column = {
    val cb = typedlit(model.codebook.map(_.map(_.toSeq).toSeq).toSeq)
    transform(sequence(lit(0), lit(model.m - 1)), s => {
      val sub = slice(qvec, s * model.subDim + 1, lit(model.subDim))
      transform(element_at(cb, s + 1), c => vec_dot(sub, c))
    })
  }

  /** Column: the query's ADC table — per subspace, squared L2 to every
    * codebook centroid (array<array<double>>).
    */
  def distTable(qvec: Column, model: Model): Column = {
    val cb = typedlit(model.codebook.map(_.map(_.toSeq).toSeq).toSeq)
    transform(sequence(lit(0), lit(model.m - 1)), s => {
      val sub = slice(qvec, s * model.subDim + 1, lit(model.subDim))
      transform(element_at(cb, s + 1), c => vec_l2sq(sub, c))
    })
  }

  /** PQ search with exact re-rank, in one streamed pass:
    * [[KnnTopKExec]] scores each base row's `codes` against each query's
    * ADC table (the L2 table for Euclidean, the dot table for
    * InnerProduct) into per-query heaps of n·rerank candidates per
    * partition, and scores the kept candidates exactly from their
    * `vec`; `collect_rerank` then keeps each query's global n·rerank by
    * (ADC score, id) and ranks them by (exact score, id). The rows equal
    * the plan of an ADC `collect_topk` over every scored row, a join of
    * its candidates back to the base and `topKOf` over their exact
    * scores, for distinct base ids.
    *
    * base: (id, vec, codes[, cluster]); queries: (query_id, qvec[,
    * cluster]), one row per query id — per cell when `keyed`, as the
    * [[IvfIndex.probedQueries]] worklist has it (the scan fails on a
    * query id with several rows). `keyed` scores a base row only
    * against the query rows of its cell; `pairFilter` is evaluated on
    * each (base row, query row) pair before scoring. Returns (query_id,
    * rank, neighbor_id, score).
    */
  def search(
      base: DataFrame,
      queries: DataFrame,
      model: Model,
      n: Int,
      rerank: Int,
      metric: VecMetric,
      pairFilter: Option[Column] = None,
      keyed: Boolean = false): DataFrame = {
    require(n >= 1 && rerank >= 1,
      s"PQ search needs n >= 1 and rerank >= 1, got n=$n rerank=$rerank")
    require(model.codebook.map(_.length).distinct.length <= 1,
      "every PQ subspace needs the same number of codewords")
    val cands = n * rerank
    val scanned = KnnTopK.scan(base, queries, cands, metric, base("id"),
      base("vec"), queries("query_id"), queries("qvec"), pairFilter,
      Option.when(keyed)((base("cluster"), queries("cluster"))),
      Some((base("codes"), model)))
    KnnSearch.ranked(scanned, collect_rerank(col("adc"), col("id"),
      col("exact"), cands, n, metric.asc))
  }
}
