package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions._

/** Product quantization — the reference's milvus-ivfpq compression
  * leg. The vector is split into m subspaces; each gets a small
  * KMeans codebook; a vector is stored as m small codes (8-32x
  * smaller scan at 100 TB — the quantized scan is the answer to
  * scan-bound brute force). Search is an ADC scan: the query
  * precomputes a (m x k*) distance table, each row's approximate
  * distance is m table lookups summed — no vector math per row.
  */
object PqIndex {

  case class Model(m: Int, subDim: Int, codebook: Array[Array[Array[Double]]])

  def train(base: DataFrame, vecCol: String, m: Int, kStar: Int,
      seed: Long = 42L): Model = {
    val dim = base.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    // codebooks are approximations whose error the exact re-rank
    // absorbs — train cheaply: bounded sample, random init (skips the
    // k-means|| init jobs), few iterations. One cached pass
    // materialises every subspace column for the m fits.
    val subs = base.limit(4096).select((0 until m).map(s =>
      array_to_vector(slice(col(vecCol), s * subDim + 1, subDim)
        .cast("array<double>")).as(s"__f$s")): _*).cache()
    val codebook = (0 until m).map { s =>
      new KMeans().setK(kStar).setSeed(seed + s).setFeaturesCol(s"__f$s")
        .setPredictionCol("__pred").setMaxIter(3).setInitMode("random")
        .fit(subs).clusterCenters.map(_.toArray)
    }.toArray
    subs.unpersist()
    Model(m, subDim, codebook)
  }

  /** Deterministic codebooks: subvectors of the kStar vectors with
    * smallest id (sample init, engine-portable — the DuckDB oracle
    * rebuilds the identical codebook as ORDER BY id LIMIT kStar).
    * The KMeans [[train]] stays as the recall-tuned alternative.
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

  /** ADC approximate distance: m table lookups, fused. */
  def adcDistance(codes: Column, table: Column, m: Int): Column =
    pq_adc(codes, table)

  /** PQ search with optional exact re-rank of the top rerank*k ADC
    * candidates (the standard recall recovery).
    * encoded: (id, vec, codes); queries: (query_id, qvec).
    */
  def search(
      encoded: DataFrame,
      queries: DataFrame,
      model: Model,
      k: Int,
      rerank: Int = 10): DataFrame = {
    val q = queries.withColumn("tbl", distTable(col("qvec"), model))
    val scored = encoded.crossJoin(broadcast(q))
      .select(
        col("query_id"), col("qvec"), col("id"), col("vec"),
        adcDistance(col("codes"), col("tbl"), model.m).as("adc"))
    // keep rerank*k ADC candidates per query, then exact re-rank
    val cands = scored
      .groupBy("query_id")
      .agg(collect_topk(col("adc"), col("id"), k * rerank, asc = true).as("topk"))
      .select(col("query_id"), explode(col("topk.id")).as("id"))
    // the <= Q x k x rerank candidates broadcast to the encoded scan,
    // which then never shuffles
    val exact = encoded.select(col("id"), col("vec"))
      .join(broadcast(cands), "id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), vec_l2(col("qvec"), col("vec")).as("score"), col("id"))
    KnnSearch.topKOf(exact, k, asc = true)
  }
}
