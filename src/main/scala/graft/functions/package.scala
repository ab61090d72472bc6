package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.Shim

/** Column-level API over the custom Catalyst expressions. */
package object functions {
  def vec_dot(a: Column, b: Column): Column =
    Shim.column(VecDot(Shim.expression(a), Shim.expression(b)))

  def vec_l2(a: Column, b: Column): Column =
    Shim.column(VecL2(Shim.expression(a), Shim.expression(b)))

  def vec_l2sq(a: Column, b: Column): Column =
    Shim.column(VecL2Sq(Shim.expression(a), Shim.expression(b)))

  def vec_cosine_sim(a: Column, b: Column): Column =
    Shim.column(VecCosineSim(Shim.expression(a), Shim.expression(b)))

  /** angular distance = 1 - cosine similarity (reference distance.py:44) */
  def vec_angular(a: Column, b: Column): Column =
    Shim.column(VecCosineSim(Shim.expression(a), Shim.expression(b))) * -1 + 1

  /** Index of the nearest of `cents` by VecL2 (first minimum). */
  def nearest_centroid(vec: Column, cents: Array[Array[Double]]): Column =
    Shim.column(NearestCentroid(Shim.expression(vec), cents))

  def vec_sign_hamming(a: Column, b: Column): Column =
    Shim.column(VecSignHamming(Shim.expression(a), Shim.expression(b)))

  /** numHashes minhash values over an array<long> of element hashes,
    * computed in one fused pass. */
  def minhash_sigs(c: Column, numHashes: Int, seed: Long): Column =
    Shim.column(MinHashSigs(Shim.expression(c), numHashes, seed))

  def pq_encode(vec: Column, codebook: Array[Array[Array[Double]]]): Column =
    Shim.column(PqEncode(Shim.expression(vec), codebook))

  def pq_adc(codes: Column, table: Column): Column =
    Shim.column(PqAdc(Shim.expression(codes), Shim.expression(table)))

  /** SCANN-style score-aware PQ encode: codeword argmin under the
    * anisotropic loss |r|^2 + (eta-1)(r.x)^2/|x|^2. */
  def pq_encode_aniso(vec: Column, codebook: Array[Array[Array[Double]]],
      eta: Double): Column =
    Shim.column(PqEncodeAniso(Shim.expression(vec), codebook, eta))

  def sq8_l2(qvec: Column, codes: Column,
      mins: Array[Double], scales: Array[Double]): Column =
    Shim.column(Sq8L2(Shim.expression(qvec), Shim.expression(codes),
      mins, scales))

  /** Pack a vector into 4-bit affine codes, 15 per long word. */
  def sq4_pack(vec: Column, mins: Array[Double], scales: Array[Double]): Column =
    Shim.column(Sq4Pack(Shim.expression(vec), mins, scales))

  /** L2 between a query vector and an SQ4-packed word array. */
  def sq4_l2(qvec: Column, words: Column,
      mins: Array[Double], scales: Array[Double]): Column =
    Shim.column(Sq4L2(Shim.expression(qvec), Shim.expression(words),
      mins, scales))

  /** 64-bit simhash from an array<long> of element hashes, one pass. */
  def simhash64(c: Column): Column =
    Shim.column(SimHash64(Shim.expression(c)))

  /** One signature per LSH table from a vector column, one pass. */
  def lsh_sigs(c: Column, planes: Array[Array[Array[Double]]]): Column =
    Shim.column(LshSigs(Shim.expression(c), planes))

  /** Fused matrix-vector projection y = (M·x)/scale (M row-major). */
  def mat_project(c: Column, m: Array[Array[Double]], scale: Double): Column =
    Shim.column(MatProject(Shim.expression(c), m.flatten,
      m.length, if (m.isEmpty) 0 else m(0).length, scale))

  /** Pack sign bits of a float/double vector into array<long> words. */
  def pack_bits(c: Column, bitsPerWord: Int = 64): Column =
    Shim.column(PackBits(Shim.expression(c), bitsPerWord))

  /** Hamming distance between packed bit vectors: popcount(xor). */
  def packed_hamming(a: Column, b: Column): Column =
    Shim.column(PackedHamming(Shim.expression(a), Shim.expression(b)))

  def text_fingerprint(c: Column): Column =
    Shim.column(TextFingerprint(Shim.expression(c)))

  /** Parameterised polynomial rolling hash (oracle-replicable). */
  def poly_hash(c: Column, mult: Long, mod: Long): Column =
    Shim.column(PolyHash(Shim.expression(c), mult, mod))

  /** Fused oracle-replicable 60-bit hashes of an array<string>. */
  def token_hashes(c: Column): Column =
    Shim.column(TokenHashes(Shim.expression(c)))

  def byte_sum(c: Column): Column =
    Shim.column(ByteSum(Shim.expression(c)))

  /** All winLen-codepoint window hashes of a string, one rolling pass
    * (prefilter-grade: mod 2^64, not oracle-replicable by design). */
  def rolling_hash_windows(c: Column, winLen: Int, base: Long): Column =
    Shim.column(RollingHashWindows(Shim.expression(c), winLen, base))

  /** Bounded top-k per group: array<struct<id,score>> best-first.
    * asc=true keeps smallest scores (distances), asc=false largest
    * (similarities). Partial-aggregates map-side (see CollectTopK).
    */
  def collect_topk(score: Column, id: Column, k: Int, asc: Boolean): Column =
    Shim.column(
      CollectTopK(Shim.expression(score), Shim.expression(id), k, asc)
        .toAggregateExpression())

  /** The PQ re-rank merge: of each group's `cands` best rows by
    * (approximate score, id), the top k by exact score, as
    * array<struct<id,score>> best-first (see CollectRerank).
    */
  def collect_rerank(approx: Column, id: Column, exact: Column, cands: Int,
      k: Int, asc: Boolean): Column =
    Shim.column(
      CollectRerank(Shim.expression(approx), Shim.expression(id),
        Shim.expression(exact), cands, k, asc).toAggregateExpression())
}
