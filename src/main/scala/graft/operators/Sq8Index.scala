package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions._

/** Scalar quantization to 8-bit codes — the reference's milvus-ivfsq8
  * compression: per-dimension affine [min,max] -> [0,255]. 4x smaller
  * vectors with near-lossless recall; at 100 TB this is the cheap
  * scan-shrink before PQ's more aggressive one.
  */
object Sq8Index {

  case class Model(mins: Array[Double], scales: Array[Double])

  /** Per-dimension min/max via one posexplode + groupBy pass.
    * `maxCode` sets the quantization width: 255 for SQ8, 15 for the
    * packed SQ4 variant (Sq4Pack/Sq4L2).
    */
  def train(base: DataFrame, vecCol: String, maxCode: Int = 255): Model = {
    val stats = base
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .orderBy("pos")
      .collect()
    val mins = stats.map(_.getDouble(1))
    val scales = stats.map(r => {
      val span = r.getDouble(2) - r.getDouble(1)
      if (span == 0.0) 1.0 else span / maxCode.toDouble
    })
    Model(mins, scales)
  }

  /** Column: array<int> codes in [0,255]. */
  def encode(vec: Column, model: Model): Column = {
    val mins = typedlit(model.mins.toSeq)
    val scales = typedlit(model.scales.toSeq)
    transform(vec, (x, i) =>
      least(lit(255), greatest(lit(0),
        round((x.cast("double") - element_at(mins, i + 1)) /
          element_at(scales, i + 1)).cast("int"))))
  }

  /** IVF-SQ probed scan: each `probed` row ([[IvfIndex.probedQueries]])
    * meets the base rows of its cell, kept by `pairFilter`, and ranks
    * them by the L2 fused over their codes — `codes` (array<int>, SQ8)
    * or, with `packed`, `words` (Sq4Pack's SQ4 longs) — into the top k
    * per query.
    */
  def searchProbed(base: DataFrame, probed: DataFrame, model: Model,
      k: Int, packed: Boolean = false,
      pairFilter: Option[Column] = None): DataFrame = {
    val joined = base.join(broadcast(probed), "cluster")
    val score =
      if (packed) sq4_l2(col("qvec"), col("words"), model.mins, model.scales)
      else sq8_l2(col("qvec"), col("codes"), model.mins, model.scales)
    KnnSearch.topKOf(pairFilter.fold(joined)(joined.filter)
      .select(col("query_id"), score.as("score"), col("id")), k, asc = true)
  }
}
