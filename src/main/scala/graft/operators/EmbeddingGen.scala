package graft.operators

import org.apache.spark.ml.feature.{HashingTF, IDF, Tokenizer}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions._

/** Batch embedding generation (the reference pipelines raw datasets
  * through embedding models before indexing — create_dataset.py; here
  * the Spark-native batch path is MLlib's hashed TF-IDF, the
  * deterministic stand-in with the same shape as any model-based
  * embedder: docs in, fixed-dim float vectors out).
  */
object EmbeddingGen {

  /** doc_id + `embedding` array<double> of dim `numFeatures`. */
  def tfidf(docs: DataFrame, numFeatures: Int = 256): DataFrame = {
    val tok = new Tokenizer().setInputCol("text").setOutputCol("__words")
    val tf = new HashingTF().setInputCol("__words").setOutputCol("__tf")
      .setNumFeatures(numFeatures)
    val words = tf.transform(tok.transform(docs.select("doc_id", "text")))
    val idf = new IDF().setInputCol("__tf").setOutputCol("__emb").fit(words)
    idf.transform(words)
      .select(col("doc_id"), vector_to_array(col("__emb")).as("embedding"))
  }

  /** Long-format (doc_id, term, tf) term frequencies — the sparse
    * bag-of-words representation that scales past dense vectors (the
    * shuffle key is a term, not a doc).
    */
  def termCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** Deterministic vocabulary: top `size` terms by (df DESC, term
    * ASC) — a total order, so the vocab (and everything derived from
    * it) is engine-independent, unlike murmur3-hashed feature
    * indices.
    */
  def vocab(tc: DataFrame, size: Int): DataFrame =
    tc.groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term")).limit(size)

  /** Exact unit-length (L2) normalization — the reference's transform
    * for angular metrics (datasets.py write_output normalizes before
    * ground-truth). Formula pinned: x / sqrt(dot(v, v)).
    */
  def normalize(vec: Column): Column = {
    val nrm = sqrt(vec_dot(vec, vec))
    transform(vec, x => x.cast("double") / nrm)
  }
}
