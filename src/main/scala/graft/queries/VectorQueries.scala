package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{pack_bits, packed_hamming}
import graft.operators.{KnnSearch, MultiVectorSearch, VecMetric}

/** Core ANN query suite (SURVEY.md §2) with DuckDB oracle parity:
  * ids/ranks only in gated outputs (integer-exact), ordering ties
  * broken by id on both engines.
  *
  * Every entry evaluates OUT-OF-SAMPLE: the searched base is the
  * train split and the query workload is drawn from the held-out test
  * split ([[Split]] — the reference's train_test_split contract,
  * datasets.py:339/351), so a query row is never present in the data
  * it searches and rank 1 is a real neighbor, not self-retrieval.
  */
object VectorQueries {
  val K = 10
  val NQ = 10

  private def baseAndQueries(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, dir)
    val base = emb.filter(Split.isTrain(col("vec_id")))
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(Split.isQuery(col("vec_id"), NQ))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    (base, queries)
  }

  private def ranked(df: DataFrame): DataFrame =
    df.select(
      col("query_id"),
      col("rank").cast("long").as("rank"),
      col("neighbor_id"))
      .orderBy("query_id", "rank")

  def knn(metric: VecMetric)(s: SparkSession, dir: String): DataFrame = {
    val (base, queries) = baseAndQueries(s, dir)
    ranked(KnnSearch.bruteForce(base, queries, K, metric))
  }

  /** Oracle split predicates — MUST mirror [[Split]]. */
  private val qPred: String = Split.querySql("vec_id", NQ)
  private val bPred: String = Split.trainSql("vec_id")

  /** Oracle template shared by the exact knn variants. */
  private def knnSql(orderExpr: String): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |           FROM embeddings WHERE $qPred),
       |     b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |           FROM embeddings WHERE $bPred)
       |SELECT query_id, rank, neighbor_id FROM (
       |  SELECT q.query_id, b.id AS neighbor_id,
       |         row_number() OVER (PARTITION BY q.query_id
       |                            ORDER BY $orderExpr, b.id) AS rank
       |  FROM q CROSS JOIN b)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  val RangeRadius = 1.25
  val FilterPred = "label IN (1, 2, 3)"

  /** q04: reference filtered ANN (runner.py:62-88) — top-k among rows
    * satisfying a label predicate; predicate pushed into the scan.
    */
  def knnFiltered(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val base = emb.filter(Split.isTrain(col("vec_id")))
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        col("label"))
    val queries = emb.filter(Split.isQuery(col("vec_id"), NQ))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    ranked(KnnSearch.bruteForce(base, queries, K, VecMetric.Euclidean,
      preFilter = Some(expr(FilterPred))))
  }

  /** q14: per-query compound filtered ANN — the reference's real
    * filter workload (datasets.py:369-410 random_filter, runner.py:
    * 62-88): n int label columns on the base, a per-query threshold
    * tuple, and a conjunctive `label_i <= t_i` evaluated with the
    * scan. The labels/thresholds here are derived deterministically
    * from existing columns (so the DuckDB oracle rebuilds them), but
    * the operator shape is the general one: the fused kNN scan
    * evaluates the predicate on each (base row, query) pair before
    * scoring it, one scan, no per-query jobs. Queries
    * whose filter keeps fewer than k rows return fewer rows — the
    * reference semantics.
    */
  def knnFilteredCompound(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val base = emb.filter(Split.isTrain(col("vec_id")))
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        col("label").cast("long").as("l0"),
        (col("vec_id") % 97).as("l1"),
        ((col("vec_id") * 31) % 89).as("l2"))
    val queries = emb.filter(Split.isQuery(col("vec_id"), NQ))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("label").cast("long").as("t0"),
        (lit(20L) + (col("vec_id") * 13) % 60).as("t1"),
        (lit(15L) + (col("vec_id") * 17) % 60).as("t2"))
    ranked(KnnSearch.bruteForce(base, queries, K, VecMetric.Euclidean,
      pairFilter = Some(
        col("l0") <= col("t0") && col("l1") <= col("t1") &&
          col("l2") <= col("t2"))))
  }

  /** q05: ε-range search. */
  def rangeSearch(s: SparkSession, dir: String): DataFrame = {
    val (base, queries) = baseAndQueries(s, dir)
    KnnSearch.rangeSearch(base, queries, RangeRadius, VecMetric.Euclidean)
      .select(col("query_id"), col("neighbor_id"))
      .orderBy("query_id", "neighbor_id")
  }

  val GroupG = 5

  /** q47: grouping search (the Milvus grouping_search API surface) —
    * per query, rank the label GROUPS by their best member and return
    * the top-[[GroupG]] groups with each group's champion. The
    * production use is diversity-constrained retrieval: one hit per
    * domain / near-dup cluster instead of k copies of one thing. The
    * champion reduce is a map-side-combinable aggregate, so the
    * shuffle carries O(parts x Q x G) rows however large the base is.
    */
  def groupedSearch(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val base = emb.filter(Split.isTrain(col("vec_id")))
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        col("label").cast("long").as("grp"))
    val queries = emb.filter(Split.isQuery(col("vec_id"), NQ))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    graft.operators.GroupedSearch
      .search(base, queries, GroupG, VecMetric.Euclidean, "grp")
      .select(col("query_id"), col("rank"), col("grp").as("label"),
        col("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  val PageSize = 5
  val NPages = 3

  /** q48: search-iterator pagination (the Milvus search_iterator /
    * offset+limit API family) — [[NPages]] pages of [[PageSize]]
    * fetched by DISTANCE CONTINUATION: each page's (score, id)
    * boundary seeds the next page's scan filter, so no page ever
    * recomputes or buffers the rows before its offset and the
    * per-partition heap stays [[PageSize]] at any depth (see
    * KnnSearch.searchIterator). The oracle is the ONE-SHOT global
    * ranking sliced into pages — a row dropped or duplicated at any
    * page boundary hash-mismatches.
    */
  def searchIterator(s: SparkSession, dir: String): DataFrame = {
    val (base, queries) = baseAndQueries(s, dir)
    KnnSearch.searchIterator(base, queries, PageSize, NPages,
      VecMetric.Euclidean)
      .select(col("query_id"), col("page").cast("long").as("page"),
        col("rank").cast("long").as("rank"), col("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  private def mvParts(vecCol: String, n: Int = 4, dim: Int = 16): Seq[String] =
    (0 until n).map(i => s"slice($vecCol, ${i * dim + 1}, $dim)")

  private def withMvFields(df: DataFrame, vecCol: String, prefix: String): DataFrame =
    mvParts(vecCol).zipWithIndex.foldLeft(df) { case (d, (sl, i)) =>
      d.withColumn(s"$prefix$i", expr(sl))
    }

  /** q06/q07: the embedding split into 4x16-dim fields = the multi-
    * vector entity (reference random_mv dataset, datasets.py:412).
    */
  private def mvBaseAndQueries(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, dir)
    val base = withMvFields(
      emb.filter(Split.isTrain(col("vec_id")))
        .select(col("vec_id").as("id"), col("embedding").as("vec")), "vec", "bv")
      .drop("vec")
    val queries = withMvFields(
      emb.filter(Split.isQuery(col("vec_id"), NQ))
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
      "qvec", "qv").drop("qvec")
    (base, queries)
  }

  def multiVectorWeighted(s: SparkSession, dir: String): DataFrame = {
    val (base, queries) = mvBaseAndQueries(s, dir)
    ranked(MultiVectorSearch.weighted(base, queries, K,
      (0 until 4).map(i => (s"bv$i", s"qv$i", 0.25))))
  }

  /** q18: the reference's EXACT multi-vector metric — mean of
    * per-field euclidean distances (random_mv ground truth,
    * datasets.py:437-441: np.mean(np.linalg.norm(test - train,
    * axis=3), axis=2)) — ascending. q06/q07 are the fusion variants;
    * this one is the reference's own mv distance.
    */
  def multiVectorMeanL2(s: SparkSession, dir: String): DataFrame = {
    val (base, queries) = mvBaseAndQueries(s, dir)
    val score = (0 until 4)
      .map(i => graft.functions.vec_l2(col(s"qv$i"), col(s"bv$i")))
      .reduceLeft(_ + _) / lit(4.0)
    val scored = base.crossJoin(broadcast(queries))
      .select(col("query_id"), score.as("score"), col("id"))
    ranked(KnnSearch.topKOf(scored, K, asc = true))
  }

  def multiVectorRrf(s: SparkSession, dir: String): DataFrame = {
    val (base, queries) = mvBaseAndQueries(s, dir)
    ranked(MultiVectorSearch.rrf(base, queries, K,
      (0 until 4).map(i => (s"bv$i", s"qv$i")), perFieldK = 50))
  }

  val NQDocs = 5

  /** q09: jaccard top-k over document token sets (reference jaccard
    * metric, distance.py:12-16, on real set data not floats) — test-
    * split query docs against the train-split corpus.
    */
  def knnJaccard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
    val base = docs.filter(Split.isTrain(col("doc_id")))
      .select(col("doc_id").as("id"), col("toks").as("vec"))
    val queries = docs.filter(Split.isQuery(col("doc_id"), NQDocs))
      .select(col("doc_id").as("query_id"), col("toks").as("qvec"))
    val scored = base.crossJoin(broadcast(queries))
      .select(
        col("query_id"),
        (size(array_intersect(col("qvec"), col("vec"))).cast("double") /
          (size(col("qvec")) + size(col("vec")) -
            size(array_intersect(col("qvec"), col("vec")))).cast("double"))
          .as("score"),
        col("id"))
    ranked(KnnSearch.topKOf(scored, K, asc = false))
  }

  /** q10: batch query (reference batch_query throughput mode) — the
    * WHOLE test split queries the train base at once. The query side
    * is unbounded (10% of the table), so this takes the blocked grid-
    * join path: no O(N) broadcast anywhere in the plan (see
    * KnnSearch.bruteForceBlocked).
    */
  def batchQuery(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val base = emb.filter(Split.isTrain(col("vec_id")))
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(Split.isTest(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    ranked(KnnSearch.bruteForceBlocked(base, queries, K, VecMetric.Euclidean))
  }

  /** q15: native packed-bit hamming top-k — the q08 workload on REAL
    * bitstrings (reference random_bitstring / sift_hamming,
    * datasets.py:343, 622): vectors sign-binarise ONCE into packed
    * array<long> words (pack_bits), then the scan is XOR + popcount
    * per word (packed_hamming) — 64x fewer bytes and ~64x fewer ops
    * than the per-dim float hamming of q08. 60 bits/word so the
    * DuckDB oracle can rebuild identical words with shifted-bit sums
    * in BIGINT range.
    */
  def knnHammingPacked(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val packed = emb.select(col("vec_id"),
      pack_bits(col("embedding"), 60).as("bits"))
    val base = packed.filter(Split.isTrain(col("vec_id")))
      .select(col("vec_id").as("id"), col("bits").as("vec"))
    val queries = packed.filter(Split.isQuery(col("vec_id"), NQ))
      .select(col("vec_id").as("query_id"), col("bits").as("qvec"))
    val scored = base.crossJoin(broadcast(queries))
      .select(col("query_id"),
        packed_hamming(col("qvec"), col("vec")).cast("double").as("score"),
        col("id"))
    ranked(KnnSearch.topKOf(scored, K, asc = true))
  }

  /** q11: exact ground-truth top-100 (reference write_output,
    * datasets.py:118-170) — test queries against the train base, the
    * exact contract write_output evaluates.
    */
  def gtTop100(s: SparkSession, dir: String): DataFrame = {
    val (base, queries) = baseAndQueries(s, dir)
    ranked(KnnSearch.bruteForce(base, queries, 100, VecMetric.Euclidean))
  }

  /** q13: "big query" — the reference's large-dimension workload
    * (1536/3072-dim OpenAI embeddings, datasets.py:761-808),
    * synthesised here by tiling the 64-dim vectors to 1536 dims.
    * Same plan shape, 24x the flops per pair.
    */
  def bigQuery(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        flatten(array_repeat(col("embedding"), 24)).as("big"))
    val base = emb.filter(Split.isTrain(col("vec_id")))
      .select(col("vec_id").as("id"), col("big").as("vec"))
    val queries = emb.filter(Split.isQuery(col("vec_id"), NQ))
      .select(col("vec_id").as("query_id"), col("big").as("qvec"))
    ranked(KnnSearch.bruteForce(base, queries, K, VecMetric.Euclidean))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_knn_euclidean" -> knn(VecMetric.Euclidean) _,
    "q02_knn_cosine" -> knn(VecMetric.Cosine) _,
    "q03_knn_dot" -> knn(VecMetric.InnerProduct) _,
    "q04_knn_filtered" -> (knnFiltered _),
    "q14_knn_filtered_compound" -> (knnFilteredCompound _),
    "q05_range_search" -> (rangeSearch _),
    "q06_multi_vector" -> (multiVectorWeighted _),
    "q07_multi_vector_rrf" -> (multiVectorRrf _),
    "q18_multi_vector_mean_l2" -> (multiVectorMeanL2 _),
    "q08_knn_hamming" -> knn(VecMetric.SignHamming) _,
    "q15_knn_hamming_packed" -> (knnHammingPacked _),
    "q09_knn_jaccard" -> (knnJaccard _),
    "q10_batch_query" -> (batchQuery _),
    "q11_gt_top100" -> (gtTop100 _),
    "q13_big_query" -> (bigQuery _),
    "q47_grouped_search" -> (groupedSearch _),
    "q48_search_iterator" -> (searchIterator _)
  )

  /** cosine pinned to our exact formula (dot / sqrt(na*nb)) so fused
    * near-ties can't flip on engine-internal rounding differences. */
  private def cosSql(a: String, b: String): String =
    s"(list_inner_product($a, $b) / sqrt(list_inner_product($a, $a) * list_inner_product($b, $b)))"

  private def mvSliceSql(v: String, i: Int): String =
    s"($v[${i * 16 + 1}:${i * 16 + 16}])"

  private val mvWeightedOrder: String =
    (0 until 4).map(i =>
      s"0.25 * ${cosSql(mvSliceSql("q.qv", i), mvSliceSql("b.v", i))}")
      .mkString(" + ") + " DESC"

  private val rrfSql: String = {
    val perField = (0 until 4).map { i =>
      s"""SELECT query_id, id, $i AS field, rank FROM (
         |  SELECT q.query_id, b.id,
         |         row_number() OVER (PARTITION BY q.query_id
         |           ORDER BY ${cosSql(mvSliceSql("q.qv", i), mvSliceSql("b.v", i))} DESC, b.id) AS rank
         |  FROM q CROSS JOIN b) WHERE rank <= 50""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |           FROM embeddings WHERE $qPred),
       |     b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |           FROM embeddings WHERE $bPred),
       |     lists AS ($perField),
       |     piv AS (SELECT query_id, id,
       |               max(CASE WHEN field = 0 THEN rank END) AS r0,
       |               max(CASE WHEN field = 1 THEN rank END) AS r1,
       |               max(CASE WHEN field = 2 THEN rank END) AS r2,
       |               max(CASE WHEN field = 3 THEN rank END) AS r3
       |             FROM lists GROUP BY query_id, id),
       |     fused AS (SELECT query_id, id,
       |               (CASE WHEN r0 IS NOT NULL THEN 1.0/(60+r0) ELSE 0.0 END)
       |             + (CASE WHEN r1 IS NOT NULL THEN 1.0/(60+r1) ELSE 0.0 END)
       |             + (CASE WHEN r2 IS NOT NULL THEN 1.0/(60+r2) ELSE 0.0 END)
       |             + (CASE WHEN r3 IS NOT NULL THEN 1.0/(60+r3) ELSE 0.0 END) AS score
       |             FROM piv)
       |SELECT query_id, rank, neighbor_id FROM (
       |  SELECT query_id, id AS neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY score DESC, id) AS rank
       |  FROM fused)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  private val jaccardSql: String =
    s"""WITH d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
       |           FROM documents),
       |     bd AS (SELECT doc_id, toks FROM d
       |            WHERE ${Split.trainSql("doc_id")}),
       |     q AS (SELECT doc_id AS query_id, toks AS qtoks FROM d
       |           WHERE ${Split.querySql("doc_id", NQDocs)})
       |SELECT query_id, rank, neighbor_id FROM (
       |  SELECT q.query_id, bd.doc_id AS neighbor_id,
       |         row_number() OVER (PARTITION BY q.query_id ORDER BY
       |           (CAST(len(list_intersect(q.qtoks, bd.toks)) AS DOUBLE) /
       |            CAST(len(q.qtoks) + len(bd.toks)
       |                 - len(list_intersect(q.qtoks, bd.toks)) AS DOUBLE)) DESC,
       |           bd.doc_id) AS rank
       |  FROM q CROSS JOIN bd)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  private def knnSqlCustom(orderExpr: String, baseExtra: String = "",
      qWhere: String = qPred, k: Int = K): String = {
    val bWhere = if (baseExtra.isEmpty) bPred else s"$bPred AND ($baseExtra)"
    s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |           FROM embeddings WHERE $qWhere),
       |     b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |           FROM embeddings WHERE $bWhere)
       |SELECT query_id, rank, neighbor_id FROM (
       |  SELECT q.query_id, b.id AS neighbor_id,
       |         row_number() OVER (PARTITION BY q.query_id
       |                            ORDER BY $orderExpr, b.id) AS rank
       |  FROM q CROSS JOIN b)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q01_knn_euclidean" -> knnSql("list_distance(q.qv, b.v)"),
    "q02_knn_cosine" -> knnSql("list_cosine_similarity(q.qv, b.v) DESC"),
    "q03_knn_dot" -> knnSql("list_inner_product(q.qv, b.v) DESC"),
    "q04_knn_filtered" -> knnSqlCustom("list_distance(q.qv, b.v)",
      baseExtra = FilterPred),
    "q14_knn_filtered_compound" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
         |             CAST(label AS BIGINT) AS t0,
         |             20 + (vec_id * 13) % 60 AS t1,
         |             15 + (vec_id * 17) % 60 AS t2
         |           FROM embeddings WHERE $qPred),
         |     b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v,
         |             CAST(label AS BIGINT) AS l0,
         |             vec_id % 97 AS l1,
         |             (vec_id * 31) % 89 AS l2
         |           FROM embeddings WHERE $bPred)
         |SELECT query_id, rank, neighbor_id FROM (
         |  SELECT q.query_id, b.id AS neighbor_id,
         |         row_number() OVER (PARTITION BY q.query_id
         |                            ORDER BY list_distance(q.qv, b.v), b.id) AS rank
         |  FROM q JOIN b ON b.l0 <= q.t0 AND b.l1 <= q.t1 AND b.l2 <= q.t2)
         |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
    "q05_range_search" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |           FROM embeddings WHERE $qPred),
         |     b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
         |           FROM embeddings WHERE $bPred)
         |SELECT q.query_id, b.id AS neighbor_id
         |FROM q CROSS JOIN b
         |WHERE list_distance(q.qv, b.v) <= $RangeRadius
         |ORDER BY query_id, neighbor_id""".stripMargin,
    "q06_multi_vector" -> knnSqlCustom(mvWeightedOrder),
    "q07_multi_vector_rrf" -> rrfSql,
    "q18_multi_vector_mean_l2" -> knnSqlCustom(
      (0 until 4).map(i =>
        s"list_distance(${mvSliceSql("q.qv", i)}, ${mvSliceSql("b.v", i)})")
        .mkString("(", " + ", ") / 4.0")),
    "q08_knn_hamming" -> knnSql(
      "len(list_filter(list_zip(q.qv, b.v), p -> (p[1] > 0) != (p[2] > 0)))"),
    "q15_knn_hamming_packed" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |p AS (SELECT vec_id,
         |        list_transform(range(0, (len(v) + 59) // 60), w ->
         |          CAST(list_sum(list_transform(range(0, 60), j ->
         |            CASE WHEN w * 60 + j < len(v) AND v[CAST(w * 60 + j + 1 AS INT)] > 0
         |                 THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
         |                 ELSE CAST(0 AS BIGINT) END)) AS BIGINT)) AS bits
         |      FROM e),
         |q AS (SELECT vec_id AS query_id, bits AS qb FROM p WHERE $qPred),
         |b AS (SELECT vec_id AS id, bits AS bb FROM p WHERE $bPred)
         |SELECT query_id, rank, neighbor_id FROM (
         |  SELECT q.query_id, b.id AS neighbor_id,
         |         row_number() OVER (PARTITION BY q.query_id ORDER BY
         |           list_sum(list_transform(range(1, len(q.qb) + 1),
         |             i -> bit_count(xor(q.qb[CAST(i AS INT)], b.bb[CAST(i AS INT)])))),
         |           b.id) AS rank
         |  FROM q CROSS JOIN b)
         |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
    "q09_knn_jaccard" -> jaccardSql,
    "q10_batch_query" -> knnSqlCustom("list_distance(q.qv, b.v)",
      qWhere = Split.testSql("vec_id")),
    "q11_gt_top100" -> knnSqlCustom("list_distance(q.qv, b.v)", k = 100),
    "q13_big_query" ->
      s"""WITH q AS (SELECT vec_id AS query_id,
         |            flatten(list_transform(range(1, 25),
         |              i -> embedding::DOUBLE[])) AS qv
         |           FROM embeddings WHERE $qPred),
         |     b AS (SELECT vec_id AS id,
         |            flatten(list_transform(range(1, 25),
         |              i -> embedding::DOUBLE[])) AS v
         |           FROM embeddings WHERE $bPred)
         |SELECT query_id, rank, neighbor_id FROM (
         |  SELECT q.query_id, b.id AS neighbor_id,
         |         row_number() OVER (PARTITION BY q.query_id
         |                            ORDER BY list_distance(q.qv, b.v), b.id) AS rank
         |  FROM q CROSS JOIN b)
         |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
    "q48_search_iterator" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |           FROM embeddings WHERE $qPred),
         |     b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
         |           FROM embeddings WHERE $bPred)
         |SELECT query_id, (rank - 1) // $PageSize + 1 AS page, rank, neighbor_id
         |FROM (
         |  SELECT q.query_id, b.id AS neighbor_id,
         |         row_number() OVER (PARTITION BY q.query_id
         |                            ORDER BY list_distance(q.qv, b.v), b.id) AS rank
         |  FROM q CROSS JOIN b)
         |WHERE rank <= ${PageSize * NPages} ORDER BY query_id, rank""".stripMargin,
    "q47_grouped_search" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |           FROM embeddings WHERE $qPred),
         |     b AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS label,
         |                  embedding::DOUBLE[] AS v
         |           FROM embeddings WHERE $bPred),
         |     scored AS (SELECT q.query_id, b.id, b.label,
         |                       list_distance(q.qv, b.v) AS score
         |                FROM q CROSS JOIN b),
         |     champ AS (SELECT query_id, label, id, score,
         |                      row_number() OVER (PARTITION BY query_id, label
         |                                         ORDER BY score, id) AS mr
         |               FROM scored)
         |SELECT query_id, rank, label, neighbor_id FROM (
         |  SELECT query_id, label, id AS neighbor_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY score, label) AS rank
         |  FROM champ WHERE mr = 1)
         |WHERE rank <= $GroupG ORDER BY query_id, rank""".stripMargin
  )
}
