package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions._

/** Distance metric surface of the reference
  * (/root/reference/bigvectorbench/distance.py:32-47).
  * `score` is what we rank by; `asc=true` means smaller is better.
  */
sealed trait VecMetric {
  def score(q: Column, v: Column): Column
  def asc: Boolean

  /** Driver-side scalar twin of [[score]]: the SAME float→double
    * widening and index-ordered accumulation as the codegen'd kernels
    * (VectorExpressions), so a driver-resident search phase is
    * bit-identical to the distributed one — the contract the
    * collection's driver-resident serving path rests on.
    */
  def localScore(q: Array[Float], v: Array[Float]): Double
}
object VecMetric {
  case object Euclidean extends VecMetric {
    def score(q: Column, v: Column): Column = vec_l2(q, v)
    val asc = true
    def localScore(q: Array[Float], v: Array[Float]): Double = {
      var acc = 0.0; var i = 0; val n = math.min(q.length, v.length)
      while (i < n) {
        val d = q(i).toDouble - v(i).toDouble; acc += d * d; i += 1
      }
      math.sqrt(acc)
    }
  }
  /** rank by cosine similarity descending == angular distance ascending */
  case object Cosine extends VecMetric {
    def score(q: Column, v: Column): Column = vec_cosine_sim(q, v)
    val asc = false
    def localScore(q: Array[Float], v: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0; val n = math.min(q.length, v.length)
      while (i < n) {
        val u = q(i).toDouble; val w = v(i).toDouble
        dot += u * w; na += u * u; nb += w * w; i += 1
      }
      dot / math.sqrt(na * nb)
    }
  }
  case object InnerProduct extends VecMetric {
    def score(q: Column, v: Column): Column = vec_dot(q, v)
    val asc = false
    def localScore(q: Array[Float], v: Array[Float]): Double = {
      var acc = 0.0; var i = 0; val n = math.min(q.length, v.length)
      while (i < n) { acc += q(i).toDouble * v(i).toDouble; i += 1 }
      acc
    }
  }
  case object SignHamming extends VecMetric {
    def score(q: Column, v: Column): Column =
      vec_sign_hamming(q, v).cast("double")
    val asc = true
    def localScore(q: Array[Float], v: Array[Float]): Double = {
      var acc = 0L; var i = 0; val n = math.min(q.length, v.length)
      while (i < n) {
        if ((q(i) > 0) != (v(i) > 0)) acc += 1L
        i += 1
      }
      acc.toDouble
    }
  }
}

/** Exact batch kNN, the Spark-shaped `BaseANN.query`/`batch_query`
  * (/root/reference/bigvectorbench/algorithms/base/module.py:88-127).
  *
  * Plan shape (the 100 TB story): the query batch is broadcast and the
  * base table streams once through [[KnnTopKExec]], which scores each
  * base row against the whole batch and keeps one k-sized heap per
  * query and partition; CollectTopK merges those partial heaps — one
  * full scan, no N x Q rows, no shuffle of the base, no sort.
  */
object KnnSearch {

  /** base: (id, vec, ...), queries: (query_id, qvec).
    * Returns (query_id, rank, neighbor_id, score), rank 1 = best.
    *
    * `preFilter` is a base-only predicate (pushed into the scan);
    * `pairFilter` may reference BOTH sides — the reference's per-query
    * compound filter workload (runner.py:62-88), where each query
    * carries its own threshold tuple. [[KnnTopKExec]] evaluates it on
    * each (base row, query) pair before scoring, so non-qualifying
    * pairs die with the scan stream before any distance is computed.
    */
  def bruteForce(
      base: DataFrame,
      queries: DataFrame,
      k: Int,
      metric: VecMetric,
      idCol: String = "id",
      vecCol: String = "vec",
      qidCol: String = "query_id",
      qvecCol: String = "qvec",
      preFilter: Option[Column] = None,
      pairFilter: Option[Column] = None): DataFrame = {
    val filtered = preFilter.map(base.filter).getOrElse(base)
    topKOf(KnnTopK.scan(filtered, queries, k, metric, col(idCol),
      col(vecCol), col(qidCol), col(qvecCol), pairFilter), k, metric.asc)
  }

  /** Batch kNN for UNBOUNDED query sets (the reference's whole-table
    * batch_query): [[bruteForce]] broadcasts the query side, which is
    * right for a bounded batch but becomes a multi-GB broadcast (and a
    * driver/executor OOM) when the query set is the whole table. Here
    * neither side is broadcast: queries hash into nbQ blocks, base
    * rows into nbB blocks, and the (qb, bb) grid is a shuffled
    * equi-join — every query block meets every base block exactly
    * once, per-task memory is bounded by two blocks, and the
    * CollectTopK partial aggregation still bounds the final shuffle at
    * O(nbB * Q * k) regardless of N. Output is identical to
    * [[bruteForce]] (same scored set, same tie-breaks).
    */
  def bruteForceBlocked(
      base: DataFrame,
      queries: DataFrame,
      k: Int,
      metric: VecMetric,
      idCol: String = "id",
      vecCol: String = "vec",
      qidCol: String = "query_id",
      qvecCol: String = "qvec",
      preFilter: Option[Column] = None,
      pairFilter: Option[Column] = None,
      blockRows: Int = 8192,
      baseRows: Option[Long] = None,
      queryRows: Option[Long] = None): DataFrame = {
    val filtered = preFilter.map(base.filter).getOrElse(base)
    val p = base.sparkSession.sessionState.conf.numShufflePartitions
    val minBlocks = math.ceil(math.sqrt(p.toDouble)).toInt
    // the scored set is identical for any grid
    val nbQ = gridBlocks(queries, blockRows, minBlocks, queryRows)
    val nbB = gridBlocks(filtered, blockRows, minBlocks, baseRows)
    val qx = queries.select(col(qidCol).as("query_id"),
      col(qvecCol).as("qvec"),
      pmod(xxhash64(col(qidCol)), lit(nbQ)).cast("int").as("qb"),
      explode(expr(s"sequence(0, ${nbB - 1})")).as("bb"))
    val bx = filtered.select(col(idCol).as("id"), col(vecCol).as("vec"),
      pmod(xxhash64(col(idCol)), lit(nbB)).cast("int").as("bb"),
      explode(expr(s"sequence(0, ${nbQ - 1})")).as("qb"))
    val joined = qx.join(bx, Seq("qb", "bb"))
    val kept = pairFilter.map(joined.filter).getOrElse(joined)
    val scored = kept
      .select(col("query_id"),
        metric.score(col("qvec"), col("vec")).as("score"),
        col("id"))
    topKOf(scored, k, metric.asc)
  }

  /** Blocks of `blockRows` rows in a block-grid join over `df`, at
    * least `floor`: from the caller's row count `expected`, else the
    * plan STATISTICS — never a count() job (at 100 TB a full scan per
    * call). Block counts shape the grid only, so an estimate is safe.
    * When the stats carry no rowCount (no CBO), blocks are sized by
    * bytes at the ~1 KiB/row of a 128-dim float64 vector — only the
    * order matters.
    */
  private[operators] def gridBlocks(df: DataFrame, blockRows: Int,
      floor: Int, expected: Option[Long] = None): Int = {
    val stats = df.queryExecution.optimizedPlan.stats
    val byRows = expected.orElse(stats.rowCount.map(_.toLong))
      .map(n => (n + blockRows - 1) / blockRows)
    // clamp before toInt: an unknown-size relation reports
    // sizeInBytes = Long.MaxValue and must not wrap negative
    val byBytes =
      (stats.sizeInBytes / (blockRows.toLong * 1024L)).min(1 << 24)
    math.max(byRows.getOrElse(byBytes.toLong).min(1 << 24).toInt, floor)
      .max(1)
  }

  /** (query_id, score, id) -> ranked top-k per query. */
  def topKOf(scored: DataFrame, k: Int, asc: Boolean): DataFrame =
    ranked(scored, collect_topk(col("score"), col("id"), k, asc))

  /** `scored` grouped by query_id and folded by `topk`, an aggregate
    * returning array<struct<id, score>> best-first, into ranked rows.
    */
  private[operators] def ranked(scored: DataFrame, topk: Column): DataFrame =
    scored.groupBy("query_id")
      .agg(topk.as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(
        col("query_id"),
        (col("pos") + 1).as("rank"),
        col("col.id").as("neighbor_id"),
        col("col.score").as("score"))

  /** Paginated search via DISTANCE CONTINUATION — the batch shape of
    * the reference ecosystem's search_iterator / offset+limit API
    * (Milvus search pagination; the reference harness pages ground
    * truth the same way, datasets.py write_output's top-100 slices).
    *
    * Page p+1 re-scans the base keeping only pairs strictly AFTER
    * page p's per-query boundary in the total order (score, id) —
    * exactly how a production iterator resumes without recomputing or
    * buffering the first offset rows. The naive alternative (top
    * (offset+limit) then drop offset) grows the per-partition heap
    * linearly with page depth; the continuation keeps every page's
    * heap at `pageSize` regardless of how deep the iterator walks,
    * which is what makes deep pagination viable over an unbounded
    * base. Each page is Q x pageSize rows, materialised (tiny) so its
    * boundary feeds the next page without re-running the scan chain.
    *
    * A query whose page came back short is exhausted: it has no
    * rank == pageSize boundary row, so the inner join drops it from
    * every later page — the iterator's natural end-of-stream.
    *
    * Returns (query_id, page, rank, neighbor_id, score) with `rank`
    * GLOBAL across pages; a correct iterator reproduces the one-shot
    * top-(nPages x pageSize) ranking exactly (the oracle gate — any
    * row dropped or duplicated at a page boundary breaks it).
    */
  def searchIterator(
      base: DataFrame,
      queries: DataFrame,
      pageSize: Int,
      nPages: Int,
      metric: VecMetric): DataFrame =
    iteratorPages(
      base.crossJoin(broadcast(queries)).select(col("query_id"),
        metric.score(col("qvec"), col("vec")).as("score"), col("id")),
      pageSize, nPages, metric.asc)

  /** The continuation loop behind [[searchIterator]], reusable over
    * ANY (query_id, score, id) candidate producer (the IVF-served
    * path feeds it probed-cell scans): each page keeps only rows
    * strictly after the previous page's per-query (score, id)
    * boundary in the ranking's total order — (score asc|desc, id
    * asc), the same order CollectTopK ranks by — so pages tile the
    * producer's global ranking. The boundary join is broadcast (Q
    * rows) and the filter runs map-side with the scan.
    */
  def iteratorPages(scored: => DataFrame, pageSize: Int, nPages: Int,
      asc: Boolean): DataFrame = {
    require(pageSize >= 1 && nPages >= 1,
      s"iteratorPages needs pageSize >= 1 and nPages >= 1, " +
        s"got pageSize=$pageSize nPages=$nPages")
    var boundary: Option[DataFrame] = None
    val pages = (1 to nPages).map { p =>
      val kept = boundary match {
        case None => scored
        case Some(b) =>
          val after =
            if (asc) col("score") > col("b_score")
            else col("score") < col("b_score")
          scored.join(broadcast(b), "query_id")
            .filter(after ||
              (col("score") === col("b_score") && col("id") > col("b_id")))
            .select("query_id", "score", "id")
      }
      val page = topKOf(kept, pageSize, asc)
        .withColumn("page", lit(p))
        .localCheckpoint(true) // Q x pageSize rows; boundary feeds page p+1
      boundary = Some(page.filter(col("rank") === pageSize)
        .select(col("query_id"), col("score").as("b_score"),
          col("neighbor_id").as("b_id")))
      page
    }
    pages.reduce(_ unionByName _)
      .select(col("query_id"), col("page"),
        ((col("page") - 1) * pageSize + col("rank")).as("rank"),
        col("neighbor_id"), col("score"))
  }

  /** Range query: every base row within `radius` of each query
    * (ascending metrics) — the ε-neighborhood variant.
    */
  def rangeSearch(
      base: DataFrame,
      queries: DataFrame,
      radius: Double,
      metric: VecMetric,
      idCol: String = "id",
      vecCol: String = "vec",
      qidCol: String = "query_id",
      qvecCol: String = "qvec"): DataFrame = {
    require(metric.asc, "rangeSearch expects a distance (ascending) metric")
    base.crossJoin(broadcast(queries))
      .select(
        col(qidCol).as("query_id"),
        metric.score(col(qvecCol), col(vecCol)).as("score"),
        col(idCol).as("neighbor_id"))
      .filter(col("score") <= radius)
  }
}
