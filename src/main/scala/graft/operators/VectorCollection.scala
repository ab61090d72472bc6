package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's BaseANN serving surface
  * (/root/reference/bigvectorbench/algorithms/base/module.py:63-183 —
  * load_data / create_index / query / batch_query / insert / update /
  * delete / num_entities) mapped 1:1 onto the Spark operators, so a
  * reference user keeps their calling convention: a collection handle
  * with a built index and CRUD. Spark-shaped differences, by design:
  *
  *  - mutations take BATCHES (DataFrames), not single rows — the
  *    micro-batch compaction model that survives at 100 TB; a single
  *    row is just a 1-row batch.
  *  - `query` (the reference's per-vector call) is served from the
  *    built IVF index; `batchQuery` is the whole-DataFrame throughput
  *    path. Both accept the reference's filter expression as a
  *    Column predicate.
  *
  * `quantization` picks the in-cell scan the reference selects by
  * index type (milvus-ivfflat / ivfsq8 / ivfpq / scann):
  *
  *  - `"none"`   — exact vectors (IVF_FLAT); any metric.
  *  - `"sq8"`    — int8 affine codes, distance fused over codes
  *                 (IVF_SQ8); Euclidean.
  *  - `"pq"`     — product-quantization ADC scan + exact re-rank
  *                 (IVF_PQ) in one pass over the stored table;
  *                 Euclidean.
  *  - `"pq_aniso"` — SCANN-family score-aware codes, MIPS ADC +
  *                 exact re-rank in the same one pass; InnerProduct.
  *
  * Quantization models are trained once in `createIndex` and FROZEN,
  * like the centroids: every mutation batch is encoded against the
  * existing models (O(batch), no rebuild — q28's contract).
  *
  * State is ONE checkpointed table — (id, vec, ...) before
  * `createIndex`, the assigned (id, vec, ..., cluster[, codes]) table
  * after it — plus broadcastable centroids/models. Every mutation
  * re-assigns ONLY its batch, exactly like q28, and is one map-only
  * pass over the stored table: the batch is the only data shuffled
  * ([[Mutations.applyBatch]]). The checkpoint job that stores each
  * write also counts its rows, so `numEntities` runs no job.
  */
class VectorCollection(
    spark: SparkSession,
    initial: DataFrame, // (id, vec, ...)
    nlist: Int = 16,
    nprobe: Int = 6,
    metric: VecMetric = VecMetric.Euclidean,
    quantization: String = "none",
    pqM: Int = 8,
    pqKStar: Int = 16,
    pqEta: Double = 4.0,
    rerank: Int = 10) {

  require(Set("none", "sq8", "pq", "pq_aniso")(quantization),
    s"unknown quantization '$quantization'")
  require(quantization != "sq8" && quantization != "pq" ||
    metric == VecMetric.Euclidean,
    s"$quantization serves Euclidean scans")
  require(quantization != "pq_aniso" || metric == VecMetric.InnerProduct,
    "pq_aniso is the score-aware MIPS index: use InnerProduct")

  /** The one stored table: assigned to `cents` once `createIndex` ran. */
  private var table: DataFrame = _
  private var rows = 0L
  private var cents: Array[Array[Double]] = _
  private def indexed = cents != null
  private var sq: Sq8Index.Model = _
  private var pq: PqIndex.Model = _

  /** Driver-resident serving replica for the single-query path: a
    * real vector DB answers query() from index state held in the
    * serving process, and below [[ServeLocalRows]] entities the whole
    * cell table IS that state (the same 64k driver budget as
    * GraphSearch's driver-resident top). Populated lazily on first
    * query(), invalidated by every mutation batch (rebuilt from the
    * post-mutation assigned table — O(entities) ≤ the bound), absent
    * above the bound or for quantized modes (their scans stay
    * distributed) — so a corpus-scale collection never pays or holds
    * it. Serving from it is bit-identical to the distributed probed
    * scan: same probe cells ([[IvfIndex.nearestCells]]), the scan's
    * pair kernel and (score, id) top-k heap — spec-gated against a
    * 1-row batchQuery.
    */
  private val ServeLocalRows = 1L << 16
  private var localCells:
    java.util.HashMap[Int, Array[(Long, Array[Float])]] = _
  private var localDirty = true

  store(initial)

  /** Checkpoint `df` as the stored table. The checkpoint job counts
    * the rows on the way (an observed metric), so neither
    * `numEntities` nor the serving bound runs a job of its own.
    */
  private def store(df: DataFrame): Unit = {
    val seen = Observation()
    table = df.observe(seen, count(lit(1)).as("rows")).localCheckpoint(true)
    rows = seen.get("rows").asInstanceOf[Long]
    localDirty = true // the serving replica re-collects from the new table
  }

  private def localServe():
      Option[java.util.HashMap[Int, Array[(Long, Array[Float])]]] = {
    if (localDirty) {
      localDirty = false
      localCells =
        if (quantization != "none" || rows > ServeLocalRows) null
        else {
          val mp = new java.util.HashMap[Int,
            scala.collection.mutable.ArrayBuffer[(Long, Array[Float])]]()
          table.select(col("cluster"), col("id"), col("vec"))
            .collect().foreach { r =>
              mp.computeIfAbsent(r.getInt(0),
                _ => scala.collection.mutable.ArrayBuffer.empty)
                .append((r.getLong(1), r.getSeq[Float](2).toArray))
            }
          val out = new java.util.HashMap[Int, Array[(Long, Array[Float])]]()
          mp.forEach((k, v) => out.put(k, v.toArray): Unit)
          out
        }
    }
    Option(localCells)
  }

  def numEntities: Long = rows

  /** Build the IVF index (+ quantization model) over the current
    * collection (reference create_index). Idempotent; mutations keep
    * it maintained incrementally afterwards. A re-index reads the
    * stored table without its old cell and code columns.
    */
  def createIndex(): Unit = {
    val data = if (indexed) table.drop("cluster", "codes") else table
    val c = IvfIndex.sampleCentroids(data, "vec", nlist)
    quantization match {
      case "none"            => ()
      case "sq8"             => sq = Sq8Index.train(data, "vec")
      case "pq" | "pq_aniso" => pq = PqIndex.sampleModel(data, "vec", pqM, pqKStar)
    }
    // a re-index after mutations re-samples centroids and re-clusters:
    // store() marks the serving replica (keyed by the OLD clustering)
    // for a rebuild, or query() would probe new centroids against
    // stale cells
    store(withCodes(IvfIndex.assign(data, "vec", c)))
    cents = c
  }

  /** Encode a batch against the FROZEN quantization model. */
  private def withCodes(df: DataFrame): DataFrame = quantization match {
    case "none"     => df
    case "sq8"      => df.withColumn("codes", Sq8Index.encode(col("vec"), sq))
    case "pq"       => df.withColumn("codes", PqIndex.encode(col("vec"), pq))
    case "pq_aniso" =>
      df.withColumn("codes", PqIndex.encodeAniso(col("vec"), pq, pqEta))
  }

  private def requireIndex(): Unit =
    require(indexed, "createIndex() must run before queries")

  /** Reference single-vector query: top-n ids, optional filter.
    * Probe selection is driver math over the in-memory centroids
    * ([[IvfIndex.nearestCells]]). Up to [[ServeLocalRows]] entities an
    * unfiltered query runs no Spark job at all; above it, or with a
    * filter, the call runs the batch search on a one-row batch (three
    * jobs for the flat scan: the worklist broadcast, the fused cell
    * scan and the top-k merge) and sorts the ≤ n ranked ids on the
    * driver. Results are bit-identical to a 1-row [[batchQuery]] (spec
    * gate).
    */
  def query(v: Array[Float], n: Int,
      filterExpr: Option[Column] = None): Seq[Long] = {
    requireIndex()
    require(n >= 1, s"n must be >= 1, got $n")
    import spark.implicits._
    // driver-resident serve (see [[localServe]]): probe cells with
    // the same driver math, scan them in process — ZERO Spark jobs
    // per query. filterExpr references collection columns only the
    // distributed scan carries, so a filtered query keeps that path.
    if (filterExpr.isEmpty) localServe() match {
      case Some(cells) =>
        val q = v.map(_.toDouble)
        val kernel = PairKernel(metric)
        val heap = new graft.functions.TopKHeap(n, metric.asc)
        var buf = new Array[Double](q.length)
        for (ci <- IvfIndex.nearestCells(Seq(q), cents, nprobe);
             (id, vec) <- Option(cells.get(ci)).iterator.flatten) {
          if (buf.length < vec.length) buf = new Array[Double](vec.length)
          var i = 0
          while (i < vec.length) { buf(i) = vec(i).toDouble; i += 1 }
          heap.insert(kernel.one(q, buf, math.min(q.length, vec.length)), id)
        }
        return heap.sortedBestFirst.map(_._2).toSeq
      case None => ()
    }
    val q = Seq((0L, v)).toDF("query_id", "qvec")
    val probed = IvfIndex.probedQueries(q, cents, nprobe)
    val base = filterExpr.map(table.filter).getOrElse(table)
    val ranked = if (quantization == "none")
      IvfIndex.searchProbed(base, probed, n, metric)
    else quantSearch(base, n, None, probed)
    ranked.select("rank", "neighbor_id").collect()
      .sortBy(_.getInt(0)).map(_.getLong(1)).toSeq
  }

  /** Reference batch_query: (query_id, qvec) DataFrame in, ranked
    * (query_id, rank, neighbor_id, score) out.
    */
  def batchQuery(queries: DataFrame, n: Int,
      filterExpr: Option[Column] = None): DataFrame = {
    requireIndex()
    val base = filterExpr.map(table.filter).getOrElse(table)
    if (quantization == "none")
      IvfIndex.search(base, queries, cents, n, nprobe, metric)
    else quantSearch(base, n, None,
      IvfIndex.probedQueries(queries, cents, nprobe))
  }

  /** The reference's filtered-query module shape: `queries` carries
    * per-query threshold columns alongside qvec, and `pairFilter`
    * relates them to the collection's attribute columns — evaluated
    * inside the probe join (q39's post-filter plan), so a static
    * `filterExpr` and a per-query `pairFilter` cost the same scan.
    */
  def batchQueryFiltered(queries: DataFrame, n: Int,
      pairFilter: Column): DataFrame = {
    requireIndex()
    if (quantization == "none")
      IvfIndex.search(table, queries, cents, n, nprobe, metric,
        pairFilter = Some(pairFilter))
    else quantSearch(table, n, Some(pairFilter),
      IvfIndex.probedQueries(queries, cents, nprobe))
  }

  /** Quantized in-cell scan: probe cells and score CODES (never the
    * floats) inside probed cells. For PQ, [[PqIndex.search]] keyed on
    * the cell recovers recall in the same pass: the n*rerank best ADC
    * candidates per query are re-ranked by exact distance from their
    * stored vectors, so the stored table is scanned once (the query
    * batch needs distinct query ids). `probed` is the caller's
    * [[IvfIndex.probedQueries]] worklist.
    */
  private def quantSearch(base: DataFrame, n: Int,
      pairFilter: Option[Column], probed: DataFrame): DataFrame = {
    quantization match {
      case "sq8" =>
        Sq8Index.searchProbed(base, probed, sq, n, pairFilter = pairFilter)
      case _ => // pq (L2 table) | pq_aniso (dot table)
        PqIndex.search(base, probed, pq, n, rerank, metric, pairFilter,
          keyed = true)
    }
  }

  /** Grouping search over the collection (q47's operator served from
    * the IVF index — the Milvus grouping_search API): per query, the
    * top-`g` groups by champion member among the probed cells, each
    * with that champion. Runs on the exact vectors inside probed
    * cells for every quantization mode: grouping wants one exact
    * champion per group, and an ADC-then-rerank detour would have to
    * re-rank per group anyway — same scan cost, more moving parts.
    * `groupCol` is any categorical column carried by the collection.
    */
  def groupedQuery(queries: DataFrame, g: Int,
      groupCol: String): DataFrame = {
    requireIndex()
    val probed = IvfIndex.probedQueries(queries, cents, nprobe)
    val raw = metric.score(col("qvec"), col("vec"))
    val rs = if (metric.asc) raw else negate(raw)
    val scored = table.join(broadcast(probed), "cluster")
      .select(col("query_id"), rs.as("rs"),
        col(groupCol).as("grp"), col("id"))
    GroupedSearch.championsOf(scored, g)
  }

  /** Range (ε-neighborhood) search over the collection — q05's
    * operator served from the IVF index: every probed-cell member
    * within `radius` of each query (ascending metrics). Same recall
    * contract as [[batchQuery]]: exact within probed cells, nprobe ==
    * nlist makes it the exact range search (spec gate). Runs on exact
    * vectors under every quantization mode — a radius threshold on
    * quantized scores has no calibrated meaning, the reference's
    * range queries are exact-distance too.
    */
  def rangeQuery(queries: DataFrame, radius: Double): DataFrame = {
    requireIndex()
    require(metric.asc, "rangeQuery expects a distance (ascending) metric")
    IvfIndex.rangeProbed(table,
      IvfIndex.probedQueries(queries, cents, nprobe), radius, metric)
  }

  /** Paginated search over the collection (q48's operator served
    * from the IVF index — the Milvus search_iterator API works over
    * an index, not a full scan): distance-continuation pages over the
    * probed-cell candidate set. The probe set is FIXED across pages
    * (probedQueries is deterministic), so pages tile the probed-cell
    * ranking exactly — at nprobe == nlist that's the full-scan
    * iterator bit-for-bit (the spec gate); at nprobe < nlist recall
    * is the IVF contract, unchanged by pagination depth. Runs on the
    * exact vectors inside probed cells for every quantization mode:
    * a page boundary is a total-order (score, id) cut, and ADC scores
    * are not stable under re-rank across page boundaries.
    */
  def pagedQuery(queries: DataFrame, pageSize: Int,
      nPages: Int): DataFrame = {
    requireIndex()
    val probed = IvfIndex.probedQueries(queries, cents, nprobe)
    KnnSearch.iteratorPages(
      table.join(broadcast(probed), "cluster")
        .select(col("query_id"),
          metric.score(col("qvec"), col("vec")).as("score"), col("id")),
      pageSize, nPages, metric.asc)
  }

  private def applyMutation(upserts: DataFrame, deletes: DataFrame): Unit =
    store(Mutations.applyBatch(table, upserts, deletes, "id"))

  /** An upsert batch in the stored table's shape: assigned to the
    * existing cells and encoded against the frozen model once indexed.
    */
  private def upsertRows(batch: DataFrame): DataFrame =
    if (indexed) withCodes(IvfIndex.assign(batch, "vec", cents)) else batch

  private def emptyKeys: DataFrame = {
    import spark.implicits._
    Seq.empty[Long].toDF("id")
  }

  /** Reference insert: new rows (id, vec, ...). */
  def insert(batch: DataFrame): Unit =
    applyMutation(upsertRows(batch), emptyKeys)

  /** Reference update: replace same-id rows (insert if absent). */
  def update(batch: DataFrame): Unit =
    applyMutation(upsertRows(batch), emptyKeys)

  /** Reference delete by id. */
  def delete(ids: DataFrame): Unit =
    applyMutation(table.limit(0), ids.select("id"))
}

/** The reference's multi-vector collection
  * (/root/reference/bigvectorbench/algorithms/milvus/module.py:331-458
  * MilvusMultiVector: an entity carries several vector fields, each
  * with its OWN index; hybrid_search issues one AnnSearchRequest per
  * field and fuses with RRFRanker). Spark shape: one
  * [[VectorCollection]] per field over the same id space — every
  * field keeps q20's IVF serving plan and q28's O(batch) mutation
  * contract — and [[hybridQuery]] is q49's fusion (per-field
  * top-`perFieldK` lists from the probed cells, RRF in pinned field
  * order, fusion cost fields x Q x perFieldK independent of base
  * size).
  *
  * `initial` carries `id` plus one vector column per entry of
  * `fields`; `queries` to [[hybridQuery]] carries `query_id` plus the
  * matching query-vector columns (same names).
  */
class MultiVectorCollection(
    spark: SparkSession,
    initial: DataFrame, // (id, <field cols>...)
    fields: Seq[String],
    nlist: Int = 16,
    nprobe: Int = 6,
    metric: VecMetric = VecMetric.Cosine) {
  require(fields.nonEmpty, "at least one vector field")

  private val cols: Seq[VectorCollection] = fields.map { f =>
    new VectorCollection(spark,
      initial.select(col("id"), col(f).as("vec")),
      nlist, nprobe, metric)
  }

  def numEntities: Long = cols.head.numEntities

  /** Build every field's index (reference create_index over a
    * multi-vector schema builds one index per vector field).
    */
  def createIndex(): Unit = cols.foreach(_.createIndex())

  /** The reference hybrid_search: per-field ANN against that field's
    * index, RRF-fused top-`n` per query.
    */
  def hybridQuery(queries: DataFrame, n: Int, perFieldK: Int = 50,
      rrfK: Int = 60): DataFrame = {
    val perField = fields.zip(cols).map { case (f, c) =>
      c.batchQuery(
        queries.select(col("query_id"), col(f).as("qvec")), perFieldK)
    }
    MultiVectorSearch.fuseRrf(perField, n, rrfK)
  }

  private def fieldBatch(batch: DataFrame, f: String): DataFrame =
    batch.select(col("id"), col(f).as("vec"))

  // the fan-out is not transactional: a mid-loop failure would leave
  // the per-field collections diverged, so reject malformed batches
  // BEFORE the first field mutates
  private def requireAllFields(batch: DataFrame): Unit = {
    val missing = ("id" +: fields).filterNot(batch.columns.contains)
    require(missing.isEmpty,
      s"mutation batch is missing column(s) ${missing.mkString(", ")}")
  }

  /** Reference insert/update/delete — fan out to every field's
    * collection (the reference's multi-vector CRUD mutates all vector
    * fields of the entity batch).
    */
  def insert(batch: DataFrame): Unit = {
    requireAllFields(batch)
    fields.zip(cols).foreach { case (f, c) => c.insert(fieldBatch(batch, f)) }
  }
  def update(batch: DataFrame): Unit = {
    requireAllFields(batch)
    fields.zip(cols).foreach { case (f, c) => c.update(fieldBatch(batch, f)) }
  }
  def delete(ids: DataFrame): Unit = cols.foreach(_.delete(ids))
}
