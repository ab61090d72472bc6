package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions._

/** IVF-FLAT — the Spark-native analog of the reference's
  * milvus-ivfflat / vearch-ivfflat index family (README "Supported
  * Databases"). Build: MLlib KMeans partitions the corpus into nlist
  * cells; centroids (tiny) broadcast everywhere. Search: each query
  * probes its nprobe nearest cells, so the scan touches
  * ~nprobe/nlist of the data.
  *
  * 100 TB shape: persist the assigned table partitioned/bucketed by
  * `cluster` — the probe join then becomes partition pruning and the
  * per-query work is a few cells, not the corpus. KMeans trains on a
  * driver-bounded sample; centroid count stays in the thousands.
  */
object IvfIndex {

  /** Train centroids (k x dim) with a fixed seed. */
  def train(base: DataFrame, vecCol: String, k: Int, seed: Long = 42L,
      sampleFraction: Double = 1.0): Array[Array[Double]] = {
    val sample = if (sampleFraction < 1.0)
      base.sample(withReplacement = false, sampleFraction, seed) else base
    // NOTE: no .cache() here — MLlib KMeans caches its internal RDD;
    // caching this Dataset poisons later plan binding via partial-plan
    // cache substitution (attributes from the cached plan leak into
    // canonically-similar subtrees of subsequent queries)
    val feats = sample.select(array_to_vector(col(vecCol).cast("array<double>"))
      .as("__feat"))
    // k-means|| init costs a few extra jobs but its balanced cells
    // are what IVF recall rides on (random init measured ~10 recall
    // points worse on uniform data); this is a one-time build cost
    val km = new KMeans().setK(k).setSeed(seed).setFeaturesCol("__feat")
      .setPredictionCol("__pred").setMaxIter(8)
    km.fit(feats).clusterCenters.map(_.toArray)
  }

  /** Deterministic centroids: the k vectors with smallest id — faiss-
    * style sample init (ids are uncorrelated with position in space,
    * so this is random sampling with a reproducible, engine-portable
    * order). The DuckDB oracle replicates it as ORDER BY id LIMIT k,
    * which is what lets IVF queries be hash-match gated; the KMeans
    * [[train]] path stays as the recall-tuned alternative.
    */
  def sampleCentroids(base: DataFrame, vecCol: String, k: Int,
      idCol: String = "id"): Array[Array[Double]] =
    base.orderBy(idCol).limit(k)
      .select(col(vecCol).cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)

  /** Column: distances from `vec` to every centroid (array<double>).
    * vec_l2 (not l2sq): the sqrt'd value is what DuckDB list_distance
    * computes, and oracle parity needs the compared doubles to be
    * bit-identical, not merely order-equivalent (two distinct squared
    * distances can round to the same sqrt).
    */
  private def centroidDists(vec: Column, cents: Array[Array[Double]]): Column = {
    val cb = typedlit(cents.map(_.toSeq).toSeq)
    transform(cb, c => vec_l2(vec, c))
  }

  /** Column: index of the nearest centroid (first-min tie-break). */
  def nearestCluster(vec: Column, cents: Array[Array[Double]]): Column = {
    val d = centroidDists(vec, cents)
    (array_position(d, array_min(d)) - 1).cast("int")
  }

  /** Assign every row to its cell. */
  def assign(df: DataFrame, vecCol: String,
      cents: Array[Array[Double]]): DataFrame =
    df.withColumn("cluster", nearestCluster(col(vecCol), cents))

  /** (query_id, cluster) pairs: each query's nprobe nearest cells,
    * computed as a tiny top-k over queries x centroids (Q x nlist
    * rows — driver-free, no giant centroid literals in the probe
    * expression tree).
    */
  def probes(
      queries: DataFrame,
      cents: Array[Array[Double]],
      nprobe: Int): DataFrame =
    probesRanked(queries, cents, nprobe).select("query_id", "cluster")

  /** [[probes]] keeping each cell's probe rank `rn` (1 = nearest) —
    * lets one scan serve a whole nprobe sweep (cells probed at nprobe
    * np are exactly those with rn <= np).
    */
  def probesRanked(
      queries: DataFrame,
      cents: Array[Array[Double]],
      nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val centsDf = cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster", "centroid")
    val scored = queries.crossJoin(broadcast(centsDf))
      .select(col("query_id"),
        vec_l2(col("qvec"), col("centroid")).as("score"),
        col("cluster").cast("long").as("id"))
    KnnSearch.topKOf(scored, nprobe, asc = true)
      .select(col("query_id"), col("neighbor_id").cast("int").as("cluster"),
        col("rank").as("rn"))
  }

  /** (query_id, cluster, qvec) — the probe worklist with the query
    * vector attached, eagerly materialised (Q x nprobe rows, tiny by
    * contract). Materialising matters beyond the shuffle savings: it
    * makes the broadcast side of the big probe-join a plain
    * LogicalRDD, so constraint inference can't push a predicate
    * built from the *assignment* expression (which references the
    * base scan) into a re-resolved copy of the same scan — a
    * self-join constraint-propagation hazard on Spark 4.1.
    */
  def probedQueries(
      queries: DataFrame,
      cents: Array[Array[Double]],
      nprobe: Int): DataFrame =
    probes(queries, cents, nprobe)
      .join(queries, "query_id")
      .localCheckpoint(true)

  /** [[probedQueries]] for a DRIVER-LOCAL query batch — the serving
    * fast path: probe selection is plain Scala over the in-memory
    * centroids (which already live on the driver), so a single-vector
    * query spends ZERO Spark jobs picking its cells; only the
    * probed-cell scan itself is distributed. The returned frame is a
    * LocalRelation, which also sidesteps the self-join
    * constraint-propagation hazard the eager materialisation above
    * exists for. Bit-identical to [[probedQueries]]: the same
    * float→double widened, index-ordered L2 loop as [[VecL2]] and the
    * same (distance, cluster) tie-break.
    */
  def probedQueriesLocal(
      spark: org.apache.spark.sql.SparkSession,
      queries: Seq[(Long, Array[Float])],
      cents: Array[Array[Double]],
      nprobe: Int): DataFrame = {
    import spark.implicits._
    queries.flatMap { case (qid, v) =>
      val scored = cents.zipWithIndex.map { case (c, i) =>
        var acc = 0.0
        var j = 0
        val m = math.min(v.length, c.length)
        while (j < m) { val d = v(j).toDouble - c(j); acc += d * d; j += 1 }
        (math.sqrt(acc), i)
      }
      scored.sortBy { case (d, i) => (d, i) }.take(nprobe)
        .map { case (_, i) => (qid, i, v) }
    }.toDF("query_id", "cluster", "qvec")
  }

  /** Persist the assigned table partitioned by cell — at 100 TB this
    * is the index layout: each cell is a partition directory, and a
    * probe-filtered scan reads only nprobe/nlist of the data via
    * partition pruning (PartitionFilters in the scan, no I/O for
    * unprobed cells).
    */
  def persistIndex(assigned: DataFrame, path: String): Unit =
    assigned.write.mode("overwrite").partitionBy("cluster").parquet(path)

  /** Apply a mutation batch to a PERSISTED cluster-partitioned index
    * incrementally: only the touched cell partitions (where upserts
    * land + where mutated keys lived) are rewritten via dynamic
    * partition overwrite, and cells the deletes emptied are dropped
    * explicitly — dynamic overwrite leaves a partition dir alone when
    * the merged batch has no rows for it, so without the drop its
    * stale rows would survive. Per-batch I/O is O(batch + touched
    * cells), never O(N).
    *
    * upsAssigned: (id, vec, cluster) — the batch already assigned to
    * the EXISTING centroids; deletes: (id).
    */
  def upsertPersisted(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      upsAssigned0: DataFrame,
      deletes: DataFrame): Unit = {
    val upsAssigned = upsAssigned0.localCheckpoint(true)
    val idx = graft.Tables.parquetAt(spark, path)
    val touchedKeys = upsAssigned.select("id")
      .unionAll(deletes.select("id")).distinct()
    val touched = idx.join(touchedKeys, "id").select("cluster")
      .unionAll(upsAssigned.select("cluster"))
      .distinct().collect().map(_.getInt(0)).toSeq
    // materialise BEFORE overwriting the path the plan reads from
    val merged = Mutations.applyBatch(
      idx.filter(col("cluster").isin(touched: _*)),
      upsAssigned, deletes, "id").localCheckpoint(true)
    // the merge keeps the scan's partitioning, which would spread a
    // cell over several files on every write; rebalancing on the cell
    // shuffles only the touched cells' rows (rewritten in full anyway)
    // and lets AQE size the writers, so small cells stay one file
    merged.hint("rebalance", col("cluster")).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cluster").parquet(path)
    val nonEmpty = merged.select("cluster").distinct()
      .collect().map(_.getInt(0)).toSet
    touched.filterNot(nonEmpty).foreach { c =>
      val d = java.nio.file.Paths.get(path, s"cluster=$c")
      if (java.nio.file.Files.exists(d)) {
        java.nio.file.Files.walk(d)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.delete(f))
      }
    }
  }

  /** Search a persisted index: the probe set prunes partitions at the
    * scan, then the per-query probe join restricts candidate pairs.
    */
  def searchPersisted(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      queries: DataFrame,
      cents: Array[Array[Double]],
      k: Int,
      nprobe: Int,
      metric: VecMetric): DataFrame = {
    val probed = probedQueries(queries, cents, nprobe)
    // the distinct probed cells are at most Q x nprobe ints — safe to
    // collect; isin() on the partition column prunes directories
    val cells = probed.select("cluster").distinct()
      .collect().map(_.getInt(0)).toSeq
    val scan = graft.Tables.parquetAt(spark, indexPath)
      .filter(col("cluster").isin(cells: _*))
    val scored = scan
      .join(broadcast(probed), "cluster")
      .select(
        col("query_id"),
        metric.score(col("qvec"), col("vec")).as("score"),
        col("id"))
    KnnSearch.topKOf(scored, k, metric.asc)
  }

  /** IVF search: probe-join + exact distance inside probed cells.
    * assigned: (id, vec, cluster); queries: (query_id, qvec).
    * Returns (query_id, rank, neighbor_id, score).
    *
    * `pairFilter` (filtered ANN, post-filter strategy): a predicate
    * over base attributes x per-query thresholds, evaluated ON the
    * probe join BEFORE scoring — non-qualifying candidates never reach
    * the distance kernel or the top-k heaps, so the filter rides the
    * same scan the search already does (no second pass, no per-query
    * jobs). Queries whose filter survives fewer than k candidates in
    * the probed cells return fewer rows, mirroring the reference's
    * filtered-query semantics.
    */
  def search(
      assigned: DataFrame,
      queries: DataFrame,
      cents: Array[Array[Double]],
      k: Int,
      nprobe: Int,
      metric: VecMetric,
      pairFilter: Option[Column] = None): DataFrame =
    searchProbed(assigned, probedQueries(queries, cents, nprobe), k,
      metric, pairFilter)

  /** [[search]] with the probe worklist supplied — lets the serving
    * path substitute [[probedQueriesLocal]] for a driver-local batch.
    */
  def searchProbed(
      assigned: DataFrame,
      probed: DataFrame,
      k: Int,
      metric: VecMetric,
      pairFilter: Option[Column] = None): DataFrame = {
    val joined = assigned.join(broadcast(probed), "cluster")
    val scored = pairFilter.fold(joined)(joined.filter)
      .select(
        col("query_id"),
        metric.score(col("qvec"), col("vec")).as("score"),
        col("id"))
    KnnSearch.topKOf(scored, k, metric.asc)
  }
}
