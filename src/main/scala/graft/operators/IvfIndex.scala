package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.functions._

/** IVF-FLAT — the Spark-native analog of the reference's
  * milvus-ivfflat / vearch-ivfflat index family (README "Supported
  * Databases"). Build: MLlib KMeans partitions the corpus into nlist
  * cells; centroids (tiny) broadcast everywhere. Search: each query
  * probes its nprobe nearest cells, so the scan touches
  * ~nprobe/nlist of the data.
  *
  * Search is one streamed pass: the driver ranks the centroids for the
  * query batch it broadcasts anyway ([[probedQueries]], Q × nlist
  * distances), and [[KnnTopKExec]] scores each base row against only
  * the probe rows of its own cell, into per-query heaps.
  *
  * 100 TB shape: persist the assigned table partitioned/bucketed by
  * `cluster` — the probed cells then become partition pruning and the
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

  /** Column: index of the nearest centroid (first-min tie-break), one
    * codegen'd pass ([[NearestCentroid]]). The distance is vec_l2 (not
    * l2sq): the sqrt'd value is what DuckDB list_distance computes, and
    * oracle parity needs the compared doubles to be bit-identical, not
    * merely order-equivalent (two distinct squared distances can round
    * to the same sqrt).
    */
  def nearestCluster(vec: Column, cents: Array[Array[Double]]): Column =
    nearest_centroid(vec, cents)

  /** Assign every row to its cell. */
  def assign(df: DataFrame, vecCol: String,
      cents: Array[Array[Double]]): DataFrame =
    df.withColumn("cluster", nearestCluster(col(vecCol), cents))

  /** The nprobe cells nearest to `vecs`, nearest first: the L2
    * distance to every centroid (VecL2's float→double widening and
    * index-ordered sum) ranked by (distance, cell) as collect_topk
    * ranks. Several vectors share one ranking over all their distances,
    * as the rows of one query id do. The one probe routine: the batch
    * worklists below, the single-vector serving path and each level of
    * [[IvfTree]]'s descent pick their cells here.
    */
  def nearestCells(vecs: Seq[Array[Double]], cents: Array[Array[Double]],
      nprobe: Int): Array[Int] = {
    val heap = new TopKHeap(nprobe, asc = true)
    val l2 = PairKernel(VecMetric.Euclidean)
    for (v <- vecs; i <- cents.indices)
      heap.insert(l2.one(v, cents(i), math.min(v.length, cents(i).length)), i)
    heap.sortedBestFirst.map(_._2.toInt)
  }

  /** The query batch collected to the driver — Q rows, the batch the
    * cell scan broadcasts anyway — as (query id, its rows, their cells)
    * in first-seen order, the cells picked by `probe` from the id's
    * vectors (Q × nlist × dim multiply-adds for [[nearestCells]]). A
    * row with a null id probes nothing; a null vector adds no distances.
    */
  private def probeGroups(queries: DataFrame,
      probe: Seq[Array[Double]] => Array[Int])
      : Seq[(Any, Seq[Row], Array[Int])] = {
    val qi = queries.schema.fieldIndex("query_id")
    val vi = queries.schema.fieldIndex("qvec")
    val rows = queries.collect().toSeq.filterNot(_.isNullAt(qi))
    val byId = rows.groupBy(_.get(qi))
    rows.map(_.get(qi)).distinct.map { id =>
      val group = byId(id)
      val vecs = group.filterNot(_.isNullAt(vi)).map(_.getSeq[Any](vi)
        .map { case x: java.lang.Number => x.doubleValue; case _ => 0.0 }
        .toArray)
      (id, group, probe(vecs))
    }
  }

  /** (query_id, cluster, rn): each query's probed cells with their
    * probe rank `rn` (1 = nearest) — lets one scan serve a whole nprobe
    * sweep (cells probed at nprobe np are exactly those with
    * rn <= np). A LocalRelation built on the driver.
    */
  def probesRanked(
      queries: DataFrame,
      cents: Array[Array[Double]],
      nprobe: Int): DataFrame = {
    val schema = StructType(Seq(queries.schema("query_id"),
      StructField("cluster", IntegerType, nullable = false),
      StructField("rn", IntegerType, nullable = false)))
    val rows = probeGroups(queries, nearestCells(_, cents, nprobe)).flatMap {
      case (id, _, cells) => cells.indices.map(r => Row(id, cells(r), r + 1))
    }
    queries.sparkSession.createDataFrame(rows.asJava, schema)
  }

  /** The probe worklist (query_id, cluster, then the other columns of
    * `queries` in order): one row per query row and probed cell, Q ×
    * nprobe rows. A LocalRelation built on the driver, so the scan
    * broadcasts it without a job, and no predicate inferred from the
    * base's cell assignment can reach a re-resolved copy of the base
    * scan through it (the self-join constraint hazard of a worklist
    * planned from the queries' lineage).
    */
  def probedQueries(
      queries: DataFrame,
      cents: Array[Array[Double]],
      nprobe: Int): DataFrame =
    probedQueries(queries, nearestCells(_, cents, nprobe))

  /** [[probedQueries]] with the cells of each query id picked by
    * `probe` from the id's vectors.
    */
  def probedQueries(
      queries: DataFrame,
      probe: Seq[Array[Double]] => Array[Int]): DataFrame = {
    val qi = queries.schema.fieldIndex("query_id")
    val rest = queries.schema.fields.indices.filter(_ != qi)
    val schema = StructType(queries.schema("query_id") +:
      StructField("cluster", IntegerType, nullable = false) +:
      rest.map(queries.schema.fields(_)))
    val rows = probeGroups(queries, probe).flatMap {
      case (id, group, cells) => for (r <- group; c <- cells)
        yield Row.fromSeq(id +: c +: rest.map(r.get))
    }
    queries.sparkSession.createDataFrame(rows.asJava, schema)
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

  /** Search a persisted index: the probed cells prune partitions at
    * the scan, then [[searchProbed]] scores them.
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
    searchProbed(probedCells(spark, indexPath, probed), probed, k, metric)
  }

  /** The cell-partitioned index persisted at `path`, read only in the
    * cells of the `probed` worklist: isin() on the partition column
    * prunes directories. The distinct probed cells are at most
    * Q × nprobe ints.
    */
  def probedCells(spark: org.apache.spark.sql.SparkSession, path: String,
      probed: DataFrame): DataFrame = {
    val cells = probed.select("cluster").distinct()
      .collect().map(_.getInt(0)).toSeq
    graft.Tables.parquetAt(spark, path).filter(col("cluster").isin(cells: _*))
  }

  /** IVF search: exact distance inside each query's probed cells.
    * assigned: (id, vec, cluster); queries: (query_id, qvec).
    * Returns (query_id, rank, neighbor_id, score).
    *
    * `pairFilter` (filtered ANN, post-filter strategy): a predicate
    * over base attributes x per-query thresholds, evaluated on each
    * (base row, probe row) pair of a cell BEFORE scoring —
    * non-qualifying candidates never reach the distance kernel or the
    * top-k heaps, so the filter rides the same scan the search already
    * does (no second pass, no per-query jobs). Queries whose filter
    * survives fewer than k candidates in the probed cells return fewer
    * rows, mirroring the reference's filtered-query semantics.
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

  /** [[search]] with the probe worklist supplied. One streamed pass:
    * [[KnnTopKExec]] keyed on `cluster` scores each base row against
    * the broadcast probe rows of its own cell, and [[KnnSearch.topKOf]]
    * merges the per-partition heaps.
    */
  def searchProbed(
      assigned: DataFrame,
      probed: DataFrame,
      k: Int,
      metric: VecMetric,
      pairFilter: Option[Column] = None): DataFrame =
    KnnSearch.topKOf(KnnTopK.scan(assigned, probed, k, metric,
      assigned("id"), assigned("vec"), probed("query_id"), probed("qvec"),
      pairFilter, Some((assigned("cluster"), probed("cluster")))),
      k, metric.asc)

  /** Range search inside the probed cells: every (query_id, score,
    * neighbor_id) of a `probed` row and a base row of its cell with
    * score <= `radius` (an ascending metric). No aggregate: the reduce
    * is a scan-local filter, so nprobe == nlist is the exact range
    * search.
    */
  def rangeProbed(
      assigned: DataFrame,
      probed: DataFrame,
      radius: Double,
      metric: VecMetric): DataFrame =
    assigned.join(broadcast(probed), "cluster")
      .select(col("query_id"),
        metric.score(col("qvec"), col("vec")).as("score"),
        col("id").as("neighbor_id"))
      .filter(col("score") <= radius)
}
