package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators._

/** Index-structure suite (SURVEY.md §2 q12, q20-q27): Spark-native
  * analogs of the reference's FLAT/IVF/PQ/SQ8/LSH/graph index
  * families. Every build here is *deterministic and engine-portable*
  * (sample-init centroids/codebooks/planes, polynomial token hashes),
  * so each query carries a DuckDB oracle that rebuilds the identical
  * index in SQL and hash-matches the result. The learned (KMeans /
  * Gaussian) builds stay available on the operators and are exercised
  * with recall contracts in IndexSpec.
  */
object IndexQueries {
  val K = 10
  val NQ = 10
  val NList = 16
  val NProbe = 6
  // q39 probes deeper: the compound filter thins each probed cell, so
  // equal-recall filtered search needs a wider cell front
  val FilteredNProbe = 10
  // PQ: 64-dim = 8 subspaces x 8 dims, 16 sample centroids, 10x rerank
  val M = 8
  val SubDim = 8
  val KStar = 16
  val Rerank = 10
  /** q46 anisotropic weight on the parallel residual (eta). */
  val Eta = 4.0
  // RHP-LSH: 8 tables x 6 bits from 96 data-derived hyperplanes
  val NTables = 8
  val NBits = 6
  // MinHash-LSH: 16 bands x 4 rows, query docs < 5
  val Bands = 16
  val RowsPerBand = 4
  val NQDocs = 5
  val MinHashSeed = 42L

  /** Index models are built once and queried many times (the
    * reference's create_index/query split — runner.py builds, then
    * serves). Memoise per (dataset, kind) so q12/q20/q21/q22/q26
    * share one sampled-centroid set instead of re-collecting it.
    */
  // lazy holders (DfCache's discipline): the TrieMap races only on
  // the holder, the winner's lazy val runs the builder at most once —
  // under Verify's worker pool a bare getOrElseUpdate double-built
  // index models (wasted work; a hazard for builders writing to fixed
  // temp paths).
  private final class Model(f: () => AnyRef) { lazy val v: AnyRef = f() }
  private val modelCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), Model]

  private def cached[T <: AnyRef](dir: String, kind: String)(f: => T): T =
    modelCache.getOrElseUpdate((dir, kind), new Model(() => f))
      .v.asInstanceOf[T]

  /** Held-out evaluation ([[Split]], the reference's train_test_split
    * contract): indexes are built over the train split only and the
    * gated query workload comes from the excluded test split, so every
    * recall/ranking below is out-of-sample.
    */
  private def baseAndQueries(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, dir)
    (emb.filter(Split.isTrain(col("vec_id")))
      .select(col("vec_id").as("id"), col("embedding").as("vec")),
      emb.filter(Split.isQuery(col("vec_id"), NQ))
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec")))
  }

  /** Oracle-side split predicates — MUST mirror [[Split]]. */
  private val qPred: String = Split.querySql("vec_id", NQ)
  private val bPred: String = Split.trainSql("vec_id")

  private def ranked(df: DataFrame): DataFrame =
    df.select(col("query_id"), col("rank").cast("long").as("rank"),
      col("neighbor_id")).orderBy("query_id", "rank")

  private def sampleCents(s: SparkSession, dir: String): Array[Array[Double]] =
    cached(dir, "ivf-sample") {
      val (base, _) = baseAndQueries(s, dir)
      IvfIndex.sampleCentroids(base, "vec", NList)
    }

  def ivfFlat(s: SparkSession, dir: String): DataFrame = {
    val (base, queries) = baseAndQueries(s, dir)
    val cents = sampleCents(s, dir)
    val assigned = IvfIndex.assign(base, "vec", cents)
    ranked(IvfIndex.search(assigned, queries, cents, K, NProbe,
      VecMetric.Euclidean))
  }

  /** Shared with q05 (VectorQueries.RangeRadius) so q52's probed hit
    * set is a directly comparable subset of q05's exact one.
    */
  val RangeRadius: Double = VectorQueries.RangeRadius

  /** q52: range search ON the IVF index — the ε-neighborhood query
    * (q05) served the way an IVF engine executes it (Milvus
    * range-search-with-nprobe semantics): prune to the probed cells,
    * exact distance inside them, keep dist ≤ radius. Same probe
    * worklist as q20, but the reduce is a scan-local filter instead
    * of top-k heaps — no aggregate at all, so at 100 TB the plan is
    * partition pruning + one filtered pass over ~nprobe/nlist of the
    * data with results streamed out (recall vs q05's exact pair set
    * is the standard IVF tradeoff, spec-measured).
    */
  def ivfRange(s: SparkSession, dir: String): DataFrame = {
    val (base, queries) = baseAndQueries(s, dir)
    val cents = sampleCents(s, dir)
    val assigned = IvfIndex.assign(base, "vec", cents)
    IvfIndex.rangeProbed(assigned,
      IvfIndex.probedQueries(queries, cents, NProbe), RangeRadius,
      VecMetric.Euclidean)
      .select("query_id", "neighbor_id")
      .orderBy("query_id", "neighbor_id")
  }

  /** q39: filtered ANN ON the IVF index — q14's per-query compound
    * label predicate evaluated inside q20's probe join (post-filter
    * strategy: prune cells first, then filter candidates before the
    * distance kernel). The index and the filter compose in ONE scan;
    * at 100 TB this is partition pruning + a pushed predicate, the
    * plan every filtered-vector-search engine converges on.
    */
  def ivfFiltered(s: SparkSession, dir: String): DataFrame = {
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
    val cents = sampleCents(s, dir)
    val assigned = IvfIndex.assign(base, "vec", cents)
    ranked(IvfIndex.search(assigned, queries, cents, K, FilteredNProbe,
      VecMetric.Euclidean,
      pairFilter = Some(col("l0") <= col("t0") &&
        col("l1") <= col("t1") && col("l2") <= col("t2"))))
  }

  /** IVF cell pruning + PQ ADC scan + exact re-rank (the milvus-ivfpq
    * shape; sample-init codebooks on raw vectors — recall recovered
    * by the re-rank, build replicable by the oracle). One pass over
    * the assigned table: [[PqIndex.search]] keyed on the cell scores
    * the codes of each probed row and re-ranks its best K*Rerank ADC
    * candidates per query from their vectors.
    */
  def ivfPq(s: SparkSession, dir: String): DataFrame = {
    val (base, queries) = baseAndQueries(s, dir)
    val cents = sampleCents(s, dir)
    val pq = cached(dir, "pq-sample") {
      PqIndex.sampleModel(base, "vec", M, KStar)
    }
    val assigned = IvfIndex.assign(base, "vec", cents)
      .withColumn("codes", PqIndex.encode(col("vec"), pq))
    ranked(PqIndex.search(assigned,
      IvfIndex.probedQueries(queries, cents, NProbe), pq, K, Rerank,
      VecMetric.Euclidean, keyed = true))
  }

  /** q46: SCANN-family anisotropic quantization (the reference's
    * milvus-scann index, README.md:84; Guo et al. 2020). Identical
    * sample-init codebook to q21, but codes argmin the SCORE-AWARE
    * anisotropic loss ([[PqIndex.encodeAniso]], eta=4): residual
    * along the datapoint direction — the component that perturbs
    * inner products with queries scoring the point highly — costs
    * eta times the orthogonal component. The scan is the MIPS ADC
    * form: per-query dot tables, approximate inner product = m
    * lookups summed, top K*Rerank by approximate dot DESC, exact
    * max-inner-product rerank — [[PqIndex.search]] unkeyed, one pass.
    * Flat scan (the compressed-scan leg is the object under test);
    * IVF pruning composes as in q21 — the composed probed-cell path is
    * served (and recall-gated) by VectorCollection's
    * quantization="pq_aniso" mode.
    */
  def scannAniso(s: SparkSession, dir: String): DataFrame = {
    val (base, queries) = baseAndQueries(s, dir)
    val pq = cached(dir, "pq-sample") {
      PqIndex.sampleModel(base, "vec", M, KStar)
    }
    val encoded = base
      .withColumn("codes", PqIndex.encodeAniso(col("vec"), pq, Eta))
    ranked(PqIndex.search(encoded, queries, pq, K, Rerank,
      VecMetric.InnerProduct))
  }

  /** IVF pruning + SQ8 quantized scan. */
  def ivfSq8(s: SparkSession, dir: String): DataFrame = {
    val (base, queries) = baseAndQueries(s, dir)
    val cents = sampleCents(s, dir)
    val sq = cached(dir, "sq8") { Sq8Index.train(base, "vec") }
    val assigned = IvfIndex.assign(base, "vec", cents)
      .withColumn("codes", Sq8Index.encode(col("vec"), sq))
    ranked(Sq8Index.searchProbed(assigned,
      IvfIndex.probedQueries(queries, cents, NProbe), sq, K))
  }

  /** q37: IVF pruning + packed SQ4 scan — the byte-cheapest float
    * quantizer: 4-bit affine codes packed 15/long (Sq4Pack), decode
    * fused into the codegen'd distance (Sq4L2), so the probed-cell
    * scan reads dim/2 bytes per vector (8x under raw floats, 2x under
    * SQ8). Packing is lossless over the codes, which keeps the
    * unpacked-code oracle exact.
    */
  def ivfSq4(s: SparkSession, dir: String): DataFrame = {
    val (base, queries) = baseAndQueries(s, dir)
    val cents = sampleCents(s, dir)
    val sq = cached(dir, "sq4") { Sq8Index.train(base, "vec", maxCode = 15) }
    val assigned = IvfIndex.assign(base, "vec", cents)
      .withColumn("words",
        graft.functions.sq4_pack(col("vec"), sq.mins, sq.scales))
    ranked(Sq8Index.searchProbed(assigned,
      IvfIndex.probedQueries(queries, cents, NProbe), sq, K, packed = true))
  }

  /** q26: search against the *persisted* IVF layout — the scan reads
    * only probed cell partitions (PartitionFilters pruning), which is
    * the on-disk shape the index takes at 100 TB.
    */
  def ivfPersisted(s: SparkSession, dir: String): DataFrame = {
    val (base, queries) = baseAndQueries(s, dir)
    val cents = sampleCents(s, dir)
    val path = cached(dir, "ivf-path") {
      val p = java.nio.file.Files
        .createTempDirectory("graft_ivf_idx").toString
      IvfIndex.persistIndex(IvfIndex.assign(base, "vec", cents), p)
      p
    }
    ranked(IvfIndex.searchPersisted(s, path, queries, cents, K, NProbe,
      VecMetric.Euclidean))
  }

  /** q42: the persisted QUANTIZED index — q22's SQ8 math on q26's
    * cell-partitioned layout, codes stored as true 1-byte tinyints
    * (affine codes offset by -128). On disk each vector costs dim
    * code bytes instead of 4*dim float bytes, so a probed-cell scan
    * compounds the two multiplicative levers a 100 TB index has:
    * partition pruning (read nprobe/nlist of the cells) x 4x byte
    * shrink within each cell read. Quantization happens at WRITE
    * time; persistence changes no math, so the oracle is q22's, and
    * the byte claim is measured in IndexSpec, not asserted in prose.
    */
  def ivfSq8Persisted(s: SparkSession, dir: String): DataFrame = {
    val (base, queries) = baseAndQueries(s, dir)
    val cents = sampleCents(s, dir)
    val sq = cached(dir, "sq8") { Sq8Index.train(base, "vec") }
    val path = cached(dir, "sq8-path") {
      val p = java.nio.file.Files
        .createTempDirectory("graft_sq8_idx").toString
      IvfIndex.assign(base, "vec", cents)
        .withColumn("codes", transform(Sq8Index.encode(col("vec"), sq),
          c => (c - lit(128)).cast("tinyint")))
        .select("id", "codes", "cluster")
        .write.mode("overwrite").partitionBy("cluster").parquet(p)
      p
    }
    val probed = IvfIndex.probedQueries(queries, cents, NProbe)
    val scan = IvfIndex.probedCells(s, path, probed)
      .withColumn("codes", transform(col("codes"),
        c => c.cast("int") + lit(128)))
    ranked(Sq8Index.searchProbed(scan, probed, sq, K))
  }

  def lshRhp(s: SparkSession, dir: String): DataFrame = {
    val (base, queries) = baseAndQueries(s, dir)
    // data-derived hyperplanes (differences of sample-vector pairs):
    // deterministic + oracle-replicable. On this unstructured corpus
    // 6-bit bands x 8 tables scan ~25% of the data per query.
    val model = cached(dir, "rhp") {
      LshRhp.trainFromData(base, "vec", NTables, NBits)
    }
    ranked(LshRhp.search(base, queries, model, K))
  }

  def lshMinhash(s: SparkSession, dir: String): DataFrame =
    ranked(MinHashLshIndex.search(Tables.documents(s, dir),
      Split.isQuery(col("doc_id"), NQDocs), K, Bands, RowsPerBand,
      MinHashSeed, baseIds = Split.isTrain(col("doc_id"))))

  /** q25: exact k-NN graph build (k=5, self excluded) — the batch
    * graph layer an HNSW-style index starts from. The query side is
    * the whole table, so like q10 this takes the blocked grid join
    * (no O(N) broadcast); the O(N^2) distance evaluations are what
    * "exact graph" means — q27 (NN-descent) is the approximate path
    * that avoids them.
    */
  def knnGraph(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .filter(Split.isTrain(col("vec_id"))) // the graph is an index: train rows only
    val base = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.select(col("vec_id").as("query_id"),
      col("embedding").as("qvec"))
    KnnSearch.bruteForceBlocked(base, queries, 5, VecMetric.Euclidean,
      pairFilter = Some(col("id") =!= col("query_id")))
      .select(col("query_id").as("id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"))
      .orderBy("id", "rank")
  }

  /** q27: NN-descent approximate graph (the scale path for q25 —
    * no N^2 cross join; see NnDescent). Deterministic init + (dist,
    * id) tie-breaks make even the iterations oracle-replicable.
    */
  def nnDescentGraph(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .filter(Split.isTrain(col("vec_id")))
    val base = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    NnDescent.build(base, k = 5)
      .orderBy("id", "rank")
  }

  // calibrated OUT-OF-SAMPLE on the unstructured corpus (the hard
  // case): degree is the recall lever — at degree 8 the walk caps at
  // ~0.62-0.67 regardless of rounds/beam; degree 16 (HNSW's standard
  // M) reaches 0.83. EntryBeam is the r7 single-coarse-layer entry,
  // kept for the flat [[GraphSearch.beamSearch]] baseline IndexSpec
  // compares the hierarchy against.
  val Beam = 10
  val BeamRounds = 4
  val GraphDeg = 16
  val EntryBeam = 4
  // the r8 layer stack (HNSW proper): levels nested layers halving by
  // the level hash (levelsFor targets ~16 top-layer rows — log-N
  // depth), symmetrized edges, one UpperBeam-wide step per upper
  // layer at the cheap UpperDeg, then HierRounds HierBeam-wide base
  // rounds. Calibrated vs the r7 flat champion (beam 10 × 4 rounds,
  // 16-row coarse entry): sf0.01 equal recall .830 at 215 vs 224
  // visited; generated 4k-row corpus recall .82 vs .41 at 142 vs 158
  // visited — the stack's aim is what survives N growing past a
  // fixed entry set's coverage (asserted in IndexSpec).
  val UpperDeg = 6
  val UpperBeam = 3
  val HierBeam = 8
  val HierRounds = 3
  // oracle-side unroll depth: levelsFor(450 train rows at sf0.01) = 5
  val GraphLayers = 5
  // q53's NN-descent base-layer build: 2 rounds at working degree =
  // GraphDeg (factor 1) — the stack entry gates the BUILD COMPOSITION
  // (approximate base under the exact upper stack), not max recall;
  // at factor 1 the candidate volume per round is (2·GraphDeg)² per
  // node, the same order as q27's, so the sf0.1 wall stays in q27's
  // band instead of 10× it
  val NndIters = 2

  def levelsFor(n: Long): Int =
    math.max(1, math.round(math.log(n / 16.0) / math.log(2)).toInt)

  /** A layer stack over `base`, built once per dataset and `kind`
    * (memoised) and persisted partitioned by layer — an index is
    * built-then-queried, like q26's IVF layout. The log-N depth comes
    * from the indexed cardinality (known at build time — the build
    * scans the table anyway; at 100 TB this comes from catalog
    * statistics, not a count job per query). Returns (stack, levels).
    */
  private def persistedStack(s: SparkSession, dir: String, kind: String,
      base: DataFrame)(build: Int => DataFrame): (DataFrame, Int) = {
    val (path, levels) = cached(dir, kind) {
      val lv = levelsFor(base.count())
      val p = java.nio.file.Files
        .createTempDirectory("graft_layer_graph").toString
      build(lv).write.mode("overwrite").partitionBy("layer").parquet(p)
      (p, lv)
    }
    (Tables.parquetAt(s, path), levels)
  }

  /** q19/q57's shared exact stack (one build per dataset). */
  private def exactStack(s: SparkSession, dir: String,
      base: DataFrame): (DataFrame, Int) =
    persistedStack(s, dir, "layered-graph-path", base)(lv =>
      GraphSearch.buildLayeredGraphs(base, lv, GraphDeg, UpperDeg))

  /** q19: graph-index SEARCH — batch descent over the prebuilt
    * MULTI-LAYER kNN graph stack (the reference's HNSW family:
    * README "Supported Databases" lists hnsw across six engines;
    * q25/q27 are the base-layer build side). The stack is built once
    * and persisted ([[persistedStack]]); a query scores the
    * tiny top layer, rides one beam step per upper layer down the
    * nested stack, then walks the base graph — touching
    * N/2^levels + levels×upperBeam×upperDeg + rounds×beam×deg
    * vectors, never a full scan.
    */
  def graphSearch(s: SparkSession, dir: String): DataFrame = {
    val (base, queries) = baseAndQueries(s, dir)
    val (stack, levels) = exactStack(s, dir, base)
    ranked(GraphSearch.hierarchicalSearch(base, stack,
      queries, K, HierBeam, HierRounds, levels, UpperBeam))
  }

  /** q53: the 100 TB stack BUILD, gated — buildLayeredGraphs documents
    * "at 100 TB every layer takes the NN-descent path (q27)"; this
    * entry is that path end-to-end: layer 0 from NN-descent, upper
    * layers NN-descent too once they exceed the 16k exactCap (exact
    * blocked under it — at gate scales every upper layer is, which is
    * what the oracle SQL assumes), then the SAME hierarchical descent
    * as q19. Deterministic init + (dist, id) tie-breaks keep even the
    * approximate build oracle-replicable.
    */
  def graphStackNnd(s: SparkSession, dir: String): DataFrame = {
    val (base, queries) = baseAndQueries(s, dir)
    val (stack, levels) =
      persistedStack(s, dir, "layered-graph-nnd-path", base)(lv =>
        GraphSearch.buildLayeredGraphsNnd(base, lv, GraphDeg, UpperDeg,
          NndIters, workingDegreeFactor = 1))
    ranked(GraphSearch.hierarchicalSearch(base, stack,
      queries, K, HierBeam, HierRounds, levels, UpperBeam))
  }

  // q54's diversified degree: half the candidate width — the
  // heuristic's value claim is a degree-m diversified graph doing the
  // work of a wider plain one (gated in IndexSpec)
  val DivM = 8

  /** q54: HNSW's SELECT-NEIGHBORS-HEURISTIC (the reference's hnsw
    * engines' M-edge selection; Malkov & Yashunin 2018 §4) as a batch
    * operator: exact top-GraphDeg candidate lists pruned to a
    * diverse degree-DivM edge set — candidate i drops when an
    * earlier candidate j sits strictly closer to i than the node
    * does. See GraphSearch.diversify for the order-free variant's
    * contract.
    *
    * DELIBERATELY EXACT candidates: this standalone entry feeds the
    * heuristic from the exact N² top-GraphDeg lists so the prune
    * itself is oracle-isolated — the q25↔q27 pattern; q55 is the
    * scale path, running the same prune on NN-descent candidates
    * inside the composed no-N² build.
    */
  def graphDiversify(s: SparkSession, dir: String): DataFrame = {
    val (base, _) = baseAndQueries(s, dir)
    val knn = KnnSearch.bruteForceBlocked(base,
      base.select(col("id").as("query_id"), col("vec").as("qvec")),
      GraphDeg, VecMetric.Euclidean,
      pairFilter = Some(col("id") =!= col("query_id")))
      .select(col("query_id").as("id"), col("rank"), col("neighbor_id"))
    GraphSearch.diversify(knn, base, DivM).orderBy("id", "rank")
  }

  // q55's NND-tier upper-layer candidate width: 2x the kept degree,
  // the same candidates-to-kept ratio as the base layer
  // (GraphDeg=2*DivM) — HNSW's efConstruction > M contract
  val UpperCand = 2 * UpperDeg

  /** q55: the COMPOSED HNSW build — q53's no-N² layer stack with
    * q54's SELECT-NEIGHBORS-HEURISTIC (+ the paper's
    * keepPrunedConnections backfill) applied on the NN-descent tier
    * (Malkov & Yashunin §4: candidate generation then heuristic edge
    * selection — the build the reference's hnsw engines run, README
    * "Supported Databases"). The base layer — and at scale every
    * layer over the exactCap, i.e. every layer at 100 TB — prunes
    * GraphDeg/UpperCand-wide NND lists to DivM/UpperDeg diverse
    * edges; exact-tier uppers keep their exact top-UpperDeg lists
    * (they only aim the descent; pruning them measured strictly
    * worse). Then the SAME hierarchical descent as q19/q53 over the
    * half-degree base. This retires q54's exact-N² candidate stage:
    * no stage here exceeds NN-descent's structural n·(2wk)² candidate
    * bound or the prune's n·cand²/2 pair join.
    */
  def graphStackDiversified(s: SparkSession, dir: String): DataFrame = {
    val (base, queries) = baseAndQueries(s, dir)
    val (stack, levels) =
      persistedStack(s, dir, "layered-graph-div-path", base)(lv =>
        GraphSearch.buildLayeredGraphsDiversified(base, lv, GraphDeg, DivM,
          UpperCand, UpperDeg, NndIters, workingDegreeFactor = 1))
    ranked(GraphSearch.hierarchicalSearch(base, stack,
      queries, K, HierBeam, HierRounds, levels, UpperBeam))
  }

  /** q56's held-out insert slice: train rows with id % 9 == 4 — a
    * residue class disjoint from the test split (id % 10 == 0), so
    * the batch is real corpus data the stack has never seen and the
    * query workload stays out-of-sample.
    */
  val InsertMod = 9
  val InsertRes = 4

  /** q56: GRAPH-index incremental insert — HNSW's insert algorithm
    * (Malkov & Yashunin 2018 Alg. 1) run as a batch against the BUILT
    * q55-style stack, the graph-family twin of q28's IVF upsert: the
    * reference serves mutations (module.py insert/update/delete)
    * against its hnsw engines without rebuilding, and until now the
    * repo's CRUD story was IVF-only. The stack is built over the
    * train split MINUS a held-out batch; each batch row then descends
    * the stack as a query (shared per-round joins — O(batch) work,
    * no rebuild) and links where the paper links it: top-visited per
    * layer at its hash-assigned level, SELECT-NEIGHBORS-HEURISTIC
    * pruned at the base, reverse edges added. Returns the new edges;
    * deterministic end to end, so the link rule unrolls in SQL
    * (GraphSearch.insertBatch documents the batching-independence
    * contract; the recall floor vs a fresh build is spec-gated in
    * IndexSpec).
    */
  def graphInsert(s: SparkSession, dir: String): DataFrame = {
    val (kept, batch, stack, levels) = insertContext(s, dir)
    GraphSearch.insertBatch(kept, stack, batch, levels,
      GraphDeg, DivM, UpperDeg, HierBeam, HierRounds, UpperBeam)
      .orderBy("layer", "id", "neighbor_id")
  }

  /** q56/q58's shared setup: the train split minus the insert slice,
    * the slice itself, and the q55-style stack built over the
    * reduced corpus (memoised per dataset — q56 and q58 read the
    * same build).
    */
  private def insertContext(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, Int) = {
    val (base, _) = baseAndQueries(s, dir)
    val batch = base.filter(col("id") % InsertMod === InsertRes)
    val kept = base.filter(col("id") % InsertMod =!= InsertRes)
    val (stack, levels) =
      persistedStack(s, dir, "layered-graph-ins-path", kept)(lv =>
        GraphSearch.buildLayeredGraphsDiversified(kept, lv, GraphDeg, DivM,
          UpperCand, UpperDeg, NndIters, workingDegreeFactor = 1))
    (kept, batch, stack, levels)
  }

  /** q58: GRAPH-index COMPACTION — the maintenance pass that closes
    * the mutation loop (insert q56, update/delete q57, compact q58):
    * a store applying the reference's mutation workloads
    * (module.py:142-180) between rebuilds accretes reverse edges on
    * popular nodes (GraphSearch.insertBatch's documented drift —
    * Alg. 1's shrink step deferred), and this entry runs the repair:
    * merge the insert batch's edges into the stack, find every
    * (layer, node) over its degree cap (DivM at the base, UpperDeg
    * above — the build's forward-degree discipline), and re-prune
    * exactly those adjacencies through the backfilled
    * SELECT-NEIGHBORS-HEURISTIC (GraphSearch.compactOverDegree).
    * Gated output: the re-pruned (hot) adjacencies only — the rows
    * compaction changes; untouched rows pass through bit-equal
    * (spec-asserted in IndexSpec, so gating them would only dilute
    * the hash). Deterministic end to end, so the degree histogram,
    * the (distance, id) rank, and the prune all unroll in SQL on top
    * of q56's insert chain. At 100 TB the cost is the degree
    * histogram plus pairs over ONLY the touched nodes — the
    * O(touched · cap²) slice, never O(|E|).
    */
  def graphCompact(s: SparkSession, dir: String): DataFrame = {
    val (kept, batch, stack, levels) = insertContext(s, dir)
    val edgesPath = cached(dir, "graph-ins-edges-path") {
      val p = java.nio.file.Files
        .createTempDirectory("graft_graph_ins_edges").toString
      GraphSearch.insertBatch(kept, stack, batch, levels,
        GraphDeg, DivM, UpperDeg, HierBeam, HierRounds, UpperBeam)
        .write.mode("overwrite").parquet(p)
      p
    }
    // eagerly materialised: compactOverDegree scans the merged stack
    // ~4x per layer (degree histogram, hot/cold split, rank) and the
    // union+distinct would otherwise be recomputed on every scan —
    // |E|-sized once, job-count-sized saved
    val merged = stack.select("layer", "id", "neighbor_id")
      .unionByName(Tables.parquetAt(s, edgesPath)
        .select("layer", "id", "neighbor_id"))
      .distinct()
      .localCheckpoint(true)
    val cap = (l: Int) => if (l == 0) DivM else UpperDeg
    val compacted = GraphSearch.compactOverDegree(merged,
      kept.unionByName(batch), cap, levels)
    val hot = merged.groupBy("layer", "id").agg(count(lit(1)).as("d"))
      .filter(col("d") >
        when(col("layer") === 0, DivM).otherwise(UpperDeg))
      .select("layer", "id")
    compacted.join(hot, Seq("layer", "id"))
      .select("layer", "id", "neighbor_id")
      .orderBy("layer", "id", "neighbor_id")
  }

  /** q57's mutation slices: delete = train rows with id % 13 == 3
    * (tombstoned), update = id % 13 == 5 re-embedded at reverse(vec)
    * — a bit-exact permutation both engines compute identically (no
    * float arithmetic to diverge over), standing in for "this row's
    * embedding changed". The residue classes are mutually disjoint
    * and independent of q56's mod-9 insert slice.
    */
  val MutMod = 13
  val DelRes = 3
  val UpdRes = 5

  /** q57: GRAPH-index UPDATE + DELETE — completing the mutation triad
    * the reference runs against its hnsw engines (module.py
    * insert/update/delete exercise all three; q56 covers insert, and
    * until now update/delete were served IVF-side only, q28-q30/a12).
    * The entry is the POST-MUTATION SEARCH over the q19 stack (shared
    * build — same model cache key) after a delete batch and an update
    * batch apply WITHOUT rebuild:
    *
    *  - DELETE is a tombstone: the node keeps its edges (they ROUTE —
    *    every real HNSW serves deletes this way; un-linking would
    *    disconnect basins until the next rebuild) and keeps being
    *    scored, but is excluded from results
    *    (GraphSearch.hierarchicalSearchWithVisited's tombstones
    *    contract — no over-fetch needed, the filter runs on the full
    *    visited set before the final top-k);
    *  - UPDATE is delete ∪ insert at the same id: the vector is
    *    replaced latest-wins (the walk scores the id at its NEW
    *    vector wherever stale edges reach it — the old incarnation
    *    needs no tombstone because scoring is by id) and the id
    *    re-descends the stack as a q56 insert at the new vector, so
    *    fresh edges anchor its new neighborhood. Stale edges at the
    *    old position remain as routing approximation until the
    *    periodic rebuild — the same drift-and-compact contract q56
    *    documents (GraphSearch.compactOverDegree is the between-
    *    rebuilds repair, spec-gated in IndexSpec).
    *
    * Deterministic end to end — stack build, insert walk, link rule,
    * latest-wins merge, tombstone filter — so the whole pipeline
    * unrolls in SQL (two walk chains in one oracle: the update
    * batch's descent, then the query descent over the mutated stack).
    */
  def graphMutate(s: SparkSession, dir: String): DataFrame = {
    val (base, queries) = baseAndQueries(s, dir)
    val (stack, levels) = exactStack(s, dir, base)
    val tomb = base.filter(col("id") % MutMod === DelRes).select("id")
    val updNew = base.filter(col("id") % MutMod === UpdRes)
      .select(col("id"), reverse(col("vec")).as("vec"))
    val keptVecs = base.filter(col("id") % MutMod =!= UpdRes)
    // eagerly materialised: the search below scans the merged stack
    // once per walk step plus the driver-phase collect, and a lazy
    // insertBatch tail (top-k + heuristic prune + distinct) would be
    // recomputed on EVERY one of those scans — measured 4x the whole
    // insert cost at sf0.1. O(batch · degree) rows, driver-safe.
    val newEdges = GraphSearch.insertBatch(keptVecs, stack, updNew,
      levels, GraphDeg, DivM, UpperDeg, HierBeam, HierRounds, UpperBeam)
      .localCheckpoint(true)
    val mergedBase = keptVecs.unionByName(updNew)
    ranked(GraphSearch.hierarchicalSearch(mergedBase,
      stack.unionByName(newEdges), queries, K, HierBeam, HierRounds,
      levels, UpperBeam, tombstones = Some(tomb)))
  }

  /** q28: incremental IVF maintenance — the reference serves CRUD
    * against a BUILT index (base/module.py insert/update/delete)
    * without rebuilding it: only the mutation batch is assigned to the
    * EXISTING centroids (one tiny assign pass), merged latest-wins
    * into the assigned table (Mutations.applyBatch), deletes
    * anti-joined out, and search probes the same fixed cells. At
    * 100 TB this is the only viable shape: re-clustering on every
    * batch is off the table, and the per-batch cost is O(batch), not
    * O(N).
    */
  def ivfUpsert(s: SparkSession, dir: String): DataFrame = {
    val (base, queries) = baseAndQueries(s, dir)
    val cents = sampleCents(s, dir)
    val assigned = IvfIndex.assign(base, "vec", cents)
    // updates: reversed vectors for train ids % 7 == 0; inserts: the
    // held-out query vectors as NEW ids (the reference's insert-then-
    // retrieve check — each query must find its copy at distance 0)
    val upserts = base.filter(col("id") % 7 === 0)
      .select(col("id"), reverse(col("vec")).as("vec"))
      .unionByName(queries.select((col("query_id") + 10000).as("id"),
        col("qvec").as("vec")))
    // id % 10 == 0 is the held-out test split (never indexed), so the
    // delete batch targets a different residue class of train rows
    val deletes = base.filter(col("id") % 10 === 5).select("id")
    val merged = Mutations.applyBatch(assigned,
      IvfIndex.assign(upserts, "vec", cents), deletes, "id")
    ranked(IvfIndex.search(merged, queries, cents, K, NProbe,
      VecMetric.Euclidean))
  }

  /** q29: q28 against the PERSISTED index layout — the on-disk shape
    * of incremental maintenance at 100 TB: the mutation batch touches
    * a handful of cells (new assignments + old cells of
    * updated/deleted keys), so only THOSE partition directories are
    * rewritten (dynamic partition overwrite); unprobed, untouched
    * cells cost zero I/O on both the write and the subsequent
    * partition-pruned search. Per-batch cost is O(batch + touched
    * cells), never O(N).
    */
  def ivfUpsertPersisted(s: SparkSession, dir: String): DataFrame = {
    val (base, queries) = baseAndQueries(s, dir)
    val cents = sampleCents(s, dir)
    val path = cached(dir, "ivf-upsert-path") {
      val p = java.nio.file.Files
        .createTempDirectory("graft_ivf_ups").toString
      IvfIndex.persistIndex(IvfIndex.assign(base, "vec", cents), p)
      val upserts = base.filter(col("id") % 7 === 0)
        .select(col("id"), reverse(col("vec")).as("vec"))
        .unionByName(queries.select((col("query_id") + 10000).as("id"),
          col("qvec").as("vec")))
      IvfIndex.upsertPersisted(s, p,
        IvfIndex.assign(upserts, "vec", cents),
        base.filter(col("id") % 10 === 5).select("id"))
      p
    }
    ranked(IvfIndex.searchPersisted(s, path, queries, cents, K, NProbe,
      VecMetric.Euclidean))
  }

  /** a06 side channel: last run's per-build wall/memory readings, for
    * spec assertions (the gated DataFrame carries only hash-stable
    * columns; memory and wall-time live here).
    */
  final case class BuildReading(buildTimeS: Double, peakTaskMemBytes: Long,
      jvmHeapPeakBytes: Long, tasksSeen: Long)
  val lastBuildReadings =
    new scala.collection.concurrent.TrieMap[String, BuildReading]

  /** a06: per-index build metrics — the reference's build_time /
    * index_size reporting (runner.py:457-465, 595-599). Each index is
    * actually built (the count() is the materialising action, timed
    * and logged as `[a06] <name> build_time_s=…`); the gated output
    * carries only the DETERMINISTIC metrics — materialised row counts
    * and schema-derived byte sizes — since wall-times can't be
    * hash-gated. Byte model: assigned row = 8B id + 4B cluster +
    * payload (4B/dim float vec, M-byte PQ code, dim-byte SQ8 code);
    * LSH bucket entry = 8B id + 4B table + 8B bucket; models are
    * double-precision (8B) per element. Wall and memory readings land
    * in [[lastBuildReadings]].
    */
  def indexBuildMetrics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (base, _) = baseAndQueries(s, dir)
    val dim = Tables.embeddings(s, dir)
      .select(size(col("embedding"))).head().getInt(0)
    // build memory (reference base/module.py:41 get_memory_usage,
    // runner.py:457-460): a listener tracks the max per-task
    // peakExecutionMemory across the build's stages (the unified-
    // memory claim of one task — 0 for narrow projection builds, the
    // number that matters for sort/agg/join-heavy ones), plus the
    // JVM heap-pool peak over the build — the process-RSS analog the
    // reference actually measures. Logged, not gated: memory, like
    // wall-time, is not hash-stable.
    def timed(name: String)(f: => Long): Long = {
      import scala.jdk.CollectionConverters._
      val heapPools = java.lang.management.ManagementFactory
        .getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
      heapPools.foreach(_.resetPeakUsage())
      val peak = new java.util.concurrent.atomic.AtomicLong(0L)
      val tasks = new java.util.concurrent.atomic.AtomicLong(0L)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          tasks.incrementAndGet()
          if (m != null)
            peak.getAndAccumulate(m.peakExecutionMemory, math.max(_, _))
        }
      }
      s.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val r =
        try f
        finally {
          // the listener bus is async: give queued TaskEnd events a
          // bounded window to drain before reading the peak
          val deadline = System.nanoTime() + 2000000000L
          var last = -1L
          while (peak.get() != last && System.nanoTime() < deadline) {
            last = peak.get()
            Thread.sleep(50)
          }
          s.sparkContext.removeSparkListener(listener)
        }
      val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum
      val wallS = (System.nanoTime() - t0) / 1e9
      lastBuildReadings(name) =
        BuildReading(wallS, peak.get(), heapPeak, tasks.get())
      println(f"[a06] $name build_time_s=$wallS%.3f "
        + f"peak_task_mem_mb=${peak.get() / 1048576.0}%.1f "
        + f"jvm_heap_peak_mb=${heapPeak / 1048576.0}%.1f")
      r
    }
    val cents = sampleCents(s, dir)
    val pq = cached(dir, "pq-sample") { PqIndex.sampleModel(base, "vec", M, KStar) }
    val sq = cached(dir, "sq8") { Sq8Index.train(base, "vec") }
    val lsh = cached(dir, "rhp") { LshRhp.trainFromData(base, "vec", NTables, NBits) }
    val nFlat = timed("ivf_flat") {
      IvfIndex.assign(base, "vec", cents).count()
    }
    val nPq = timed("ivf_pq") {
      IvfIndex.assign(base, "vec", cents)
        .withColumn("codes", PqIndex.encode(col("vec"), pq)).count()
    }
    // q46's build: same codebook, same stored bytes — only the
    // assignment objective (the anisotropic loss) differs
    val nPqA = timed("ivf_pq_aniso") {
      IvfIndex.assign(base, "vec", cents)
        .withColumn("codes", PqIndex.encodeAniso(col("vec"), pq, Eta))
        .count()
    }
    val nSq = timed("ivf_sq8") {
      IvfIndex.assign(base, "vec", cents)
        .withColumn("codes", Sq8Index.encode(col("vec"), sq)).count()
    }
    val nLsh = timed("lsh_rhp") {
      LshRhp.buckets(base, "id", "vec", lsh).count()
    }
    Seq(
      ("ivf_flat", nFlat, NList.toLong,
        nFlat * (12L + 4L * dim), NList * dim * 8L),
      ("ivf_pq", nPq, (M * KStar).toLong,
        nPq * (12L + M), KStar * dim * 8L),
      ("ivf_pq_aniso", nPqA, (M * KStar).toLong,
        nPqA * (12L + M), KStar * dim * 8L),
      ("ivf_sq8", nSq, 2L * dim,
        nSq * (12L + dim), 2L * dim * 8L),
      ("lsh_rhp", nLsh, (NTables * NBits).toLong,
        nLsh * 20L, NTables * NBits * dim * 8L)
    ).toDF("index_name", "n_rows", "model_rows", "bytes_index", "bytes_model")
      .orderBy("index_name")
  }

  /** q16: binary IVF (reference BIN_IVF_FLAT on hamming datasets):
    * embeddings sign-packed once at 60 bits/word, sample-init PACKED
    * centroids, hamming assignment/probes, exact hamming top-k inside
    * probed cells. The whole index is bit-vectors — dims/8 bytes per
    * row, popcount distances.
    */
  def binIvfFlat(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val packed = emb.filter(Split.isTrain(col("vec_id")))
      .select(col("vec_id").as("id"),
        graft.functions.pack_bits(col("embedding"), 60).as("vec"))
    val queries = emb.filter(Split.isQuery(col("vec_id"), NQ))
      .select(col("vec_id").as("query_id"),
        graft.functions.pack_bits(col("embedding"), 60).as("qvec"))
    val cents = cached(dir, "bin-ivf-sample") {
      BinIvf.sampleCentroids(packed, "vec", NList)
    }
    val assigned = BinIvf.assign(packed, "vec", cents)
    ranked(BinIvf.search(assigned, queries, cents, K, NProbe))
  }

  /** q35: streaming vector ingest into the IVF index (see
    * graft.streaming.VectorIngest), then partition-pruned search.
    * Content-identical to q20's batch-built index, which is the gate.
    */
  def ivfStreamIngest(s: SparkSession, dir: String): DataFrame = {
    val (_, queries) = baseAndQueries(s, dir)
    val cents = sampleCents(s, dir)
    val path = cached(dir, "ivf-stream-path") {
      graft.streaming.VectorIngest.streamIndexIngest(s, dir, cents)
    }
    ranked(IvfIndex.searchPersisted(s, path, queries, cents, K, NProbe,
      VecMetric.Euclidean))
  }

  // two-level tree: 8 x 4 leaves, descend 4 cells then 10 leaves
  // (out-of-sample recall 0.70 scanning ~10/32 of the data; the old
  // 3/6 descent measured 0.47 once queries left the indexed base)
  val TreeL1 = 8
  val TreeSub = 4
  val TreeP1 = 4
  val TreeP2 = 10

  /** q36: two-level IVF tree (the reference's SPTAG-BKT / coarse-fine
    * family) — see IvfTree. Both levels sample-init ⇒ the whole
    * descent replicates in SQL.
    */
  def ivfTree(s: SparkSession, dir: String): DataFrame = {
    val (base, queries) = baseAndQueries(s, dir)
    val m = cached(dir, "ivf-tree") {
      IvfTree.sampleModel(base, "vec", TreeL1, TreeSub)
    }
    val assigned = IvfTree.assign(base, "vec", m)
    ranked(IvfTree.search(assigned, queries, m, K, TreeP1, TreeP2,
      VecMetric.Euclidean))
  }

  val SweepNprobes: Seq[Int] = Seq(1, 2, 4, 8, 16)
  /** q45's eta axis (q46's loss; eta=1 IS plain PQ — the loss
    * degrades to L2, so the axis embeds the plain-vs-aniso
    * comparison as its first point). */
  val SweepEtas: Seq[Int] = Seq(1, 2, 4, 8)

  // q49: hybrid search served FROM the index
  val MvFields = 4
  val MvDim = 16
  val HybridPerFieldK = 50

  /** Per-field IVF cosine top-`perFieldK` lists over the 16-dim
    * slices — the candidate generator both index-served hybrid
    * rankers (q49 RRF, q51 weighted) fuse from. One sample-init IVF
    * per field, memoised per dataset so the two rankers share the
    * built indexes (the reference builds once and serves both).
    */
  private def mvFieldLists(s: SparkSession, dir: String,
      perFieldK: Int, nprobe: Int): Seq[DataFrame] = {
    val emb = Tables.embeddings(s, dir)
    (0 until MvFields).map { i =>
      val sl = s"slice(embedding, ${i * MvDim + 1}, $MvDim)"
      val base = emb.filter(Split.isTrain(col("vec_id")))
        .select(col("vec_id").as("id"), expr(sl).as("vec"))
      val queries = emb.filter(Split.isQuery(col("vec_id"), NQ))
        .select(col("vec_id").as("query_id"), expr(sl).as("qvec"))
      val cents = cached(dir, s"ivf-mv-$i") {
        IvfIndex.sampleCentroids(base, "vec", NList)
      }
      val assigned = IvfIndex.assign(base, "vec", cents)
      IvfIndex.search(assigned, queries, cents, perFieldK, nprobe,
        VecMetric.Cosine)
    }
  }

  /** q49: the reference's hybrid multi-vector search served FROM the
    * index — milvus hybrid_search
    * (bigvectorbench/algorithms/milvus/module.py:422-458)
    * issues one AnnSearchRequest per vector field against that
    * field's OWN index and fuses with RRFRanker; q06/q07 are the
    * brute-force twins of that semantics, this is the served shape.
    * Each 16-dim field gets its own sample-init IVF (q20's NList /
    * NProbe); per-field top-[[HybridPerFieldK]] lists come from the
    * probed cells only, fused by q07's pinned-order RRF — assignment,
    * probes, per-field ranks and fusion all replicate in the oracle.
    *
    * Scale: 4 probe joins (each centroids-broadcast, cells pruned)
    * + a fusion over fields x Q x perFieldK rank rows — the
    * per-field scans are q20's 100 TB shape and the fusion cost is
    * independent of base size.
    */
  def hybridIndex(s: SparkSession, dir: String): DataFrame =
    ranked(MultiVectorSearch.fuseRrf(
      mvFieldLists(s, dir, HybridPerFieldK, NProbe), K))

  /** The reference's ACTIVE hybrid ranker, WeightedRanker(0.25 x 4)
    * (milvus/module.py:439 — q49's RRFRanker is the commented-out
    * alternative at :438), served from the SAME per-field IVF indexes:
    * per-field probed top-[[HybridPerFieldK]] cosine lists fused by
    * sum_i 0.25 * sim_i, absent fields contributing 0. q06 is the
    * brute-force twin; at nprobe == nlist with full per-field lists
    * this equals q06 bit for bit (spec gate).
    *
    * Scale: identical to q49 — 4 probe joins (centroids broadcast,
    * cells pruned) + a fusion over fields x Q x perFieldK rows whose
    * cost is independent of base size.
    */
  def hybridWeighted(s: SparkSession, dir: String): DataFrame =
    ranked(MultiVectorSearch.fuseWeighted(
      mvFieldLists(s, dir, HybridPerFieldK, NProbe), K,
      Seq.fill(MvFields)(0.25)))

  /** q17: the reference runner's query-argument sweep
    * (query_argument_groups, runner.py — nprobe is THE IVF tuning
    * knob): recall@K of the IVF index at each nprobe, averaged over
    * the query set. One assignment and one exact-GT computation are
    * shared across the whole sweep; each step only swaps the probe
    * list. avg_recall = total_hits / (NQ * K) — an exact integer
    * ratio, so the curve itself is hash-gated.
    */
  def nprobeSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (base, queries) = baseAndQueries(s, dir)
    val cents = sampleCents(s, dir)
    val assigned = IvfIndex.assign(base, "vec", cents)
    // ONE probed scan serves the whole sweep: every cell carries its
    // probe rank rn, each candidate row fans out to the swept nprobes
    // that would scan it (np >= rn, <= |sweep| copies), and a single
    // partial-aggregated top-k per (query, np) replaces |sweep|
    // separate searches — same results, one pass over the data,
    // shuffle still O(parts x Q x |sweep| x K).
    val prr = IvfIndex.probesRanked(queries, cents, SweepNprobes.max)
      .join(queries, "query_id").localCheckpoint(true)
    val sweepLit = typedlit(SweepNprobes)
    val cand = assigned.join(broadcast(prr), "cluster")
      .select(col("query_id"),
        graft.functions.vec_l2(col("qvec"), col("vec")).as("score"),
        col("id"),
        explode(filter(sweepLit, np => np >= col("rn"))).as("np"))
    val top = cand.groupBy("query_id", "np")
      .agg(graft.functions.collect_topk(col("score"), col("id"), K,
        asc = true).as("topk"))
      .select(col("query_id"), col("np"),
        explode(col("topk.id")).as("neighbor_id"))
    val exact = KnnSearch.bruteForce(base, queries, K, VecMetric.Euclidean)
      .select(col("query_id"), col("neighbor_id"))
    val hits = top.join(exact, Seq("query_id", "neighbor_id"))
      .groupBy("np").agg(count(lit(1)).as("hits"))
    SweepNprobes.toDF("np_all")
      .join(hits, col("np_all") === col("np"), "left")
      .select(col("np_all").cast("long").as("nprobe"),
        (coalesce(col("hits"), lit(0L)).cast("double") /
          lit((NQ * K).toDouble)).as("avg_recall"))
      .orderBy("nprobe")
  }

  val SweepTables: Seq[Int] = Seq(2, 4, 8)

  /** q45: the reference runner's PER-ALGORITHM query-parameter GRID
    * (query_args / query_arg_groups, definitions.py: each algorithm
    * sweeps its own knob set; main.py runs every combination and
    * stores (params, recall, qps)): ivf_flat and ivf_sq8 over the
    * nprobe axis, lsh_rhp over the ntables axis, and pq_aniso over
    * the eta axis (q46's loss at identical code bytes — scan pinned,
    * recall moves), emitting
    * (algo, param, value, avg_recall, scanned_frac) — recall vs the
    * exact GT of each family's rerank metric, scanned_frac = scored
    * candidate pairs / (NQ x Ntrain), the dominant cost at 100 TB
    * (the recall-vs-scan trade-off curve IS the reference's core
    * evaluation product). ONE pass serves each family's whole axis:
    * IVF candidates carry their cell's probe rank and fan out only to
    * the swept nprobes that would scan them (q17's device) scoring
    * flat AND sq8 distances in the same scan; LSH pairs collapse to
    * their MINIMUM colliding table (the t-table index's candidate set
    * is exactly the pairs with min-table < t, since table t's planes
    * are a prefix-slice of the trained model) and fan out to the
    * swept table counts. No per-grid-point rescan anywhere.
    */
  def paramGrid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (base, queries) = baseAndQueries(s, dir)
    val cents = sampleCents(s, dir)
    val sq = cached(dir, "sq8") { Sq8Index.train(base, "vec") }
    val rhp = cached(dir, "rhp") {
      LshRhp.trainFromData(base, "vec", NTables, NBits)
    }
    val pqm = cached(dir, "pq-sample") {
      PqIndex.sampleModel(base, "vec", M, KStar)
    }
    val denom = base.agg(count(lit(1)).as("n_train"))
    // the five materialised frames below (three exact GTs + the two
    // candidate fan-outs) are independent given the frozen models —
    // race their jobs concurrently and Await in use order; each axis
    // still computes exactly what it did sequentially
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val exL2F = Future(KnnSearch.bruteForce(base, queries, K,
        VecMetric.Euclidean)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint(true))
    val exCosF = Future(KnnSearch.bruteForce(base, queries, K,
        VecMetric.Cosine)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint(true))
    val exDotF = Future(KnnSearch.bruteForce(base, queries, K,
        VecMetric.InnerProduct)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint(true))

    // IVF axis: one probed scan, both quantization levels
    val npLit = typedlit(SweepNprobes)
    val ivfCandF = Future {
      val assigned = IvfIndex.assign(base, "vec", cents)
        .withColumn("codes", Sq8Index.encode(col("vec"), sq))
      val prr = IvfIndex.probesRanked(queries, cents, SweepNprobes.max)
        .join(queries, "query_id")
      assigned.join(broadcast(prr), "cluster")
        .select(col("query_id"), col("id"),
          graft.functions.vec_l2(col("qvec"), col("vec")).as("flat_score"),
          graft.functions.sq8_l2(col("qvec"), col("codes"),
            sq.mins, sq.scales).as("sq8_score"),
          explode(filter(npLit, np => np >= col("rn"))).as("np"))
        .localCheckpoint(true) // reused: scanned + two top-k legs
    }
    val exL2 = Await.result(exL2F, Duration.Inf)
    val ivfCand = Await.result(ivfCandF, Duration.Inf)
    val ivfScan = ivfCand.groupBy("np").agg(count(lit(1)).as("scanned"))
    def ivfHits(scoreCol: String) = ivfCand
      .groupBy("query_id", "np")
      .agg(graft.functions.collect_topk(col(scoreCol), col("id"), K,
        asc = true).as("topk"))
      .select(col("np"), col("query_id"),
        explode(col("topk.id")).as("neighbor_id"))
      .join(exL2, Seq("query_id", "neighbor_id"))
      .groupBy("np").agg(count(lit(1)).as("hits"))

    // LSH axis: pairs keyed by their minimum colliding table
    val ntLit = typedlit(SweepTables)
    val lshCandF = Future {
      val minT = LshRhp.buckets(base, "id", "vec", rhp)
        .join(broadcast(LshRhp.buckets(queries, "query_id", "qvec", rhp)),
          Seq("table", "bucket"))
        .groupBy("query_id", "id").agg(min("table").as("mt"))
      minT.select(col("query_id"), col("id"),
          explode(filter(ntLit, t => t > col("mt"))).as("nt"))
        .localCheckpoint(true)
    }
    val exCos = Await.result(exCosF, Duration.Inf)
    val lshCand = Await.result(lshCandF, Duration.Inf)
    val lshScan = lshCand.groupBy("nt").agg(count(lit(1)).as("scanned"))
    val lshHits = lshCand.join(base, "id").join(broadcast(queries), "query_id")
      .select(col("query_id"), col("nt"),
        graft.functions.vec_cosine_sim(col("qvec"), col("vec")).as("score"),
        col("id"))
      .groupBy("query_id", "nt")
      .agg(graft.functions.collect_topk(col("score"), col("id"), K,
        asc = false).as("topk"))
      .select(col("nt"), col("query_id"),
        explode(col("topk.id")).as("neighbor_id"))
      .join(exCos, Seq("query_id", "neighbor_id"))
      .groupBy("nt").agg(count(lit(1)).as("hits"))

    def leg(algo: String, param: String, values: Seq[Int],
        keyCol: String, hits: DataFrame, scan: DataFrame): DataFrame =
      values.toDF("value")
        .join(hits.withColumnRenamed(keyCol, "value"), Seq("value"), "left")
        .join(scan.withColumnRenamed(keyCol, "value"), Seq("value"), "left")
        .crossJoin(broadcast(denom))
        .select(lit(algo).as("algo"), lit(param).as("param"),
          col("value").cast("long").as("value"),
          (coalesce(col("hits"), lit(0L)).cast("double") /
            lit((NQ * K).toDouble)).as("avg_recall"),
          (coalesce(col("scanned"), lit(0L)).cast("double") /
            (col("n_train") * lit(NQ.toLong)).cast("double"))
            .as("scanned_frac"))

    // PQ eta axis (q46's family): the score-aware loss swept at
    // IDENTICAL code bytes — recall moves while the (full) ADC scan
    // cost is pinned at 1.0, the inverse of the nprobe/ntables axes
    // where cost buys recall. ADC-only top-k against the exact-MIPS
    // truth: the codes' own quality is the object under test (a
    // rerank would mask the axis).
    val exDot = Await.result(exDotF, Duration.Inf)
    val qTbl = queries.withColumn("tbl", PqIndex.dotTable(col("qvec"), pqm))
      .select("query_id", "tbl")
    val etaLegs = SweepEtas.map { eta =>
      base.select(col("id"),
          PqIndex.encodeAniso(col("vec"), pqm, eta.toDouble).as("codes"))
        .crossJoin(broadcast(qTbl))
        .select(col("query_id"), col("id"),
          graft.functions.pq_adc(col("codes"), col("tbl")).as("score"))
        .groupBy("query_id")
        .agg(graft.functions.collect_topk(col("score"), col("id"), K,
          asc = false).as("topk"))
        .select(col("query_id"), explode(col("topk.id")).as("neighbor_id"))
        .join(exDot, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("hits"))
        .select(lit("pq_aniso").as("algo"), lit("eta").as("param"),
          lit(eta.toLong).as("value"),
          (col("hits").cast("double") / lit((NQ * K).toDouble))
            .as("avg_recall"),
          lit(1.0).as("scanned_frac"))
    }

    (leg("ivf_flat", "nprobe", SweepNprobes, "np",
      ivfHits("flat_score"), ivfScan)
      .unionByName(leg("ivf_sq8", "nprobe", SweepNprobes, "np",
        ivfHits("sq8_score"), ivfScan))
      .unionByName(leg("lsh_rhp", "ntables", SweepTables, "nt",
        lshHits, lshScan)) +: etaLegs)
      .reduce(_ unionByName _)
      .orderBy("algo", "value")
  }

  /** q12: recall@k of the IVF index against the exact kNN. */
  def recallAtK(s: SparkSession, dir: String): DataFrame = {
    val approx = ivfFlat(s, dir).select(col("query_id"), col("neighbor_id"))
    val (base, queries) = baseAndQueries(s, dir)
    val exact = KnnSearch.bruteForce(base, queries, K, VecMetric.Euclidean)
      .select(col("query_id"), col("neighbor_id"))
    approx.intersect(exact)
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
      .select(col("query_id"),
        (col("hits").cast("double") / lit(K.toDouble)).as("recall"))
      .orderBy("query_id")
  }

  /** m05: the runner's fourth and last dataset type, mm-ann (reference
    * runner.py:395-402 — `modal_test` is a FOREIGN query frame of the
    * SAME dimension, served through the identical single_query path as
    * the base modality). The in-repo foreign modality is the documents
    * table embedded by e01's deterministic TF-IDF pipeline, folded
    * dense to the embeddings table's [[EmbeddingQueries.InD]] dims
    * (vocab rank mod dim, exact integer tf sums — engine-portable);
    * the served side is EXACTLY q20's IVF index: same memoised
    * sample-init centroids, same assignment, same probe join. The gate:
    * a query frame that never came from the indexed table runs the
    * unmodified search path and hash-matches the oracle.
    *
    * Scale shape: the vocab is the (already shared/cached) corpus
    * term-count aggregate; the modal frame itself is Q rows — its
    * fold/groupBy touches only the Q query docs (filter below the
    * join), and the frame broadcasts through probedQueries like every
    * other query workload. The vocab rank is a driver-side constant
    * ([[EmbeddingQueries.VocabSize]] rows, memoised like sampleCents)
    * — no window anywhere in the plan.
    */
  val MmNQ = 5

  def mmAnn(s: SparkSession, dir: String): DataFrame = {
    val (base, _) = baseAndQueries(s, dir)
    val cents = sampleCents(s, dir)
    val assigned = IvfIndex.assign(base, "vec", cents)
    val docs = Tables.documents(s, dir)
    val tc = DfCache(s, dir, "termCounts")(EmbeddingGen.termCounts(docs))
    val dim = EmbeddingQueries.InD
    // vocab rank materialised once on the driver (sampleCents'
    // discipline — the vocab is VocabSize rows by construction, and a
    // window-free rank keeps the guarded no-partitionless-Window
    // property of the whole query surface)
    import s.implicits._
    val vocRanked = cached(dir, "mm-vocab-rank") {
      EmbeddingGen.vocab(tc, EmbeddingQueries.VocabSize)
        .collect().map(r => (r.getString(0), r.getLong(1)))
        .sortBy { case (t, df) => (-df, t) }
        .zipWithIndex.map { case ((t, _), i) => (t, i + 1L) }
    }
    val vr = vocRanked.toSeq.toDF("term", "r")
    val folded = tc.filter(Split.isQuery(col("doc_id"), MmNQ))
      .join(broadcast(vr), "term")
      .groupBy(col("doc_id"),
        ((col("r") - 1) % dim).cast("int").as("dim"))
      .agg(sum("tf").as("s"))
      .groupBy("doc_id")
      .agg(map_from_arrays(collect_list(col("dim")),
        collect_list(col("s"))).as("m"))
    // left join from the doc table: a query doc with zero vocab terms
    // still queries (as the all-zeros vector) instead of vanishing
    val mq = docs.filter(Split.isQuery(col("doc_id"), MmNQ))
      .select("doc_id")
      .join(folded, Seq("doc_id"), "left")
      .select(col("doc_id").as("query_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          d => coalesce(element_at(col("m"), d.cast("int")), lit(0L))
            .cast("double")).as("qvec"))
    ranked(IvfIndex.search(assigned, mq, cents, K, NProbe,
      VecMetric.Euclidean))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a06_index_build_metrics" -> (indexBuildMetrics _),
    "m05_mm_ann" -> (mmAnn _),
    "q12_recall_at_k" -> (recallAtK _),
    "q16_bin_ivf" -> (binIvfFlat _),
    "q17_nprobe_sweep" -> (nprobeSweep _),
    "q45_param_grid" -> (paramGrid _),
    "q49_hybrid_index" -> (hybridIndex _),
    "q51_hybrid_weighted" -> (hybridWeighted _),
    "q20_ivf_flat" -> (ivfFlat _),
    "q52_ivf_range" -> (ivfRange _),
    "q39_ivf_filtered" -> (ivfFiltered _),
    "q42_sq8_persisted" -> (ivfSq8Persisted _),
    "q21_ivf_pq" -> (ivfPq _),
    "q46_scann_aniso" -> (scannAniso _),
    "q22_ivf_sq8" -> (ivfSq8 _),
    "q23_lsh_rhp" -> (lshRhp _),
    "q26_ivf_persisted" -> (ivfPersisted _),
    "q28_ivf_upsert" -> (ivfUpsert _),
    "q29_ivf_upsert_persisted" -> (ivfUpsertPersisted _),
    "q35_stream_index_ingest" -> (ivfStreamIngest _),
    "q36_ivf_tree" -> (ivfTree _),
    "q37_ivf_sq4" -> (ivfSq4 _),
    "q19_graph_search" -> (graphSearch _),
    "q53_graph_stack_nnd" -> (graphStackNnd _),
    "q54_graph_diversify" -> (graphDiversify _),
    "q55_graph_stack_diversified" -> (graphStackDiversified _),
    "q56_graph_insert" -> (graphInsert _),
    "q57_graph_mutate" -> (graphMutate _),
    "q58_graph_compact" -> (graphCompact _),
    "q24_lsh_minhash" -> (lshMinhash _),
    "q25_graph_knn" -> (knnGraph _),
    "q27_nn_descent" -> (nnDescentGraph _)
  )

  // ------------------------------------------------------------------
  // DuckDB oracles. Shared IVF CTEs: base, queries, sampled centroids
  // (row_number-1 over ORDER BY id LIMIT NList == the Spark collect
  // order), argmin assignment and nprobe probes with (distance,
  // cluster) tie-breaks — mirroring IvfIndex bit for bit.
  // ------------------------------------------------------------------

  private val ivfCte: String = ivfCteNp(NProbe)

  // qBody: the query-frame SELECT — overridable so a FOREIGN modal
  // frame (m05) rides the identical b/c/asg/pr search CTEs q20 uses
  private def ivfCteNp(nprobe: Int, qBody: String =
      s"SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv " +
        s"FROM embeddings WHERE $qPred"): String =
    s"""b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |      FROM embeddings WHERE $bPred),
       |q AS ($qBody),
       |c AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cluster, v AS cv
       |      FROM (SELECT id, v FROM b ORDER BY id LIMIT $NList)),
       |asg AS (SELECT id, v, cluster FROM (
       |   SELECT b.id, b.v, c.cluster,
       |          row_number() OVER (PARTITION BY b.id
       |            ORDER BY list_distance(b.v, c.cv), c.cluster) AS rn
       |   FROM b CROSS JOIN c) WHERE rn = 1),
       |pr AS (SELECT query_id, cluster FROM (
       |   SELECT q.query_id, c.cluster,
       |          row_number() OVER (PARTITION BY q.query_id
       |            ORDER BY list_distance(q.qv, c.cv), c.cluster) AS rn
       |   FROM q CROSS JOIN c) WHERE rn <= $nprobe)""".stripMargin

  private val ivfFlatSelect: String =
    s"""SELECT query_id, rank, neighbor_id FROM (
       |  SELECT q.query_id, a.id AS neighbor_id,
       |         row_number() OVER (PARTITION BY q.query_id
       |           ORDER BY list_distance(q.qv, a.v), a.id) AS rank
       |  FROM q JOIN pr ON pr.query_id = q.query_id
       |         JOIN asg a ON a.cluster = pr.cluster)
       |WHERE rank <= $K""".stripMargin

  private val ivfFlatSql: String =
    s"WITH $ivfCte\n$ivfFlatSelect ORDER BY query_id, rank"

  /** q52 oracle: q20's exact IVF CTEs with the top-k rank swapped for
    * the radius filter (each base vector lives in exactly one cell
    * and pr's clusters are distinct per query, so no DISTINCT is
    * needed — the pair set is join-exact).
    */
  private val ivfRangeSql: String =
    s"""WITH $ivfCte
       |SELECT q.query_id AS query_id, a.id AS neighbor_id
       |FROM q JOIN pr ON pr.query_id = q.query_id
       |       JOIN asg a ON a.cluster = pr.cluster
       |WHERE list_distance(q.qv, a.v) <= $RangeRadius
       |ORDER BY q.query_id, neighbor_id""".stripMargin

  /** m05 oracle: e01's vocab CTEs -> rank -> folded dense modal frame,
    * then q20's exact IVF CTEs with the q leg swapped for the modal
    * frame (the same swap the Spark side performs).
    */
  private val mmAnnSql: String = {
    val dim = EmbeddingQueries.InD
    val mqPred = Split.querySql("doc_id", MmNQ)
    s"""WITH ${EmbeddingQueries.vocabCte},
       |vr AS (SELECT term, row_number() OVER (ORDER BY df DESC, term) AS r
       |       FROM voc),
       |md AS (SELECT tf.doc_id, CAST((vr.r - 1) % $dim AS BIGINT) AS dim,
       |              CAST(sum(tf.tf) AS DOUBLE) AS s
       |       FROM tf JOIN vr USING (term)
       |       WHERE $mqPred GROUP BY 1, 2),
       |mq AS (SELECT dq.doc_id AS query_id,
       |              list(COALESCE(md.s, 0.0) ORDER BY d.dim) AS qv
       |       FROM (SELECT doc_id FROM documents WHERE $mqPred) dq
       |       CROSS JOIN (SELECT unnest(range(0, $dim)) AS dim) d
       |       LEFT JOIN md ON md.doc_id = dq.doc_id AND md.dim = d.dim
       |       GROUP BY 1),
       |${ivfCteNp(NProbe, "SELECT query_id, qv FROM mq")}
       |$ivfFlatSelect ORDER BY query_id, rank""".stripMargin
  }

  private val ivfFilteredSql: String =
    s"""WITH ${ivfCteNp(FilteredNProbe)},
       |lb AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS l0,
       |              vec_id % 97 AS l1, (vec_id * 31) % 89 AS l2
       |       FROM embeddings),
       |qt AS (SELECT vec_id AS query_id, CAST(label AS BIGINT) AS t0,
       |              20 + (vec_id * 13) % 60 AS t1,
       |              15 + (vec_id * 17) % 60 AS t2
       |       FROM embeddings WHERE $qPred)
       |SELECT query_id, rank, neighbor_id FROM (
       |  SELECT q.query_id, a.id AS neighbor_id,
       |         row_number() OVER (PARTITION BY q.query_id
       |           ORDER BY list_distance(q.qv, a.v), a.id) AS rank
       |  FROM q JOIN pr ON pr.query_id = q.query_id
       |         JOIN asg a ON a.cluster = pr.cluster
       |         JOIN lb ON lb.id = a.id
       |         JOIN qt ON qt.query_id = q.query_id
       |  WHERE lb.l0 <= qt.t0 AND lb.l1 <= qt.t1 AND lb.l2 <= qt.t2)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** q49 oracle: q20's IVF CTE instantiated per 16-dim field (sliced
    * vectors, same sample-init centroids / L2 assignment / nprobe
    * probes), per-field cosine rank lists from the probed cells, then
    * q07's RRF pivot with the fused sum in fixed field order.
    */
  private def mvIvfCte(i: Int): String = {
    val lo = i * MvDim + 1
    val hi = (i + 1) * MvDim
    s"""b$i AS (SELECT vec_id AS id,
       |        list_slice(embedding::DOUBLE[], $lo, $hi) AS v
       |      FROM embeddings WHERE $bPred),
       |q$i AS (SELECT vec_id AS query_id,
       |        list_slice(embedding::DOUBLE[], $lo, $hi) AS qv
       |      FROM embeddings WHERE $qPred),
       |c$i AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cluster, v AS cv
       |      FROM (SELECT id, v FROM b$i ORDER BY id LIMIT $NList)),
       |asg$i AS (SELECT id, v, cluster FROM (
       |   SELECT b.id, b.v, c.cluster,
       |          row_number() OVER (PARTITION BY b.id
       |            ORDER BY list_distance(b.v, c.cv), c.cluster) AS rn
       |   FROM b$i b CROSS JOIN c$i c) WHERE rn = 1),
       |pr$i AS (SELECT query_id, cluster FROM (
       |   SELECT q.query_id, c.cluster,
       |          row_number() OVER (PARTITION BY q.query_id
       |            ORDER BY list_distance(q.qv, c.cv), c.cluster) AS rn
       |   FROM q$i q CROSS JOIN c$i c) WHERE rn <= $NProbe),
       |rk$i AS (SELECT query_id, neighbor_id, rank, sim FROM (
       |  SELECT q.query_id, a.id AS neighbor_id,
       |         ${cosSql("q.qv", "a.v")} AS sim,
       |         row_number() OVER (PARTITION BY q.query_id
       |           ORDER BY ${cosSql("q.qv", "a.v")} DESC, a.id) AS rank
       |  FROM q$i q JOIN pr$i pr ON pr.query_id = q.query_id
       |         JOIN asg$i a ON a.cluster = pr.cluster)
       |  WHERE rank <= $HybridPerFieldK)""".stripMargin
  }

  /** q51 oracle: q49's per-field IVF CTEs, fused by the WeightedRanker
    * sum in fixed field order (COALESCE(sim, 0) * 0.25 terms,
    * left-associated addition — matches Spark's evaluation order, so
    * fused doubles are bit-identical).
    */
  private val q51Sql: String = {
    val ctes = (0 until MvFields).map(mvIvfCte).mkString(",\n")
    val union = (0 until MvFields)
      .map(i => s"SELECT query_id, neighbor_id, sim, $i AS field FROM rk$i")
      .mkString("\nUNION ALL\n")
    val simPiv = (0 until MvFields)
      .map(i => s"max(CASE WHEN field = $i THEN sim END) AS s$i")
      .mkString(", ")
    val fusedSum = (0 until MvFields)
      .map(i => s"COALESCE(s$i, 0.0) * 0.25")
      .mkString(" + ")
    s"""WITH $ctes,
       |u AS ($union),
       |piv AS (SELECT query_id, neighbor_id, $simPiv
       |        FROM u GROUP BY query_id, neighbor_id),
       |f AS (SELECT query_id, neighbor_id,
       |             $fusedSum AS score FROM piv)
       |SELECT query_id, rank, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY score DESC, neighbor_id) AS rank
       |  FROM f)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  private val q49Sql: String = {
    val ctes = (0 until MvFields).map(mvIvfCte).mkString(",\n")
    val union = (0 until MvFields)
      .map(i => s"SELECT query_id, neighbor_id, rank, $i AS field FROM rk$i")
      .mkString("\nUNION ALL\n")
    val rankPiv = (0 until MvFields)
      .map(i => s"max(CASE WHEN field = $i THEN rank END) AS r$i")
      .mkString(", ")
    val fusedSum = (0 until MvFields)
      .map(i => s"(CASE WHEN r$i IS NOT NULL THEN 1.0 / (60 + r$i) ELSE 0.0 END)")
      .mkString(" + ")
    s"""WITH $ctes,
       |u AS ($union),
       |piv AS (SELECT query_id, neighbor_id, $rankPiv
       |        FROM u GROUP BY query_id, neighbor_id),
       |f AS (SELECT query_id, neighbor_id,
       |             $fusedSum AS score FROM piv)
       |SELECT query_id, rank, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY score DESC, neighbor_id) AS rank
       |  FROM f)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  private val recallSql: String =
    s"""WITH $ivfCte,
       |appr AS ($ivfFlatSelect),
       |ex AS (SELECT query_id, neighbor_id FROM (
       |  SELECT q.query_id, b.id AS neighbor_id,
       |         row_number() OVER (PARTITION BY q.query_id
       |           ORDER BY list_distance(q.qv, b.v), b.id) AS rank
       |  FROM q CROSS JOIN b) WHERE rank <= $K)
       |SELECT query_id, CAST(hits AS DOUBLE) / CAST($K AS DOUBLE) AS recall
       |FROM (SELECT query_id, count(*) AS hits
       |      FROM appr JOIN ex USING (query_id, neighbor_id) GROUP BY 1)
       |ORDER BY query_id""".stripMargin

  /** Squared L2 between subspace `s` of vector expr `v` and the
    * codebook slice cb.cv, left-folded from 0.0 in index order —
    * exactly PqEncode/VecL2Sq's loop.
    */
  private def pqSqTerm(v: String, s: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |  list_transform(range(1, ${SubDim + 1}),
       |    i -> ($v[$s * $SubDim + i] - cb.cv[i]) *
       |         ($v[$s * $SubDim + i] - cb.cv[i]))),
       |  (acc, x) -> acc + x)""".stripMargin

  private val ivfPqSql: String =
    s"""WITH $ivfCte,
       |sv AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cent, v
       |       FROM (SELECT id, v FROM b ORDER BY id LIMIT $KStar)),
       |cb AS (SELECT sv.cent, ss.s,
       |              list_slice(sv.v, ss.s * $SubDim + 1, (ss.s + 1) * $SubDim) AS cv
       |       FROM sv CROSS JOIN (SELECT unnest(range(0, $M)) AS s) ss),
       |enc AS (SELECT id, s, cent FROM (
       |   SELECT a.id, cb.s, cb.cent,
       |          row_number() OVER (PARTITION BY a.id, cb.s
       |            ORDER BY ${pqSqTerm("a.v", "cb.s")}, cb.cent) AS rn
       |   FROM asg a CROSS JOIN cb) WHERE rn = 1),
       |cand AS (SELECT q.query_id, q.qv, a.id
       |         FROM q JOIN pr ON pr.query_id = q.query_id
       |                JOIN asg a ON a.cluster = pr.cluster),
       |term AS (SELECT cand.query_id, cand.id, enc.s,
       |                ${pqSqTerm("cand.qv", "enc.s")} AS t
       |         FROM cand JOIN enc ON enc.id = cand.id
       |              JOIN cb ON cb.s = enc.s AND cb.cent = enc.cent),
       |adc AS (SELECT query_id, id,
       |               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |                 list(t ORDER BY s)), (acc, x) -> acc + x) AS adc
       |        FROM term GROUP BY query_id, id),
       |top AS (SELECT query_id, id FROM (
       |   SELECT query_id, id,
       |          row_number() OVER (PARTITION BY query_id
       |            ORDER BY adc, id) AS rn
       |   FROM adc) WHERE rn <= ${K * Rerank})
       |SELECT query_id, rank, neighbor_id FROM (
       |  SELECT t.query_id, t.id AS neighbor_id,
       |         row_number() OVER (PARTITION BY t.query_id
       |           ORDER BY list_distance(q.qv, b.v), t.id) AS rank
       |  FROM top t JOIN q ON q.query_id = t.query_id JOIN b ON b.id = t.id)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** q46 oracle: rebuild the anisotropic encode exactly —
    * per (vector, subspace) the codeword argmins
    * d + (eta-1)*rx^2/n2 (n2=0 → d), where n2/d/rx are each
    * left-folded from 0.0 in ascending index order, the same three
    * accumulators in the same order as PqEncodeAniso's loop; then the
    * MIPS ADC scan (per-subspace query·codeword dot table, m lookups
    * summed in s order), top K*Rerank by approximate dot DESC, exact
    * inner-product rerank.
    */
  private val q46Sql: String = {
    def fold(term: String): String =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform(range(1, ${SubDim + 1}), i -> $term)),
         |  (acc, x) -> acc + x)""".stripMargin
    val xi = s"a.v[cb.s * $SubDim + i]"
    s"""WITH b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |           FROM embeddings WHERE $bPred),
       |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |      FROM embeddings WHERE $qPred),
       |sv AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cent, v
       |       FROM (SELECT id, v FROM b ORDER BY id LIMIT $KStar)),
       |cb AS (SELECT sv.cent, ss.s,
       |              list_slice(sv.v, ss.s * $SubDim + 1, (ss.s + 1) * $SubDim) AS cv
       |       FROM sv CROSS JOIN (SELECT unnest(range(0, $M)) AS s) ss),
       |encl AS (SELECT a.id, cb.s, cb.cent,
       |                ${fold(s"$xi * $xi")} AS n2,
       |                ${fold(s"($xi - cb.cv[i]) * ($xi - cb.cv[i])")} AS d,
       |                ${fold(s"($xi - cb.cv[i]) * $xi")} AS rx
       |         FROM b a CROSS JOIN cb),
       |enc AS (SELECT id, s, cent FROM (
       |   SELECT id, s, cent,
       |          row_number() OVER (PARTITION BY id, s
       |            ORDER BY CASE WHEN n2 > 0.0
       |                          THEN d + ($Eta - 1.0) * rx * rx / n2
       |                          ELSE d END, cent) AS rn
       |   FROM encl) WHERE rn = 1),
       |term AS (SELECT q.query_id, enc.id, enc.s,
       |                ${fold(s"q.qv[enc.s * $SubDim + i] * cb.cv[i]")} AS t
       |         FROM q CROSS JOIN enc
       |              JOIN cb ON cb.s = enc.s AND cb.cent = enc.cent),
       |adc AS (SELECT query_id, id,
       |               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |                 list(t ORDER BY s)), (acc, x) -> acc + x) AS adc
       |        FROM term GROUP BY query_id, id),
       |top AS (SELECT query_id, id FROM (
       |   SELECT query_id, id,
       |          row_number() OVER (PARTITION BY query_id
       |            ORDER BY adc DESC, id) AS rn
       |   FROM adc) WHERE rn <= ${K * Rerank})
       |SELECT query_id, rank, neighbor_id FROM (
       |  SELECT t.query_id, t.id AS neighbor_id,
       |         row_number() OVER (PARTITION BY t.query_id
       |           ORDER BY list_inner_product(q.qv, b.v) DESC, t.id) AS rank
       |  FROM top t JOIN q ON q.query_id = t.query_id JOIN b ON b.id = t.id)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  /** Shared SQ oracle body: affine per-dim quantization at `maxCode`
    * levels (255 = SQ8 / q22, 15 = packed SQ4 / q37 — packing is
    * lossless, so the oracle checks the code math on unpacked codes
    * while Spark scans the packed words).
    */
  private def ivfSqSql(maxCode: Int): String =
    s"""WITH $ivfCte,
       |st AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
       |       FROM b, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) u
       |       GROUP BY i),
       |prm AS (SELECT list(mn ORDER BY i) AS mns,
       |               list(CASE WHEN mx = mn THEN CAST(1.0 AS DOUBLE)
       |                         ELSE (mx - mn) / $maxCode.0 END ORDER BY i) AS scs
       |        FROM st),
       |cod AS (SELECT a.id, a.cluster,
       |               list_transform(range(1, len(a.v) + 1),
       |                 i -> least($maxCode, greatest(0,
       |                   CAST(round((a.v[i] - prm.mns[i]) / prm.scs[i]) AS INT))))
       |                 AS codes
       |        FROM asg a CROSS JOIN prm)
       |SELECT query_id, rank, neighbor_id FROM (
       |  SELECT q.query_id, cod.id AS neighbor_id,
       |         row_number() OVER (PARTITION BY q.query_id ORDER BY
       |           sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |             list_transform(range(1, len(q.qv) + 1),
       |               i -> (q.qv[i] - (prm.mns[i] + cod.codes[i] * prm.scs[i])) *
       |                    (q.qv[i] - (prm.mns[i] + cod.codes[i] * prm.scs[i])))),
       |             (acc, x) -> acc + x)),
       |           cod.id) AS rank
       |  FROM q JOIN pr ON pr.query_id = q.query_id
       |         JOIN cod ON cod.cluster = pr.cluster
       |         CROSS JOIN prm)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  private def cosSql(a: String, b: String): String =
    s"(list_inner_product($a, $b) / sqrt(list_inner_product($a, $a) * list_inner_product($b, $b)))"

  private val lshRhpSql: String =
    s"""WITH b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |           FROM embeddings WHERE $bPred),
       |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |      FROM embeddings WHERE $qPred),
       |sv AS (SELECT row_number() OVER (ORDER BY id) - 1 AS rn, v
       |       FROM (SELECT id, v FROM b ORDER BY id LIMIT ${2 * NTables * NBits})),
       |pl AS (SELECT a.rn // 2 AS j,
       |              list_transform(range(1, len(a.v) + 1),
       |                i -> a.v[i] - c.v[i]) AS h
       |       FROM sv a JOIN sv c ON c.rn = a.rn + 1 WHERE a.rn % 2 = 0),
       |bk AS (SELECT x.id, pl.j // $NBits AS tbl,
       |              CAST(sum(CASE WHEN list_inner_product(x.v, pl.h) > 0
       |                   THEN (CAST(1 AS BIGINT) << CAST(pl.j % $NBits AS INT))
       |                   ELSE 0 END) AS BIGINT) AS bucket
       |       FROM b x CROSS JOIN pl GROUP BY x.id, pl.j // $NBits),
       |qbk AS (SELECT y.query_id, pl.j // $NBits AS tbl,
       |              CAST(sum(CASE WHEN list_inner_product(y.qv, pl.h) > 0
       |                   THEN (CAST(1 AS BIGINT) << CAST(pl.j % $NBits AS INT))
       |                   ELSE 0 END) AS BIGINT) AS bucket
       |       FROM q y CROSS JOIN pl GROUP BY y.query_id, pl.j // $NBits),
       |cand AS (SELECT DISTINCT qb.query_id, bb.id
       |         FROM bk bb JOIN qbk qb
       |              ON qb.tbl = bb.tbl AND qb.bucket = bb.bucket)
       |SELECT query_id, rank, neighbor_id FROM (
       |  SELECT cand.query_id, cand.id AS neighbor_id,
       |         row_number() OVER (PARTITION BY cand.query_id
       |           ORDER BY ${cosSql("q.qv", "b.v")} DESC, cand.id) AS rank
       |  FROM cand JOIN q ON q.query_id = cand.query_id
       |            JOIN b ON b.id = cand.id)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  private val lshMinhashSql: String = {
    val h = Bands * RowsPerBand
    val (as, bs) = graft.functions.MinHashSigs.coefs(h, MinHashSeed)
    val aList = as.mkString("[", ", ", "]::BIGINT[]")
    val bList = bs.mkString("[", ", ", "]::BIGINT[]")
    val p = graft.functions.MinHashSigs.Prime
    s"""WITH d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
       |           FROM documents),
       |tk AS (SELECT doc_id, unnest(toks) AS t FROM d),
       |th AS (SELECT doc_id, ${Dedup.tokenHash60Sql("t")} % $p AS x FROM tk),
       |cf AS (SELECT ii.i, ll.al[CAST(ii.i AS INT) + 1] AS a,
       |              ll.bl[CAST(ii.i AS INT) + 1] AS bb
       |       FROM (SELECT unnest(range(0, $h)) AS i) ii
       |       CROSS JOIN (SELECT $aList AS al, $bList AS bl) ll),
       |sg AS (SELECT th.doc_id, cf.i, min((cf.a * th.x + cf.bb) % $p) AS s
       |       FROM th CROSS JOIN cf GROUP BY th.doc_id, cf.i),
       |sl AS (SELECT doc_id, list(s ORDER BY i) AS sigs FROM sg GROUP BY doc_id),
       |bd AS (SELECT doc_id, bn.band,
       |              list_slice(sigs, bn.band * $RowsPerBand + 1,
       |                (bn.band + 1) * $RowsPerBand) AS bucket
       |       FROM sl CROSS JOIN (SELECT unnest(range(0, $Bands)) AS band) bn),
       |qb AS (SELECT doc_id AS query_id, band, bucket
       |       FROM bd WHERE ${Split.querySql("doc_id", NQDocs)}),
       |bb AS (SELECT doc_id, band, bucket FROM bd
       |       WHERE ${Split.trainSql("doc_id")}),
       |cand AS (SELECT DISTINCT qb.query_id, bb.doc_id AS id
       |         FROM bb JOIN qb ON qb.band = bb.band AND qb.bucket = bb.bucket
       |         WHERE bb.doc_id != qb.query_id)
       |SELECT query_id, rank, neighbor_id FROM (
       |  SELECT cand.query_id, cand.id AS neighbor_id,
       |         row_number() OVER (PARTITION BY cand.query_id ORDER BY
       |           (CAST(len(list_intersect(qd.toks, dd.toks)) AS DOUBLE) /
       |            CAST(len(qd.toks) + len(dd.toks)
       |                 - len(list_intersect(qd.toks, dd.toks)) AS DOUBLE)) DESC,
       |           cand.id) AS rank
       |  FROM cand JOIN d qd ON qd.doc_id = cand.query_id
       |            JOIN d dd ON dd.doc_id = cand.id)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  private val q25Sql: String =
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |           FROM embeddings WHERE $bPred)
       |SELECT id, rank, neighbor_id FROM (
       |  SELECT a.id, b.id AS neighbor_id,
       |         row_number() OVER (PARTITION BY a.id
       |            ORDER BY list_distance(a.v, b.v), b.id) AS rank
       |  FROM e a CROSS JOIN e b WHERE a.id != b.id)
       |WHERE rank <= 5 ORDER BY id, rank""".stripMargin

  /** NN-descent iteration chain over a CTE `b(id, v)` — CTEs `cnt,
    * e0, u1..e{nIters}`, exactly NnDescent.build's loop: hash-seeded
    * init, then per round candidate generation (neighbors-of-neighbors
    * over the undirected edge set) + (dist, id) top-wk pruning.
    * Shared by q27's oracle and q53's base-layer build.
    *
    * The reverse-cap sampling window (salt 97) is NnDescent's only
    * sample, mirrored here verbatim.
    *
    * The round CTEs are MATERIALIZED, as are the graph, member and
    * prune CTEs below: each is read more than once downstream ($prev
    * three times per round, u$r twice, every g$l once per walk step
    * over layer l), and DuckDB inlines an unmarked CTE at every
    * reference, so the unrolled chains were recomputed over and over
    * — q27, q53, q55, q56 and q58 outgrew a 4 GB DuckDB. Each CTE is
    * now computed once and re-read: semantics-free.
    */
  private def nndCtes(wk: Int, nIters: Int): String = {
    val iters = (1 to nIters).map { r =>
      val prev = s"e${r - 1}"
      s"""u$r AS MATERIALIZED (SELECT id, nb FROM $prev
         |        UNION ALL
         |        SELECT id, nb FROM (
         |          SELECT p.nb AS id, p.id AS nb,
         |                 row_number() OVER (PARTITION BY p.nb
         |                   ORDER BY ((p.id % 1048576)
         |                             * ${graft.operators.NnDescent.mult(r, 97L)}
         |                             + 97) % 1048576,
         |                            p.id) AS rr
         |          FROM $prev p) WHERE rr <= $wk),
         |c$r AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
         |   SELECT a.src, z.dst FROM
         |     (SELECT nb AS mid, id AS src FROM u$r) a
         |     JOIN (SELECT nb AS mid, id AS dst FROM u$r) z ON a.mid = z.mid
         |   WHERE a.src != z.dst
         |   UNION ALL SELECT id AS src, nb AS dst FROM $prev)),
         |e$r AS MATERIALIZED (SELECT src AS id, dst AS nb FROM (
         |   SELECT c.src, c.dst,
         |          row_number() OVER (PARTITION BY c.src
         |            ORDER BY list_distance(vs.v, vd.v), c.dst) AS rn
         |   FROM c$r c JOIN b vs ON vs.id = c.src JOIN b vd ON vd.id = c.dst)
         | WHERE rn <= $wk)""".stripMargin
    }.mkString(",\n")
    s"""cnt AS (SELECT count(*) AS n FROM b),
       |e0 AS MATERIALIZED (SELECT DISTINCT id, nb FROM (
       |   SELECT b.id, ((b.id + ii.i * 7919) * 2654435761 + 42) % cnt.n AS nb
       |   FROM b CROSS JOIN (SELECT unnest(range(1, ${wk + 1})) AS i) ii
       |          CROSS JOIN cnt) WHERE nb != id),
       |$iters""".stripMargin
  }

  /** NN-descent unrolled (q27): [[nndCtes]] at q27's wk=15 / 4 iters,
    * then the final k=5 rerank — NnDescent.build(k=5) end to end.
    */
  private val nnDescentSql: String =
    s"""WITH b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |           FROM embeddings WHERE $bPred),
       |${nndCtes(15, 4)}
       |SELECT id, rank, neighbor_id FROM (
       |  SELECT e.id, e.nb AS neighbor_id,
       |         row_number() OVER (PARTITION BY e.id
       |           ORDER BY list_distance(vs.v, vd.v), e.nb) AS rank
       |  FROM e4 e JOIN b vs ON vs.id = e.id JOIN b vd ON vd.id = e.nb)
       |WHERE rank <= 5 ORDER BY id, rank""".stripMargin

  /** q19 oracle: the layered-graph build + the multi-layer descent
    * unrolled. lh adds the level hash (GraphSearch.levelHash: high
    * bits of a bounded multiplicative hash); layer-l membership is
    * (h & (2^l - 1)) = 0 so layers nest and halve. g0 is the base
    * exact graph at GraphDeg; g1..g(levels-1) are per-layer exact
    * graphs at UpperDeg among members. The visited set s_i grows one
    * beam step per layer top-down (width UpperBeam), then BeamRounds
    * base steps (width Beam); final answer = top-K of everything
    * visited, (distance, id) tie-breaks throughout — bit-identical to
    * the Spark descent.
    */
  // per-layer kNN at the layer's degree, then SYMMETRIZED (UNION
  // dedups — Spark's unionByName().distinct())
  private def graphCte(l: Int, from: String, deg: Int): String =
    s"""k$l AS MATERIALIZED (SELECT id, neighbor_id FROM (
       |   SELECT a.id, z.id AS neighbor_id,
       |          row_number() OVER (PARTITION BY a.id
       |            ORDER BY list_distance(a.v, z.v), z.id) AS rank
       |   FROM $from a CROSS JOIN $from z WHERE a.id != z.id)
       | WHERE rank <= $deg),
       |g$l AS MATERIALIZED (SELECT id, neighbor_id FROM k$l
       |        UNION
       |        SELECT neighbor_id AS id, id AS neighbor_id FROM k$l)""".stripMargin

  /** Layer-l member CTE m$l (over the level-hash CTE `lh`). */
  private def memberCte(l: Int): String = {
    val mask = (1L << l) - 1
    s"m$l AS MATERIALIZED (SELECT id, v FROM lh WHERE (h & $mask) = 0)"
  }

  /** Default upper-layer block: exact per-layer kNN at UpperDeg,
    * symmetrized (q19/q53's upper tier).
    */
  private def upperGraphExact(l: Int): String =
    s"""${memberCte(l)},
       |${graphCte(l, s"m$l", UpperDeg)}""".stripMargin

  /** The diversify prune over a candidate CTE `$cand(id, neighbor_id,
    * rank)` — GraphSearch.diversify's order-free
    * SELECT-NEIGHBORS-HEURISTIC: drop candidate i when some
    * earlier-ranked j sits strictly closer to i than the node does
    * (vectors from `b`; member ids always resolve there), survivors
    * re-ranked 1..≤m into dv$tag. `backfill` mirrors the Scala
    * keepPrunedConnections flag: survivors first, then pruned
    * candidates, both in candidate-rank order, top m.
    */
  /** `vecs` names the CTE the three distance lookups resolve against
    * — "b" for in-corpus nodes (q54/q55); q56 passes a union CTE
    * because the pruned node is an INSERTED row outside `b`.
    */
  private def diversifyCtes(tag: String, cand: String, m: Int,
      backfill: Boolean = false, vecs: String = "b"): String = {
    val keep = if (backfill)
      s"""dv$tag AS MATERIALIZED (SELECT id, neighbor_id FROM (
         |   SELECT k.id, k.neighbor_id,
         |          row_number() OVER (PARTITION BY k.id
         |            ORDER BY (CASE WHEN p.rank IS NULL THEN 0 ELSE 1 END),
         |                     k.rank) AS rn
         |   FROM $cand k LEFT JOIN pr$tag p
         |     ON p.id = k.id AND p.rank = k.rank)
         | WHERE rn <= $m)""".stripMargin
    else
      s"""dv$tag AS MATERIALIZED (SELECT id, neighbor_id FROM (
         |   SELECT k.id, k.neighbor_id,
         |          row_number() OVER (PARTITION BY k.id ORDER BY k.rank) AS rn
         |   FROM $cand k
         |   WHERE NOT EXISTS (SELECT 1 FROM pr$tag
         |                     WHERE pr$tag.id = k.id AND pr$tag.rank = k.rank))
         | WHERE rn <= $m)""".stripMargin
    s"""pr$tag AS MATERIALIZED (SELECT DISTINCT ki.id, ki.rank FROM $cand ki
       |       JOIN $cand kj ON kj.id = ki.id AND kj.rank < ki.rank
       |       JOIN $vecs vi ON vi.id = ki.neighbor_id
       |       JOIN $vecs vj ON vj.id = kj.neighbor_id
       |       JOIN $vecs v0 ON v0.id = ki.id
       |       WHERE list_distance(vi.v, vj.v) < list_distance(v0.v, vi.v)),
       |$keep""".stripMargin
  }

  /** The layered-stack descent unrolled over a pluggable BASE-layer
    * graph block (CTEs defining `g0` over `b`): exact build for q19,
    * NN-descent build for q53 — the search walk is identical. The
    * upper tier is pluggable too (q55 diversifies it).
    */
  // descent schedule: one step per upper layer (top-down), then the
  // base rounds — identical to GraphSearch.hierarchicalSearch. Shared
  // by the search oracles (q19/q53/q55) and q56's insert oracle
  // (whose link rule reads the INTERMEDIATE visited sets s_i).
  private val walkSteps: Seq[(Int, Int)] =
    ((GraphLayers - 1) to 1 by -1).map(l => (l, UpperBeam)) ++
      Seq.fill(HierRounds)((0, HierBeam))

  // every visited set is MATERIALIZED: s(i+1) references s(i) twice
  // (the carry-forward union and the beam re-rank), so inline CTE
  // expansion doubles per step — 2^steps copies of the whole upstream
  // build chain in the planner. q19/q53/q55 survived that; q56 reads
  // four INTERMEDIATE sets on top and tipped the oracle from seconds
  // into minutes. Materialization is semantics-free (each s_i is
  // computed once and re-read).
  // Parameterized so one descent generator serves every walk in the
  // suite: `p` prefixes the per-step CTE names (q57 runs TWO walks in
  // one query — the update batch's insert descent and the post-
  // mutation query descent — which would otherwise collide on s$i),
  // `qCte`/`vCte` name the query and scoring-vector CTEs (q56 walks
  // the insert batch; q57's query walk scores against the MERGED
  // latest-wins vectors), `gPre` prefixes the per-layer graph CTEs
  // (q57's query walk expands over the mutated stack gm$l).
  private def walkCtesFor(p: String, qCte: String, vCte: String,
      gPre: String): String =
    walkSteps.zipWithIndex.map { case ((g, w), i) =>
      s"""${p}bm$i AS (SELECT query_id, id FROM (
         |   SELECT s.query_id, s.id,
         |          row_number() OVER (PARTITION BY s.query_id
         |            ORDER BY list_distance(q.qv, b.v), s.id) AS rn
         |   FROM ${p}s$i s JOIN $qCte q ON q.query_id = s.query_id
         |        JOIN $vCte b ON b.id = s.id)
         | WHERE rn <= $w),
         |${p}s${i + 1} AS MATERIALIZED (SELECT query_id, id FROM ${p}s$i
         |        UNION
         |        SELECT m.query_id, g.neighbor_id
         |        FROM ${p}bm$i m JOIN $gPre$g g ON g.id = m.id)""".stripMargin
    }.mkString(",\n")

  private val walkCtes: String = walkCtesFor("", "q", "b", "g")

  private def layeredSearchSql(g0Block: String,
      upperBlock: Int => String = upperGraphExact): String = {
    val upperGraphs = (1 until GraphLayers).map(upperBlock).mkString(",\n")
    val steps = walkSteps
    val walk = walkCtes
    val topMask = (1L << GraphLayers) - 1
    s"""WITH b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |           FROM embeddings WHERE $bPred),
       |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |      FROM embeddings WHERE $qPred),
       |lh AS (SELECT id, v,
       |         ((id % 1048576) * 2654435761 + 42) >> 20 AS h FROM b),
       |$g0Block,
       |$upperGraphs,
       |s0 AS (SELECT q.query_id, t.id
       |       FROM q CROSS JOIN (SELECT id FROM lh WHERE (h & $topMask) = 0) t),
       |$walk
       |SELECT query_id, rank, neighbor_id FROM (
       |  SELECT s.query_id, s.id AS neighbor_id,
       |         row_number() OVER (PARTITION BY s.query_id
       |           ORDER BY list_distance(q.qv, b.v), s.id) AS rank
       |  FROM s${steps.length} s JOIN q USING (query_id) JOIN b USING (id))
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  private val q19Sql: String = layeredSearchSql(graphCte(0, "b", GraphDeg))

  /** q54 oracle: exact top-GraphDeg lists, the all-earlier-candidates
    * prune (strict <, same float→double distance math as the Spark
    * kernels), survivors re-ranked 1..DivM.
    */
  private val q54Sql: String =
    s"""WITH b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |           FROM embeddings WHERE $bPred),
       |k0 AS (SELECT id, neighbor_id, rank FROM (
       |   SELECT a.id, z.id AS neighbor_id,
       |          row_number() OVER (PARTITION BY a.id
       |            ORDER BY list_distance(a.v, z.v), z.id) AS rank
       |   FROM b a CROSS JOIN b z WHERE a.id != z.id)
       | WHERE rank <= $GraphDeg),
       |pr AS (SELECT DISTINCT ki.id, ki.rank FROM k0 ki
       |       JOIN k0 kj ON kj.id = ki.id AND kj.rank < ki.rank
       |       JOIN b vi ON vi.id = ki.neighbor_id
       |       JOIN b vj ON vj.id = kj.neighbor_id
       |       JOIN b v0 ON v0.id = ki.id
       |       WHERE list_distance(vi.v, vj.v) < list_distance(v0.v, vi.v)),
       |keep AS (SELECT k.id, k.neighbor_id, k.rank FROM k0 k
       |         WHERE NOT EXISTS (SELECT 1 FROM pr
       |                           WHERE pr.id = k.id AND pr.rank = k.rank))
       |SELECT id, rank, neighbor_id FROM (
       |  SELECT id, neighbor_id, row_number() OVER (PARTITION BY id
       |           ORDER BY rank) AS rank FROM keep)
       |WHERE rank <= $DivM ORDER BY id, rank""".stripMargin

  /** q53 oracle: same descent, base layer from [[nndCtes]] at
    * wk=GraphDeg (factor 1) / NndIters — NnDescent.build(GraphDeg)'s
    * final rerank (k0) then symmetrization (g0), mirroring
    * GraphSearch.buildLayeredGraphsNnd bit for bit.
    */
  private val q53Sql: String = layeredSearchSql(
    s"""${nndCtes(GraphDeg, NndIters)},
       |k0 AS (SELECT id, nb AS neighbor_id FROM (
       |   SELECT e.id, e.nb,
       |          row_number() OVER (PARTITION BY e.id
       |            ORDER BY list_distance(vs.v, vd.v), e.nb) AS rank
       |   FROM e$NndIters e JOIN b vs ON vs.id = e.id
       |                     JOIN b vd ON vd.id = e.nb)
       | WHERE rank <= $GraphDeg),
       |g0 AS (SELECT id, neighbor_id FROM k0
       |       UNION
       |       SELECT neighbor_id AS id, id AS neighbor_id FROM k0)""".stripMargin)

  /** q55 oracle: the composed build — q53's NN-descent base candidates
    * (same [[nndCtes]] chain, RANK KEPT) through the q54 prune with
    * backfill ([[diversifyCtes]]) to DivM; upper layers are all
    * exact-tier at gate scale (every layer ≤ exactCap members) so
    * they are q19/q53's exact top-UpperDeg blocks unpruned; then the
    * identical descent walk. Mirrors
    * GraphSearch.buildLayeredGraphsDiversified bit for bit.
    */
  private val q55Sql: String = layeredSearchSql(
    s"""${nndCtes(GraphDeg, NndIters)},
       |kc0 AS (SELECT id, nb AS neighbor_id, rank FROM (
       |   SELECT e.id, e.nb,
       |          row_number() OVER (PARTITION BY e.id
       |            ORDER BY list_distance(vs.v, vd.v), e.nb) AS rank
       |   FROM e$NndIters e JOIN b vs ON vs.id = e.id
       |                     JOIN b vd ON vd.id = e.nb)
       | WHERE rank <= $GraphDeg),
       |${diversifyCtes("c0", "kc0", DivM, backfill = true)},
       |g0 AS (SELECT id, neighbor_id FROM dvc0
       |       UNION
       |       SELECT neighbor_id AS id, id AS neighbor_id FROM dvc0)""".stripMargin)

  /** q56 oracle: the insert unrolled. `b` is the stack's corpus (train
    * MINUS the insert slice), `q` the inserted batch; the stack build
    * is q55's block verbatim over the reduced `b`, the descent is the
    * shared [[walkCtes]] chain, and the links read the INTERMEDIATE
    * visited sets: after the layer-l step the walk has visited
    * s(GraphLayers - l), all layer-l members by nesting, so lk$l is
    * its top-UpperDeg for batch nodes whose level-hash reaches l;
    * the base links are the final set's top-GraphDeg through the
    * backfilled SELECT-NEIGHBORS-HEURISTIC prune (vectors resolved
    * against b ∪ batch — the pruned node is the inserted row). The
    * result is the symmetrized union — GraphSearch.insertBatch bit
    * for bit.
    *
    * Factored as the shared prefix [[insertChainCtes]] (everything up
    * to the forward link set `fwd`) because q58's compaction oracle
    * replays the identical build + insert chain before re-pruning the
    * merged stack.
    */
  private val insertChainCtes: String = {
    val upperGraphs = (1 until GraphLayers).map(upperGraphExact)
      .mkString(",\n")
    val topMask = (1L << GraphLayers) - 1
    val upperLinks = (1 until GraphLayers).map { l =>
      val mask = (1L << l) - 1
      s"""lk$l AS (SELECT $l AS layer, t.query_id AS id, t.id AS neighbor_id
         | FROM (
         |   SELECT s.query_id, s.id,
         |          row_number() OVER (PARTITION BY s.query_id
         |            ORDER BY list_distance(q.qv, b.v), s.id) AS rn
         |   FROM s${GraphLayers - l} s JOIN q USING (query_id)
         |        JOIN b USING (id)
         |        JOIN qlh USING (query_id)
         |   WHERE (qlh.h & $mask) = 0) t
         | WHERE t.rn <= $UpperDeg)""".stripMargin
    }.mkString(",\n")
    val fwdUpper = (1 until GraphLayers)
      .map(l => s"UNION ALL SELECT layer, id, neighbor_id FROM lk$l")
      .mkString("\n")
    s"""WITH b AS MATERIALIZED (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |           FROM embeddings
       |           WHERE ($bPred) AND vec_id % $InsertMod <> $InsertRes),
       |q AS MATERIALIZED (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |      FROM embeddings
       |      WHERE ($bPred) AND vec_id % $InsertMod = $InsertRes),
       |lh AS (SELECT id, v,
       |         ((id % 1048576) * 2654435761 + 42) >> 20 AS h FROM b),
       |qlh AS (SELECT query_id,
       |          ((query_id % 1048576) * 2654435761 + 42) >> 20 AS h FROM q),
       |${nndCtes(GraphDeg, NndIters)},
       |kc0 AS (SELECT id, nb AS neighbor_id, rank FROM (
       |   SELECT e.id, e.nb,
       |          row_number() OVER (PARTITION BY e.id
       |            ORDER BY list_distance(vs.v, vd.v), e.nb) AS rank
       |   FROM e$NndIters e JOIN b vs ON vs.id = e.id
       |                     JOIN b vd ON vd.id = e.nb)
       | WHERE rank <= $GraphDeg),
       |${diversifyCtes("c0", "kc0", DivM, backfill = true)},
       |g0 AS (SELECT id, neighbor_id FROM dvc0
       |       UNION
       |       SELECT neighbor_id AS id, id AS neighbor_id FROM dvc0),
       |$upperGraphs,
       |s0 AS (SELECT q.query_id, t.id
       |       FROM q CROSS JOIN (SELECT id FROM lh WHERE (h & $topMask) = 0) t),
       |$walkCtes,
       |$upperLinks,
       |cand0 AS MATERIALIZED (
       | SELECT t.query_id AS id, t.id AS neighbor_id, t.rn AS rank
       | FROM (
       |   SELECT s.query_id, s.id,
       |          row_number() OVER (PARTITION BY s.query_id
       |            ORDER BY list_distance(q.qv, b.v), s.id) AS rn
       |   FROM s${walkSteps.length} s JOIN q USING (query_id)
       |        JOIN b USING (id)) t
       | WHERE t.rn <= $GraphDeg),
       |bb AS MATERIALIZED (SELECT id, v FROM b
       |       UNION ALL SELECT query_id AS id, qv AS v FROM q),
       |${diversifyCtes("i0", "cand0", DivM, backfill = true, vecs = "bb")},
       |fwd AS (SELECT 0 AS layer, id, neighbor_id FROM dvi0
       |$fwdUpper)""".stripMargin
  }

  private val q56Sql: String =
    s"""$insertChainCtes
       |SELECT DISTINCT layer, id, neighbor_id FROM (
       |  SELECT layer, id, neighbor_id FROM fwd
       |  UNION ALL
       |  SELECT layer, neighbor_id AS id, id AS neighbor_id FROM fwd)
       |ORDER BY layer, id, neighbor_id""".stripMargin

  /** q58 oracle: the compaction unrolled. Replays q56's chain
    * ([[insertChainCtes]]: stack build over the reduced corpus, the
    * batch's descent, the link rule), symmetrizes the new edges into
    * `ins`, merges them into each layer's graph (mg$$l — set union,
    * mirroring the entry's distinct), then per layer: degree
    * histogram, hot = degree > cap, the hot nodes' CURRENT neighbors
    * ranked by (distance, id) against the full vector set `bb`, and
    * the backfilled SELECT-NEIGHBORS-HEURISTIC prune
    * ([[diversifyCtes]]) down to cap — GraphSearch.compactOverDegree
    * bit for bit, gated on the re-pruned adjacencies only (cold rows
    * pass through the operator verbatim; the spec asserts that, the
    * gate hashes the part compaction actually changes).
    */
  private val q58Sql: String = {
    val perLayer = (0 until GraphLayers).map { l =>
      val m = if (l == 0) DivM else UpperDeg
      s"""mg$l AS (SELECT id, neighbor_id FROM g$l
         |        UNION
         |        SELECT id, neighbor_id FROM ins WHERE layer = $l),
         |hot$l AS (SELECT id FROM (
         |   SELECT id, count(*) AS d FROM mg$l GROUP BY id)
         | WHERE d > $m),
         |hc$l AS (SELECT e.id, e.neighbor_id,
         |          row_number() OVER (PARTITION BY e.id
         |            ORDER BY list_distance(v0.v, vn.v), e.neighbor_id) AS rank
         |   FROM mg$l e JOIN hot$l h ON h.id = e.id
         |        JOIN bb v0 ON v0.id = e.id
         |        JOIN bb vn ON vn.id = e.neighbor_id),
         |${diversifyCtes(s"h$l", s"hc$l", m, backfill = true, vecs = "bb")}"""
        .stripMargin
    }.mkString(",\n")
    val out = (0 until GraphLayers)
      .map(l => s"SELECT $l AS layer, id, neighbor_id FROM dvh$l")
      .mkString("\n  UNION ALL\n  ")
    s"""$insertChainCtes,
       |ins AS MATERIALIZED (SELECT DISTINCT layer, id, neighbor_id FROM (
       |  SELECT layer, id, neighbor_id FROM fwd
       |  UNION ALL
       |  SELECT layer, neighbor_id AS id, id AS neighbor_id FROM fwd)),
       |$perLayer
       |SELECT layer, id, neighbor_id FROM (
       |  $out)
       |ORDER BY layer, id, neighbor_id""".stripMargin
  }

  /** q57 oracle: both walks unrolled in one query. The stack is q19's
    * exact build over the ORIGINAL vectors; the update batch descends
    * it exactly as q56's insert (u-prefixed walk chain, scoring
    * against the corpus MINUS the updated ids — insertBatch's base
    * excludes its batch), links via the same per-layer rule and the
    * backfilled prune (vectors resolved against the merged set, since
    * the pruned node is an updated row); the query walk then descends
    * the MUTATED stack (gm$l = g$l ∪ the new edges) scoring against
    * the latest-wins merged vectors; the final top-K excludes
    * tombstoned ids BEFORE ranking — hierarchicalSearch's tombstones
    * contract, GraphSearch.graphMutate bit for bit.
    */
  private val q57Sql: String = {
    val upperGraphs = (1 until GraphLayers).map(upperGraphExact)
      .mkString(",\n")
    val topMask = (1L << GraphLayers) - 1
    val upperLinks = (1 until GraphLayers).map { l =>
      val mask = (1L << l) - 1
      s"""ulk$l AS (SELECT $l AS layer, t.query_id AS id, t.id AS neighbor_id
         | FROM (
         |   SELECT s.query_id, s.id,
         |          row_number() OVER (PARTITION BY s.query_id
         |            ORDER BY list_distance(q.qv, b.v), s.id) AS rn
         |   FROM us${GraphLayers - l} s JOIN uq q ON q.query_id = s.query_id
         |        JOIN bmu b ON b.id = s.id
         |        JOIN uqlh ON uqlh.query_id = s.query_id
         |   WHERE (uqlh.h & $mask) = 0) t
         | WHERE t.rn <= $UpperDeg)""".stripMargin
    }.mkString(",\n")
    val ufwdUpper = (1 until GraphLayers)
      .map(l => s"UNION ALL SELECT layer, id, neighbor_id FROM ulk$l")
      .mkString("\n")
    val mutatedGraphs = (0 until GraphLayers).map { l =>
      s"""gm$l AS (SELECT id, neighbor_id FROM g$l
         |        UNION
         |        SELECT id, neighbor_id FROM ue WHERE layer = $l)""".stripMargin
    }.mkString(",\n")
    s"""WITH b AS MATERIALIZED (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |           FROM embeddings WHERE $bPred),
       |q AS MATERIALIZED (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |      FROM embeddings WHERE $qPred),
       |tmb AS (SELECT id FROM b WHERE id % $MutMod = $DelRes),
       |uq AS MATERIALIZED (SELECT id AS query_id, list_reverse(v) AS qv
       |      FROM b WHERE id % $MutMod = $UpdRes),
       |bmu AS MATERIALIZED (SELECT id, v FROM b
       |      WHERE id % $MutMod <> $UpdRes),
       |bm AS MATERIALIZED (SELECT id, v FROM bmu
       |      UNION ALL SELECT query_id AS id, qv AS v FROM uq),
       |lh AS (SELECT id, v,
       |         ((id % 1048576) * 2654435761 + 42) >> 20 AS h FROM b),
       |lhu AS (SELECT id,
       |         ((id % 1048576) * 2654435761 + 42) >> 20 AS h FROM bmu),
       |uqlh AS (SELECT query_id,
       |          ((query_id % 1048576) * 2654435761 + 42) >> 20 AS h FROM uq),
       |${graphCte(0, "b", GraphDeg)},
       |$upperGraphs,
       |us0 AS (SELECT uq.query_id, t.id
       |       FROM uq CROSS JOIN (SELECT id FROM lhu WHERE (h & $topMask) = 0) t),
       |${walkCtesFor("u", "uq", "bmu", "g")},
       |$upperLinks,
       |ucand0 AS MATERIALIZED (
       | SELECT t.query_id AS id, t.id AS neighbor_id, t.rn AS rank
       | FROM (
       |   SELECT s.query_id, s.id,
       |          row_number() OVER (PARTITION BY s.query_id
       |            ORDER BY list_distance(q.qv, b.v), s.id) AS rn
       |   FROM us${walkSteps.length} s JOIN uq q ON q.query_id = s.query_id
       |        JOIN bmu b ON b.id = s.id) t
       | WHERE t.rn <= $GraphDeg),
       |${diversifyCtes("u0", "ucand0", DivM, backfill = true, vecs = "bm")},
       |ufwd AS (SELECT 0 AS layer, id, neighbor_id FROM dvu0
       |$ufwdUpper),
       |ue AS (SELECT DISTINCT layer, id, neighbor_id FROM (
       |  SELECT layer, id, neighbor_id FROM ufwd
       |  UNION ALL
       |  SELECT layer, neighbor_id AS id, id AS neighbor_id FROM ufwd)),
       |$mutatedGraphs,
       |s0 AS (SELECT q.query_id, t.id
       |       FROM q CROSS JOIN (SELECT id FROM lh WHERE (h & $topMask) = 0) t),
       |${walkCtesFor("", "q", "bm", "gm")}
       |SELECT query_id, rank, neighbor_id FROM (
       |  SELECT s.query_id, s.id AS neighbor_id,
       |         row_number() OVER (PARTITION BY s.query_id
       |           ORDER BY list_distance(q.qv, b.v), s.id) AS rank
       |  FROM s${walkSteps.length} s JOIN q ON q.query_id = s.query_id
       |       JOIN bm b ON b.id = s.id
       |  WHERE NOT EXISTS (SELECT 1 FROM tmb WHERE tmb.id = s.id))
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  /** q36 oracle: the two-level descent in SQL — both levels' sample
    * init and argmin assignments, then the p1-cells → p2-leaves probe
    * rankings, all with the same (distance, index) tie-breaks the
    * first-min Spark assignment produces.
    */
  private val q36Sql: String =
    s"""WITH b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |           FROM embeddings WHERE $bPred),
       |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |      FROM embeddings WHERE $qPred),
       |c1 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS l1, v AS cv
       |       FROM (SELECT id, v FROM b ORDER BY id LIMIT $TreeL1)),
       |a1 AS (SELECT id, v, l1 FROM (
       |   SELECT b.id, b.v, c1.l1,
       |          row_number() OVER (PARTITION BY b.id
       |            ORDER BY list_distance(b.v, c1.cv), c1.l1) AS rn
       |   FROM b CROSS JOIN c1) WHERE rn = 1),
       |c2 AS (SELECT l1, rn - 1 AS l2, v AS cv FROM (
       |   SELECT l1, v, row_number() OVER (PARTITION BY l1 ORDER BY id) AS rn
       |   FROM a1) WHERE rn <= $TreeSub),
       |a2 AS (SELECT id, v, l1, l2 FROM (
       |   SELECT a.id, a.v, a.l1, c2.l2,
       |          row_number() OVER (PARTITION BY a.id
       |            ORDER BY list_distance(a.v, c2.cv), c2.l2) AS rn
       |   FROM a1 a JOIN c2 ON c2.l1 = a.l1) WHERE rn = 1),
       |p1 AS (SELECT query_id, l1 FROM (
       |   SELECT q.query_id, c1.l1,
       |          row_number() OVER (PARTITION BY q.query_id
       |            ORDER BY list_distance(q.qv, c1.cv), c1.l1) AS rn
       |   FROM q CROSS JOIN c1) WHERE rn <= $TreeP1),
       |p2 AS (SELECT query_id, l1, l2 FROM (
       |   SELECT q.query_id, c2.l1, c2.l2,
       |          row_number() OVER (PARTITION BY q.query_id
       |            ORDER BY list_distance(q.qv, c2.cv), c2.l1, c2.l2) AS rn
       |   FROM q JOIN p1 USING (query_id) JOIN c2 ON c2.l1 = p1.l1)
       | WHERE rn <= $TreeP2)
       |SELECT query_id, rank, neighbor_id FROM (
       |  SELECT q.query_id, a.id AS neighbor_id,
       |         row_number() OVER (PARTITION BY q.query_id
       |           ORDER BY list_distance(q.qv, a.v), a.id) AS rank
       |  FROM q JOIN p2 ON p2.query_id = q.query_id
       |         JOIN a2 a ON a.l1 = p2.l1 AND a.l2 = p2.l2)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** a06 oracle: every gated metric is derivable from (N, dim) and the
    * fixed index constants — the oracle recomputes the same size model
    * over count(*)/len(embedding).
    */
  private val a06Sql: String =
    s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n
       |            FROM embeddings WHERE $bPred),
       |     dd AS (SELECT CAST(len(embedding) AS BIGINT) AS dim
       |            FROM embeddings LIMIT 1)
       |SELECT index_name, n_rows, model_rows, bytes_index, bytes_model FROM (
       |  SELECT 'ivf_flat' AS index_name, n AS n_rows,
       |         CAST($NList AS BIGINT) AS model_rows,
       |         n * (12 + 4 * dim) AS bytes_index,
       |         $NList * dim * 8 AS bytes_model FROM nn, dd
       |  UNION ALL
       |  SELECT 'ivf_pq', n, CAST(${M * KStar} AS BIGINT),
       |         n * (12 + $M), $KStar * dim * 8 FROM nn, dd
       |  UNION ALL
       |  SELECT 'ivf_pq_aniso', n, CAST(${M * KStar} AS BIGINT),
       |         n * (12 + $M), $KStar * dim * 8 FROM nn, dd
       |  UNION ALL
       |  SELECT 'ivf_sq8', n, 2 * dim, n * (12 + dim), 2 * dim * 8 FROM nn, dd
       |  UNION ALL
       |  SELECT 'lsh_rhp', n * $NTables, CAST(${NTables * NBits} AS BIGINT),
       |         n * $NTables * 20, ${NTables * NBits} * dim * 8 FROM nn, dd)
       |ORDER BY index_name""".stripMargin

  /** q28 oracle: rebuild the mutation semantics in SQL — centroids
    * come from the ORIGINAL base (no rebuild), upserts are
    * latest-wins, deletes win last, assignment argmin runs over the
    * merged rows with the same (distance, cluster) tie-break.
    */
  private val q28Sql: String =
    s"""WITH b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |           FROM embeddings WHERE $bPred),
       |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |      FROM embeddings WHERE $qPred),
       |c AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cluster, v AS cv
       |      FROM (SELECT id, v FROM b ORDER BY id LIMIT $NList)),
       |ups AS (SELECT id, list_reverse(v) AS v FROM b WHERE id % 7 = 0
       |        UNION ALL SELECT query_id + 10000 AS id, qv AS v FROM q),
       |merged AS (SELECT * FROM (
       |    SELECT id, v FROM b WHERE id NOT IN (SELECT id FROM ups)
       |    UNION ALL SELECT id, v FROM ups)
       |  WHERE id NOT IN (SELECT id FROM b WHERE id % 10 = 5)),
       |asg AS (SELECT id, v, cluster FROM (
       |   SELECT m.id, m.v, c.cluster,
       |          row_number() OVER (PARTITION BY m.id
       |            ORDER BY list_distance(m.v, c.cv), c.cluster) AS rn
       |   FROM merged m CROSS JOIN c) WHERE rn = 1),
       |pr AS (SELECT query_id, cluster FROM (
       |   SELECT q.query_id, c.cluster,
       |          row_number() OVER (PARTITION BY q.query_id
       |            ORDER BY list_distance(q.qv, c.cv), c.cluster) AS rn
       |   FROM q CROSS JOIN c) WHERE rn <= $NProbe)
       |SELECT query_id, rank, neighbor_id FROM (
       |  SELECT q.query_id, a.id AS neighbor_id,
       |         row_number() OVER (PARTITION BY q.query_id
       |           ORDER BY list_distance(q.qv, a.v), a.id) AS rank
       |  FROM q JOIN pr ON pr.query_id = q.query_id
       |         JOIN asg a ON a.cluster = pr.cluster)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** q16 oracle: pack 60-bit words (q15's CTE), sample-init packed
    * centroids by id order, hamming argmin assignment and probes with
    * (distance, cluster) tie-breaks, exact hamming top-k in probed
    * cells with (distance, id) tie-breaks.
    */
  private val q16Sql: String = {
    def hamm(a: String, b: String) =
      s"""list_sum(list_transform(range(1, len($a) + 1),
         |  i -> bit_count(xor($a[CAST(i AS INT)], $b[CAST(i AS INT)]))))""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |p AS (SELECT vec_id,
       |        list_transform(range(0, (len(v) + 59) // 60), w ->
       |          CAST(list_sum(list_transform(range(0, 60), j ->
       |            CASE WHEN w * 60 + j < len(v) AND v[CAST(w * 60 + j + 1 AS INT)] > 0
       |                 THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
       |                 ELSE CAST(0 AS BIGINT) END)) AS BIGINT)) AS bits
       |      FROM e),
       |b AS (SELECT vec_id AS id, bits FROM p WHERE $bPred),
       |q AS (SELECT vec_id AS query_id, bits AS qb FROM p WHERE $qPred),
       |c AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cluster, bits AS cb
       |      FROM (SELECT id, bits FROM b ORDER BY id LIMIT $NList)),
       |asg AS (SELECT id, bits, cluster FROM (
       |   SELECT b.id, b.bits, c.cluster,
       |          row_number() OVER (PARTITION BY b.id
       |            ORDER BY ${hamm("b.bits", "c.cb")}, c.cluster) AS rn
       |   FROM b CROSS JOIN c) WHERE rn = 1),
       |pr AS (SELECT query_id, cluster FROM (
       |   SELECT q.query_id, c.cluster,
       |          row_number() OVER (PARTITION BY q.query_id
       |            ORDER BY ${hamm("q.qb", "c.cb")}, c.cluster) AS rn
       |   FROM q CROSS JOIN c) WHERE rn <= $NProbe)
       |SELECT query_id, rank, neighbor_id FROM (
       |  SELECT q.query_id, a.id AS neighbor_id,
       |         row_number() OVER (PARTITION BY q.query_id
       |           ORDER BY ${hamm("q.qb", "a.bits")}, a.id) AS rank
       |  FROM q JOIN pr ON pr.query_id = q.query_id
       |         JOIN asg a ON a.cluster = pr.cluster)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  /** q17 oracle: the ivfCte build + a fully-ranked probe list, then
    * one recall block per swept nprobe (integer hit counts, one exact
    * division each).
    */
  private val q17Sql: String = {
    val blocks = SweepNprobes.map { np =>
      s"""SELECT CAST($np AS BIGINT) AS nprobe,
         |       CAST((SELECT count(*) FROM (
         |          SELECT query_id, neighbor_id FROM (
         |            SELECT q.query_id, a.id AS neighbor_id,
         |                   row_number() OVER (PARTITION BY q.query_id
         |                     ORDER BY list_distance(q.qv, a.v), a.id) AS rank
         |            FROM q JOIN prr ON prr.query_id = q.query_id
         |                               AND prr.rn <= $np
         |                   JOIN asg a ON a.cluster = prr.cluster)
         |          WHERE rank <= $K) ap
         |          JOIN ex USING (query_id, neighbor_id)) AS DOUBLE) /
         |       CAST(${NQ * K} AS DOUBLE) AS avg_recall""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $ivfCte,
       |prr AS (SELECT query_id, cluster, rn FROM (
       |   SELECT q.query_id, c.cluster,
       |          row_number() OVER (PARTITION BY q.query_id
       |            ORDER BY list_distance(q.qv, c.cv), c.cluster) AS rn
       |   FROM q CROSS JOIN c) WHERE rn <= $NList),
       |ex AS (SELECT query_id, neighbor_id FROM (
       |   SELECT q.query_id, b.id AS neighbor_id,
       |          row_number() OVER (PARTITION BY q.query_id
       |            ORDER BY list_distance(q.qv, b.v), b.id) AS rank
       |   FROM q CROSS JOIN b) WHERE rank <= $K)
       |SELECT nprobe, avg_recall FROM (
       |$blocks
       |) ORDER BY nprobe""".stripMargin
  }

  /** q45 oracle: the shared IVF CTEs + the SQ8 code CTEs + the LSH
    * bucket CTEs built ONCE, then one (algo, value) block per grid
    * point — recall as integer hit counts over the per-family exact
    * GT, scanned_frac as integer candidate-pair counts over
    * NQ x Ntrain. Mirrors paramGrid exactly: IVF candidates are the
    * rows of cells with probe rank <= nprobe; LSH candidates the
    * DISTINCT bucket-collision pairs in tables < ntables.
    */
  private val q45Sql: String = {
    val sqBody = // st/prm/cod from ivfSqSql at maxCode 255 (q22's math)
      s"""st AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
         |       FROM b, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) u
         |       GROUP BY i),
         |prm AS (SELECT list(mn ORDER BY i) AS mns,
         |               list(CASE WHEN mx = mn THEN CAST(1.0 AS DOUBLE)
         |                         ELSE (mx - mn) / 255.0 END ORDER BY i) AS scs
         |        FROM st),
         |cod AS (SELECT a.id, a.cluster,
         |               list_transform(range(1, len(a.v) + 1),
         |                 i -> least(255, greatest(0,
         |                   CAST(round((a.v[i] - prm.mns[i]) / prm.scs[i]) AS INT))))
         |                 AS codes
         |        FROM asg a CROSS JOIN prm)""".stripMargin
    val sq8Dist =
      """sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |  list_transform(range(1, len(q.qv) + 1),
        |    i -> (q.qv[i] - (prm.mns[i] + cand.codes[i] * prm.scs[i])) *
        |         (q.qv[i] - (prm.mns[i] + cand.codes[i] * prm.scs[i])))),
        |  (acc, x) -> acc + x))""".stripMargin
    val lshBody = // bk/qbk from lshRhpSql (all NTables tables)
      s"""sv AS (SELECT row_number() OVER (ORDER BY id) - 1 AS rn, v
         |       FROM (SELECT id, v FROM b ORDER BY id LIMIT ${2 * NTables * NBits})),
         |pl AS (SELECT a.rn // 2 AS j,
         |              list_transform(range(1, len(a.v) + 1),
         |                i -> a.v[i] - c.v[i]) AS h
         |       FROM sv a JOIN sv c ON c.rn = a.rn + 1 WHERE a.rn % 2 = 0),
         |bk AS (SELECT x.id, pl.j // $NBits AS tbl,
         |              CAST(sum(CASE WHEN list_inner_product(x.v, pl.h) > 0
         |                   THEN (CAST(1 AS BIGINT) << CAST(pl.j % $NBits AS INT))
         |                   ELSE 0 END) AS BIGINT) AS bucket
         |       FROM b x CROSS JOIN pl GROUP BY x.id, pl.j // $NBits),
         |qbk AS (SELECT y.query_id, pl.j // $NBits AS tbl,
         |              CAST(sum(CASE WHEN list_inner_product(y.qv, pl.h) > 0
         |                   THEN (CAST(1 AS BIGINT) << CAST(pl.j % $NBits AS INT))
         |                   ELSE 0 END) AS BIGINT) AS bucket
         |       FROM q y CROSS JOIN pl GROUP BY y.query_id, pl.j // $NBits)""".stripMargin
    val denomSql = s"(SELECT count(*) FROM b) * $NQ"
    def ivfBlock(algo: String, np: Int, dist: String, extra: String) =
      s"""SELECT '$algo' AS algo, 'nprobe' AS param,
         |       CAST($np AS BIGINT) AS value,
         |       CAST((SELECT count(*) FROM (
         |          SELECT query_id, neighbor_id FROM (
         |            SELECT q.query_id, cand.id AS neighbor_id,
         |                   row_number() OVER (PARTITION BY q.query_id
         |                     ORDER BY $dist, cand.id) AS rank
         |            FROM q JOIN prr ON prr.query_id = q.query_id
         |                               AND prr.rn <= $np
         |                   JOIN $extra cand ON cand.cluster = prr.cluster
         |                   ${if (algo == "ivf_sq8") "CROSS JOIN prm" else ""})
         |          WHERE rank <= $K) ap
         |          JOIN ex USING (query_id, neighbor_id)) AS DOUBLE) /
         |       CAST(${NQ * K} AS DOUBLE) AS avg_recall,
         |       CAST((SELECT count(*)
         |             FROM q JOIN prr ON prr.query_id = q.query_id
         |                                AND prr.rn <= $np
         |                    JOIN asg a ON a.cluster = prr.cluster) AS DOUBLE) /
         |       CAST($denomSql AS DOUBLE) AS scanned_frac""".stripMargin
    def lshBlock(nt: Int) =
      s"""SELECT 'lsh_rhp' AS algo, 'ntables' AS param,
         |       CAST($nt AS BIGINT) AS value,
         |       CAST((SELECT count(*) FROM (
         |          SELECT query_id, neighbor_id FROM (
         |            SELECT cand.query_id, cand.id AS neighbor_id,
         |                   row_number() OVER (PARTITION BY cand.query_id
         |                     ORDER BY ${cosSql("q.qv", "bb.v")} DESC, cand.id) AS rank
         |            FROM (SELECT DISTINCT qb.query_id, xb.id
         |                  FROM bk xb JOIN qbk qb
         |                       ON qb.tbl = xb.tbl AND qb.bucket = xb.bucket
         |                  WHERE qb.tbl < $nt) cand
         |                 JOIN q ON q.query_id = cand.query_id
         |                 JOIN b bb ON bb.id = cand.id)
         |          WHERE rank <= $K) ap
         |          JOIN exc USING (query_id, neighbor_id)) AS DOUBLE) /
         |       CAST(${NQ * K} AS DOUBLE) AS avg_recall,
         |       CAST((SELECT count(*) FROM (
         |          SELECT DISTINCT qb.query_id, xb.id
         |          FROM bk xb JOIN qbk qb
         |               ON qb.tbl = xb.tbl AND qb.bucket = xb.bucket
         |          WHERE qb.tbl < $nt)) AS DOUBLE) /
         |       CAST($denomSql AS DOUBLE) AS scanned_frac""".stripMargin
    // PQ eta axis: q46's encode CTEs (n2/d/rx folds over the shared
    // codebook) specialised per eta, ADC-only top-K vs the exact-MIPS
    // truth, scanned_frac pinned at 1.0 (full scan by construction)
    def fold(term: String): String =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform(range(1, ${SubDim + 1}), i -> $term)),
         |  (acc, x) -> acc + x)""".stripMargin
    val pxi = s"a.v[pqcb.s * $SubDim + i]"
    val pqBody =
      s"""pqsv AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cent, v
         |         FROM (SELECT id, v FROM b ORDER BY id LIMIT $KStar)),
         |pqcb AS (SELECT pqsv.cent, ss.s,
         |           list_slice(pqsv.v, ss.s * $SubDim + 1,
         |                      (ss.s + 1) * $SubDim) AS cv
         |         FROM pqsv CROSS JOIN (SELECT unnest(range(0, $M)) AS s) ss),
         |pqel AS (SELECT a.id, pqcb.s, pqcb.cent,
         |           ${fold(s"$pxi * $pxi")} AS n2,
         |           ${fold(s"($pxi - pqcb.cv[i]) * ($pxi - pqcb.cv[i])")} AS d,
         |           ${fold(s"($pxi - pqcb.cv[i]) * $pxi")} AS rx
         |         FROM b a CROSS JOIN pqcb),
         |exd AS (SELECT query_id, neighbor_id FROM (
         |   SELECT q.query_id, b.id AS neighbor_id,
         |          row_number() OVER (PARTITION BY q.query_id
         |            ORDER BY list_inner_product(q.qv, b.v) DESC, b.id) AS rank
         |   FROM q CROSS JOIN b) WHERE rank <= $K)""".stripMargin
    def etaEnc(eta: Int): String =
      s"""enc$eta AS (SELECT id, s, cent FROM (
         |   SELECT id, s, cent,
         |          row_number() OVER (PARTITION BY id, s
         |            ORDER BY CASE WHEN n2 > 0.0
         |                          THEN d + ($eta.0 - 1.0) * rx * rx / n2
         |                          ELSE d END, cent) AS rn
         |   FROM pqel) WHERE rn = 1)""".stripMargin
    def etaBlock(eta: Int): String =
      s"""SELECT 'pq_aniso' AS algo, 'eta' AS param,
         |       CAST($eta AS BIGINT) AS value,
         |       CAST((SELECT count(*) FROM (
         |          SELECT query_id, neighbor_id FROM (
         |            SELECT t.query_id, t.id AS neighbor_id,
         |                   row_number() OVER (PARTITION BY t.query_id
         |                     ORDER BY t.adc DESC, t.id) AS rank
         |            FROM (SELECT tm.query_id, tm.id,
         |                         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |                           list(tm.t ORDER BY tm.s)),
         |                           (acc, x) -> acc + x) AS adc
         |                  FROM (SELECT q.query_id, e.id, e.s,
         |                               ${fold(s"q.qv[e.s * $SubDim + i] * pqcb.cv[i]")} AS t
         |                        FROM q CROSS JOIN enc$eta e
         |                             JOIN pqcb ON pqcb.s = e.s
         |                                      AND pqcb.cent = e.cent) tm
         |                  GROUP BY tm.query_id, tm.id) t)
         |          WHERE rank <= $K) ap
         |          JOIN exd USING (query_id, neighbor_id)) AS DOUBLE) /
         |       CAST(${NQ * K} AS DOUBLE) AS avg_recall,
         |       CAST(1.0 AS DOUBLE) AS scanned_frac""".stripMargin
    val blocks =
      (SweepNprobes.map(np =>
        ivfBlock("ivf_flat", np, "list_distance(q.qv, cand.v)", "asg")) ++
        SweepNprobes.map(np => ivfBlock("ivf_sq8", np, sq8Dist, "cod")) ++
        SweepTables.map(lshBlock) ++
        SweepEtas.map(etaBlock)).mkString("\nUNION ALL\n")
    s"""WITH $ivfCte,
       |prr AS (SELECT query_id, cluster, rn FROM (
       |   SELECT q.query_id, c.cluster,
       |          row_number() OVER (PARTITION BY q.query_id
       |            ORDER BY list_distance(q.qv, c.cv), c.cluster) AS rn
       |   FROM q CROSS JOIN c) WHERE rn <= $NList),
       |$sqBody,
       |$lshBody,
       |$pqBody,
       |${SweepEtas.map(etaEnc).mkString(",\n")},
       |ex AS (SELECT query_id, neighbor_id FROM (
       |   SELECT q.query_id, b.id AS neighbor_id,
       |          row_number() OVER (PARTITION BY q.query_id
       |            ORDER BY list_distance(q.qv, b.v), b.id) AS rank
       |   FROM q CROSS JOIN b) WHERE rank <= $K),
       |exc AS (SELECT query_id, neighbor_id FROM (
       |   SELECT q.query_id, b.id AS neighbor_id,
       |          row_number() OVER (PARTITION BY q.query_id
       |            ORDER BY ${cosSql("q.qv", "b.v")} DESC, b.id) AS rank
       |   FROM q CROSS JOIN b) WHERE rank <= $K)
       |SELECT algo, param, value, avg_recall, scanned_frac FROM (
       |$blocks
       |) ORDER BY algo, value""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "a06_index_build_metrics" -> a06Sql,
    "q16_bin_ivf" -> q16Sql,
    "q17_nprobe_sweep" -> q17Sql,
    "q45_param_grid" -> q45Sql,
    "q49_hybrid_index" -> q49Sql,
    "q51_hybrid_weighted" -> q51Sql,
    "q28_ivf_upsert" -> q28Sql,
    // identical semantics to q28 — only the storage differs
    "q29_ivf_upsert_persisted" -> q28Sql,
    "q12_recall_at_k" -> recallSql,
    "q19_graph_search" -> q19Sql,
    "q53_graph_stack_nnd" -> q53Sql,
    "q54_graph_diversify" -> q54Sql,
    "q55_graph_stack_diversified" -> q55Sql,
    "q56_graph_insert" -> q56Sql,
    "q57_graph_mutate" -> q57Sql,
    "q58_graph_compact" -> q58Sql,
    "q20_ivf_flat" -> ivfFlatSql,
    "q52_ivf_range" -> ivfRangeSql,
    "m05_mm_ann" -> mmAnnSql,
    "q39_ivf_filtered" -> ivfFilteredSql,
    "q21_ivf_pq" -> ivfPqSql,
    "q46_scann_aniso" -> q46Sql,
    "q22_ivf_sq8" -> ivfSqSql(255),
    // persistence is lossless over the codes — same math as q22
    "q42_sq8_persisted" -> ivfSqSql(255),
    "q37_ivf_sq4" -> ivfSqSql(15),
    "q23_lsh_rhp" -> lshRhpSql,
    "q24_lsh_minhash" -> lshMinhashSql,
    "q25_graph_knn" -> q25Sql,
    "q26_ivf_persisted" -> ivfFlatSql,
    // streaming ingest lands the same index content as the batch build
    "q35_stream_index_ingest" -> ivfFlatSql,
    "q36_ivf_tree" -> q36Sql,
    "q27_nn_descent" -> nnDescentSql
  )
}
