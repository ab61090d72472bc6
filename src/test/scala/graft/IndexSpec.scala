package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

class IndexSpec extends AnyFunSuite {
  import TestSpark._
  val sf001 = "/root/testdata/sf0.01"

  // exact ground truth over the SAME held-out split the gated entries
  // use (train base, test queries) — recall here is out-of-sample
  private def exactTop10(dir: String, metric: VecMetric) = {
    val emb = Tables.embeddings(spark, dir)
    KnnSearch.bruteForce(
      emb.filter(graft.queries.Split.isTrain(col("vec_id")))
        .select(col("vec_id").as("id"), col("embedding").as("vec")),
      emb.filter(graft.queries.Split.isQuery(col("vec_id"), 10))
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
      10, metric)
      .select("query_id", "neighbor_id")
  }

  private def recallOf(name: String,
      metric: VecMetric = VecMetric.Euclidean): Double = {
    val approx = SparkEntry.queries(name)(spark, sf001)
      .select("query_id", "neighbor_id")
    val exact = exactTop10(sf001, metric)
    val hits = approx.intersect(exact).count().toDouble
    hits / exact.count().toDouble
  }

  // thresholds calibrated OUT-OF-SAMPLE on the *unstructured*
  // synthetic corpus — the hard case for locality indexes (no cluster
  // structure, top-10 cosine neighbors at 60-70 degrees), with
  // held-out queries (Split) never present in the indexed base.
  // Measured: IVF 0.72, SQ8 0.72, SQ4 0.71, PQ+rerank passes 0.7,
  // LSH-RHP 0.35, graph 0.83, tree 0.70, bin-IVF 0.62.
  test("IVF-FLAT recall@10 >= 0.65 with nprobe=6/16 (measured 0.72 held-out)") {
    assert(recallOf("q20_ivf_flat") >= 0.65)
  }

  test("q28 upsert semantics: deletes gone, duplicate inserts found at distance 0") {
    val got = SparkEntry.queries("q28_ivf_upsert")(spark, sf001).collect()
    val byQuery = got.groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
    byQuery.foreach { case (q, nbrs) =>
      // deleted train rows (id % 10 == 5) are gone; new ids (+10000) exempt
      assert(!nbrs.exists(n => n < 10000 && n % 10 == 5),
        s"query $q returned deleted id in $nbrs")
      // the held-out test split was never indexed in the first place
      assert(!nbrs.exists(n => n < 10000 && n % 10 == 0),
        s"query $q returned a test-split id in $nbrs")
      // the inserted exact copy of the query vector is a distance-0 neighbor
      assert(nbrs.contains(q + 10000),
        s"query $q missing its inserted duplicate in $nbrs")
    }
  }

  test("multi-probe LSH strictly improves recall at fixed table count") {
    val emb = Tables.embeddings(spark, sf001)
    val base = emb.filter(graft.queries.Split.isTrain(col("vec_id")))
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(graft.queries.Split.isQuery(col("vec_id"), 10))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val model = LshRhp.trainFromData(base, "vec", nTables = 8, nBits = 6)
    val exact = exactTop10(sf001, VecMetric.Cosine)
    def recall(multiProbe: Int): Double = {
      val approx = LshRhp.search(base, queries, model, 10, multiProbe)
        .select("query_id", "neighbor_id")
      approx.intersect(exact).count().toDouble / exact.count().toDouble
    }
    val r0 = recall(0)
    val r6 = recall(6)
    assert(r6 > r0, s"multi-probe $r6 not above single-probe $r0")
    assert(r6 >= 0.75, s"full 1-flip probing recall $r6")
  }

  test("binary IVF recall@10 >= 0.55 vs exact packed hamming (measured 0.62 held-out)") {
    val approx = SparkEntry.queries("q16_bin_ivf")(spark, sf001)
      .select("query_id", "neighbor_id")
    val exact = SparkEntry.queries("q15_knn_hamming_packed")(spark, sf001)
      .select("query_id", "neighbor_id")
    val hits = approx.intersect(exact).count().toDouble
    assert(hits / exact.count().toDouble >= 0.55)
  }

  test("persisted upsert drops a cell its deletes emptied (no stale partition)") {
    import org.apache.spark.sql.functions.col
    val spark2 = spark
    import spark2.implicits._
    // 2 centroids far apart; ids 0,1 -> cell of (0,0), ids 2,3 -> cell of (9,9)
    val vecs = Seq(
      (0L, Array(0f, 0f)), (1L, Array(0.5f, 0f)),
      (2L, Array(9f, 9f)), (3L, Array(9.5f, 9f))).toDF("id", "vec")
    val cents = Array(Array(0.0, 0.0), Array(9.0, 9.0))
    val p = java.nio.file.Files.createTempDirectory("graft_ups_test").toString
    try {
      IvfIndex.persistIndex(IvfIndex.assign(vecs, "vec", cents), p)
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(p, "cluster=1")))
      // delete BOTH members of cell 1, upsert nothing
      val deletes = Seq(2L, 3L).toDF("id")
      val noUpserts = Seq.empty[(Long, Array[Float])].toDF("id", "vec")
      IvfIndex.upsertPersisted(spark, p,
        IvfIndex.assign(noUpserts, "vec", cents), deletes)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(p, "cluster=1")),
        "emptied cell directory must be dropped")
      val left = spark.read.parquet(p).select("id").as[Long].collect().toSet
      assert(left == Set(0L, 1L))
    } finally graft.streaming.Checkpoints.deleteRecursively(p)
  }

  test("persisted upsert rewrites a touched cell as one file") {
    val spark2 = spark
    import spark2.implicits._
    val cents = Array(Array(0.0, 0.0), Array(9.0, 9.0))
    val vecs = (0L until 8L).map(i => (i, Array(i * 0.1f, 0f))) ++
      (8L until 12L).map(i => (i, Array(9f, i * 0.1f)))
    val p = java.nio.file.Files.createTempDirectory("graft_ups_files").toString
    try {
      IvfIndex.persistIndex(IvfIndex.assign(
        vecs.toDF("id", "vec").repartition(4), "vec", cents), p)
      def files(cell: Int): Long = java.nio.file.Files
        .list(java.nio.file.Paths.get(p, s"cluster=$cell"))
        .filter(_.toString.endsWith(".parquet")).count()
      assert(files(0) > 1, "the initial layout should split cell 0")
      val ups = Seq((3L, Array(0.2f, 0.1f)), (20L, Array(0.1f, 0.2f)))
        .toDF("id", "vec")
      IvfIndex.upsertPersisted(spark, p, IvfIndex.assign(ups, "vec", cents),
        Seq(5L).toDF("id"))
      assert(files(0) == 1)
      val left = spark.read.parquet(p).select("id").as[Long].collect().toSet
      assert(left == (0L until 12L).toSet - 5L + 20L)
    } finally graft.streaming.Checkpoints.deleteRecursively(p)
  }

  test("q29 persisted upsert returns exactly q28's merged-index results") {
    val asTuples = (name: String) => SparkEntry.queries(name)(spark, sf001)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    assert(asTuples("q29_ivf_upsert_persisted") == asTuples("q28_ivf_upsert"))
  }

  test("q35 streamed index lands exactly the batch-built q20 results") {
    val asTuples = (name: String) => SparkEntry.queries(name)(spark, sf001)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    assert(asTuples("q35_stream_index_ingest") == asTuples("q20_ivf_flat"))
  }

  test("ingest compaction: per-cell file count collapses, search unchanged") {
    import graft.streaming.VectorIngest
    val emb = Tables.embeddings(spark, sf001)
    val base = emb.filter(graft.queries.Split.isTrain(col("vec_id")))
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(graft.queries.Split.isQuery(col("vec_id"), 10))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val cents = IvfIndex.sampleCentroids(base, "vec", 16)
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_compact").toString
    try {
      // reproduce the streaming append shape: 6 micro-batch-sized
      // slices, each appended separately -> ~6 files per touched cell
      val assigned = IvfIndex.assign(base, "vec", cents).localCheckpoint(true)
      for (slice <- 0 until 6)
        assigned.filter(pmod(col("id"), lit(6)) === slice)
          .write.mode("append").partitionBy("cluster").parquet(idxPath)
      def parquetFiles(): Int = {
        def walk(f: java.io.File): Int =
          if (f.isDirectory) f.listFiles().map(walk).sum
          else if (f.getName.endsWith(".parquet")) 1 else 0
        walk(new java.io.File(idxPath))
      }
      val before = parquetFiles()
      val preSearch = IvfIndex.searchPersisted(spark, idxPath, queries, cents,
        10, 6, VecMetric.Euclidean)
        .select("query_id", "rank", "neighbor_id").collect().toSet
      val nCompacted = VectorIngest.compactIndex(spark, idxPath,
        maxFilesPerCell = 2)
      val after = parquetFiles()
      assert(nCompacted > 0, "no cell was fragmented enough to compact")
      assert(after < before, s"file count did not drop: $before -> $after")
      val postSearch = IvfIndex.searchPersisted(spark, idxPath, queries, cents,
        10, 6, VecMetric.Euclidean)
        .select("query_id", "rank", "neighbor_id").collect().toSet
      assert(postSearch == preSearch, "compaction changed search results")
    } finally graft.streaming.Checkpoints.deleteRecursively(idxPath)
  }

  test("q19 graph beam search recall@10 >= 0.75 (measured 0.83 held-out)") {
    assert(recallOf("q19_graph_search") >= 0.75)
  }

  /** Compare the r8 hierarchy (gated q19 constants) against the r7
    * champion (single 16-row coarse entry layer + beam-10 × 4-round
    * walk on the directed base graph) on one corpus: recall@10 and
    * average visited nodes.
    */
  private def hierVsFlat(base: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame,
      exact: org.apache.spark.sql.DataFrame)
      : ((Double, Double), (Double, Double)) = {
    import graft.queries.{IndexQueries => IQ}
    val nEx = exact.count().toDouble
    def eval(run: (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)): (Double, Double) = {
      val (topk, vis) = run
      val r = topk.select("query_id", "neighbor_id")
        .intersect(exact).count().toDouble / nEx
      (r, vis.agg(avg("n_visited")).head().getDouble(0))
    }
    val flatGraph = KnnSearch.bruteForceBlocked(base,
      base.select(col("id").as("query_id"), col("vec").as("qvec")),
      IQ.GraphDeg, VecMetric.Euclidean,
      pairFilter = Some(col("id") =!= col("query_id")))
      .select(col("query_id").as("id"), col("neighbor_id"))
      .localCheckpoint(true)
    val levels = IQ.levelsFor(base.count())
    val stack = GraphSearch.buildLayeredGraphs(base, levels,
      IQ.GraphDeg, IQ.UpperDeg, VecMetric.Euclidean).localCheckpoint(true)
    val flat = eval(GraphSearch.beamSearchWithVisited(base, flatGraph,
      queries, 10, IQ.Beam, IQ.BeamRounds, 16, IQ.EntryBeam,
      VecMetric.Euclidean))
    val hier = eval(GraphSearch.hierarchicalSearchWithVisited(base, stack,
      queries, 10, IQ.HierBeam, IQ.HierRounds, levels, IQ.UpperBeam))
    (flat, hier)
  }

  test("q19 hierarchy: equal-or-better recall, fewer visited (sf0.01)") {
    val emb = Tables.embeddings(spark, sf001)
    val base = emb.filter(graft.queries.Split.isTrain(col("vec_id")))
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .localCheckpoint(true)
    val queries = emb.filter(graft.queries.Split.isQuery(col("vec_id"), 10))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val exact = exactTop10(sf001, VecMetric.Euclidean).localCheckpoint(true)
    val ((flatR, flatV), (hierR, hierV)) = hierVsFlat(base, queries, exact)
    info(f"flat recall=$flatR%.3f visited=$flatV%.1f; " +
      f"hier recall=$hierR%.3f visited=$hierV%.1f")
    assert(hierR >= flatR, s"hierarchy recall $hierR below flat $flatR")
    assert(hierV < flatV, s"hierarchy visited $hierV not below flat $flatV")
  }

  test("q19 hierarchy dominates at 4k rows: fixed flat entry stops covering") {
    // the scale story: a FIXED 16-row entry set covers less and less
    // of the space as N grows, while the stack's top layer tracks
    // N/2^levels and the descent aims per query — measured .82 vs .41
    // recall at FEWER visited nodes on this corpus
    val corpus = graft.datagen.DataGen
      .randomFloat(spark, 4000, 32, centers = 32, seed = 7)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val base = corpus.filter(graft.queries.Split.isTrain(col("id")))
      .localCheckpoint(true)
    val queries = corpus.filter(graft.queries.Split.isQuery(col("id"), 50))
      .select(col("id").as("query_id"), col("vec").as("qvec"))
      .localCheckpoint(true)
    val exact = KnnSearch.bruteForce(base, queries, 10, VecMetric.Euclidean)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint(true)
    val ((flatR, flatV), (hierR, hierV)) = hierVsFlat(base, queries, exact)
    info(f"flat recall=$flatR%.3f visited=$flatV%.1f; " +
      f"hier recall=$hierR%.3f visited=$hierV%.1f")
    assert(hierR > flatR + 0.2,
      s"hierarchy recall $hierR does not dominate flat $flatR")
    assert(hierV < flatV, s"hierarchy visited $hierV not below flat $flatV")
  }

  test("q36 ivf tree recall@10 >= 0.6 scanning ~p2/(l1*sub) of data (measured 0.70 held-out)") {
    assert(recallOf("q36_ivf_tree") >= 0.6)
  }

  test("ivf tree assignment: every row lands in a leaf of its own L1 cell") {
    val emb = Tables.embeddings(spark, sf001)
    val base = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val m = IvfTree.sampleModel(base, "vec", 8, 4)
    val a = IvfTree.assign(base, "vec", m)
    assert(a.count() == base.count())
    val leaves = a.groupBy("l1", "l2").count().collect()
    leaves.foreach { r =>
      val (l1, l2) = (r.getInt(0), r.getInt(1))
      assert(l1 >= 0 && l1 < 8 && l2 >= 0 && l2 < m.sub(l1).length)
    }
  }

  test("ivf tree sampleModel repairs empty L1 cells from duplicate centroids") {
    import spark.implicits._
    // First 4 rows (the sampled centroids) are all identical, so cells
    // 1..3 get no members — sampleModel must seed them, not emit an
    // invalid model that assign() rejects.
    val dup = Array(1.0, 0.0)
    val rows = (0L until 4L).map(i => (i, dup)) ++
      (4L until 40L).map(i => (i, Array(i.toDouble / 40.0, 1.0)))
    val base = rows.toDF("id", "vec")
    val m = IvfTree.sampleModel(base, "vec", 4, 4)
    assert(m.sub.forall(_.nonEmpty))
    val a = IvfTree.assign(base, "vec", m)
    assert(a.count() == 40)
  }

  test("IVF-PQ (rerank) recall@10 >= 0.7") {
    assert(recallOf("q21_ivf_pq") >= 0.7)
  }

  test("IVF-SQ8 recall@10 >= 0.65 (quantization adds no loss over IVF)") {
    assert(recallOf("q22_ivf_sq8") >= 0.65)
  }

  test("q46 scann aniso MIPS recall@10 >= 0.7 (measured 0.82 held-out)") {
    assert(recallOf("q46_scann_aniso", VecMetric.InnerProduct) >= 0.7)
  }

  test("q46 aniso codes beat plain PQ on top-pair dot fidelity at equal bytes") {
    import graft.functions.pq_adc
    import graft.queries.{IndexQueries, Split}
    val emb = Tables.embeddings(spark, sf001)
    val base = emb.filter(Split.isTrain(col("vec_id")))
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(Split.isQuery(col("vec_id"), 10))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val pq = PqIndex.sampleModel(base, "vec", IndexQueries.M, IndexQueries.KStar)
    // the SCANN objective (Guo et al. 2020): the score-aware loss buys
    // approximate-inner-product fidelity ON THE PAIRS THAT MATTER —
    // the true MIPS top-k — at identical code bytes (same m, k*).
    // Overall recall may tie at this codebook size; the error on the
    // true-neighbor pairs must not (measured RMSE 0.140 aniso vs
    // 0.162 plain at sf0.01).
    val gt = KnnSearch.bruteForce(base, queries, 10, VecMetric.InnerProduct)
      .select(col("query_id"), col("neighbor_id"), col("score"))
    val qTbl = queries
      .withColumn("tbl", PqIndex.dotTable(col("qvec"), pq))
      .select("query_id", "tbl")
    def topPairMse(codes: org.apache.spark.sql.Column): Double =
      gt.join(base.withColumn("codes", codes)
          .select(col("id").as("neighbor_id"), col("codes")), "neighbor_id")
        .join(broadcast(qTbl), "query_id")
        .select(pow(pq_adc(col("codes"), col("tbl")) - col("score"), 2).as("e"))
        .agg(avg("e")).head().getDouble(0)
    val aniso = topPairMse(PqIndex.encodeAniso(col("vec"), pq, IndexQueries.Eta))
    val plain = topPairMse(PqIndex.encode(col("vec"), pq))
    assert(aniso < plain, s"aniso MSE $aniso !< plain MSE $plain")
  }

  test("q37 packed SQ4 recall@10 >= 0.65 at dim/2 bytes per row (measured 0.71 held-out)") {
    assert(recallOf("q37_ivf_sq4") >= 0.65)
  }

  test("sq4: fused packed distance equals L2 over decoded codes") {
    import spark.implicits._
    import graft.functions._
    val rng = new scala.util.Random(7)
    // 33 dims: exercises the partial second word (33 = 2*15 + 3)
    val vecs = (0 until 50).map(i => (i.toLong, Array.fill(33)(rng.nextFloat())))
    val df = vecs.toDF("id", "vec")
    val m = Sq8Index.train(df, "vec", maxCode = 15)
    val q = vecs.head._2
    val got = df.select(col("id"),
      sq4_l2(typedlit(q.toSeq), sq4_pack(col("vec"), m.mins, m.scales),
        m.mins, m.scales).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    vecs.foreach { case (id, v) =>
      val expected = math.sqrt(v.indices.map { i =>
        val code = math.max(0L, math.min(15L,
          math.round((v(i) - m.mins(i)) / m.scales(i)))).toInt
        val d = q(i) - (m.mins(i) + code * m.scales(i))
        d * d
      }.sum)
      assert(math.abs(got(id) - expected) < 1e-12, s"id $id")
    }
  }

  test("LSH-RHP recall@10 >= 0.3 vs cosine truth with 16x6-bit tables (measured 0.35 held-out)") {
    assert(recallOf("q23_lsh_rhp", VecMetric.Cosine) >= 0.3)
  }

  test("recall_at_k query averages >= 0.65 (measured 0.72 held-out)") {
    val df = SparkEntry.queries("q12_recall_at_k")(spark, sf001)
    val avg = df.agg(org.apache.spark.sql.functions.avg("recall"))
      .head().getDouble(0)
    assert(avg >= 0.65)
  }

  test("knn graph has 5 neighbors per node, none self") {
    val g = SparkEntry.queries("q25_graph_knn")(spark, sf)
    val n = Tables.embeddings(spark, sf)
      .filter(graft.queries.Split.isTrain(col("vec_id"))).count()
    assert(g.count() == n * 5)
    assert(g.filter(col("id") === col("neighbor_id")).count() == 0)
  }

  test("persisted IVF index: scan prunes to probed cell partitions, results match in-memory IVF") {
    val persisted = SparkEntry.queries("q26_ivf_persisted")(spark, sf001)
    val plan = persisted.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cluster"),
      s"no partition pruning in plan:\n${plan.take(2000)}")
    val inMem = SparkEntry.queries("q20_ivf_flat")(spark, sf001)
    assert(persisted.collect().toSeq == inMem.collect().toSeq)
  }

  // the learned builds (not used by the oracle-gated declared queries,
  // which run the deterministic sample-init variants) keep their own
  // recall contracts: they are the quality-tuned path a real
  // deployment trains.
  test("KMeans-trained IVF recall@10 >= 0.65 with nprobe=6/16 (measured 0.73 held-out)") {
    val emb = Tables.embeddings(spark, sf001)
    val base = emb.filter(graft.queries.Split.isTrain(col("vec_id")))
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(graft.queries.Split.isQuery(col("vec_id"), 10))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val cents = IvfIndex.train(base, "vec", 16)
    val approx = IvfIndex.search(IvfIndex.assign(base, "vec", cents),
      queries, cents, 10, 6, VecMetric.Euclidean)
      .select("query_id", "neighbor_id")
    val exact = exactTop10(sf001, VecMetric.Euclidean)
    assert(approx.intersect(exact).count().toDouble / exact.count() >= 0.65)
  }

  test("Gaussian-plane LSH returns sane candidates (trained path)") {
    val emb = Tables.embeddings(spark, sf001)
    val base = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val model = LshRhp.train(dim = 64, nTables = 16, nBits = 6)
    val out = LshRhp.search(base, queries, model, 10)
    assert(out.filter(col("rank") === 1).count() == 10)
  }

  test("minhash jaccard index returns plausible top-k for each query doc") {
    val out = SparkEntry.queries("q24_lsh_minhash")(spark, sf001)
    assert(out.select("query_id").distinct().count() == 5)
    // rank-1 result should be a genuinely similar doc (jaccard via
    // exact re-rank is monotone in rank)
    assert(out.filter(col("rank") === 1).count() == 5)
  }

  test("q42 persisted sq8 == in-memory sq8; codes beat floats on disk") {
    val a = SparkEntry.queries("q42_sq8_persisted")(spark, sf001)
      .collect().toSeq
    val b = SparkEntry.queries("q22_ivf_sq8")(spark, sf001).collect().toSeq
    assert(a == b)
    // measure the byte claim: same vectors as floats vs tinyint codes
    import graft.operators.{IvfIndex, Sq8Index}
    val emb = Tables.embeddings(spark, sf001)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val sq = Sq8Index.train(emb, "vec")
    def dirBytes(p: java.nio.file.Path): Long = {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum
      finally s.close()
    }
    val fDir = java.nio.file.Files.createTempDirectory("graft_sz_f")
    val cDir = java.nio.file.Files.createTempDirectory("graft_sz_c")
    try {
      emb.write.mode("overwrite").parquet(fDir.toString)
      emb.select(col("id"), transform(Sq8Index.encode(col("vec"), sq),
          c => (c - lit(128)).cast("tinyint")).as("codes"))
        .write.mode("overwrite").parquet(cDir.toString)
      val (fB, cB) = (dirBytes(fDir), dirBytes(cDir))
      assert(cB * 2 < fB, s"codes $cB bytes vs floats $fB bytes")
    } finally Seq(fDir, cDir).foreach(d =>
      graft.streaming.Checkpoints.deleteRecursively(d.toString))
  }

  test("q49 at nprobe = nlist reproduces brute-force q07 exactly") {
    // with every cell probed, each field's IVF list IS the brute list,
    // so the fused ranking must equal q07 bit for bit — the gate that
    // the per-field index plumbing (slices, probes, fusion) is lossless
    val emb = Tables.embeddings(spark, sf001)
    import graft.queries.IndexQueries.{MvFields, MvDim, HybridPerFieldK}
    val perField = (0 until MvFields).map { i =>
      val sl = s"slice(embedding, ${i * MvDim + 1}, $MvDim)"
      val base = emb.filter(graft.queries.Split.isTrain(col("vec_id")))
        .select(col("vec_id").as("id"), expr(sl).as("vec"))
      val qs = emb.filter(graft.queries.Split.isQuery(col("vec_id"), 10))
        .select(col("vec_id").as("query_id"), expr(sl).as("qvec"))
      val cents = IvfIndex.sampleCentroids(base, "vec", 16)
      IvfIndex.search(IvfIndex.assign(base, "vec", cents), qs, cents,
        HybridPerFieldK, nprobe = 16, VecMetric.Cosine)
    }
    val full = MultiVectorSearch.fuseRrf(perField, 10).collect()
      .map(r => (r.getAs[Number]("query_id").longValue,
        r.getAs[Number]("rank").longValue,
        r.getAs[Number]("neighbor_id").longValue)).toSet
    val brute = SparkEntry.queries("q07_multi_vector_rrf")(spark, sf001)
      .collect()
      .map(r => (r.getAs[Number]("query_id").longValue,
        r.getAs[Number]("rank").longValue,
        r.getAs[Number]("neighbor_id").longValue)).toSet
    assert(full == brute, s"diff ${full.diff(brute).take(5)}")
  }

  test("q51 weighted ranker at nprobe = nlist with full lists reproduces brute-force q06 exactly") {
    // with every cell probed AND per-field lists covering the whole
    // train split, every candidate carries all four true sims, so
    // WeightedRanker fusion == q06's full weighted scan bit for bit —
    // the gate that the served path's pivot/coalesce/fusion is
    // lossless (the reference's ACTIVE ranker, milvus/module.py:439)
    val emb = Tables.embeddings(spark, sf001)
    import graft.queries.IndexQueries.{MvFields, MvDim}
    val perField = (0 until MvFields).map { i =>
      val sl = s"slice(embedding, ${i * MvDim + 1}, $MvDim)"
      val base = emb.filter(graft.queries.Split.isTrain(col("vec_id")))
        .select(col("vec_id").as("id"), expr(sl).as("vec"))
      val qs = emb.filter(graft.queries.Split.isQuery(col("vec_id"), 10))
        .select(col("vec_id").as("query_id"), expr(sl).as("qvec"))
      val cents = IvfIndex.sampleCentroids(base, "vec", 16)
      IvfIndex.search(IvfIndex.assign(base, "vec", cents), qs, cents,
        k = 10000, nprobe = 16, VecMetric.Cosine)
    }
    val full = MultiVectorSearch
      .fuseWeighted(perField, 10, Seq.fill(MvFields)(0.25)).collect()
      .map(r => (r.getAs[Number]("query_id").longValue,
        r.getAs[Number]("rank").longValue,
        r.getAs[Number]("neighbor_id").longValue)).toSet
    val brute = SparkEntry.queries("q06_multi_vector")(spark, sf001)
      .collect()
      .map(r => (r.getAs[Number]("query_id").longValue,
        r.getAs[Number]("rank").longValue,
        r.getAs[Number]("neighbor_id").longValue)).toSet
    assert(full == brute, s"diff ${full.diff(brute).take(5)}")
  }

  test("q51 weighted-on-index/brute q06 agreement >= 0.40 at nprobe=6/16 (measured 0.48 held-out)") {
    // lower floor than q49's RRF twin by nature: a candidate missing
    // ONE field's probed list loses that field's whole sim (RRF only
    // loses a bounded 1/(60+r) term), so weighted fusion is more
    // sensitive to probe misses at the same nprobe
    val served = SparkEntry.queries("q51_hybrid_weighted")(spark, sf001)
      .select("query_id", "neighbor_id")
    val brute = SparkEntry.queries("q06_multi_vector")(spark, sf001)
      .select("query_id", "neighbor_id")
    val denom = brute.count().toDouble
    val agree = served.intersect(brute).count().toDouble / denom
    info(f"weighted index/brute agreement: $agree%.2f")
    assert(agree >= 0.40, s"agreement $agree")
  }

  test("q49 hybrid-on-index/brute q07 agreement >= 0.55 at nprobe=6/16 (measured 0.66 held-out)") {
    val served = SparkEntry.queries("q49_hybrid_index")(spark, sf001)
      .select("query_id", "neighbor_id")
    val brute = SparkEntry.queries("q07_multi_vector_rrf")(spark, sf001)
      .select("query_id", "neighbor_id")
    val denom = brute.count().toDouble
    val agree = served.intersect(brute).count().toDouble / denom
    info(f"hybrid index/brute agreement: $agree%.2f")
    assert(agree >= 0.55, s"agreement $agree")
  }

  test("q45 param grid: full axes, recall and scan monotone, exact endpoints") {
    import graft.queries.{IndexQueries => IQ}
    val got = SparkEntry.queries("q45_param_grid")(spark, sf001).collect()
    assert(got.length ==
      2 * IQ.SweepNprobes.length + IQ.SweepTables.length +
        IQ.SweepEtas.length)
    val byAlgo = got.groupBy(_.getString(0))
      .map { case (a, rs) => a -> rs.sortBy(_.getLong(2)) }
    assert(byAlgo.keySet ==
      Set("ivf_flat", "ivf_sq8", "lsh_rhp", "pq_aniso"))
    // cost-buys-recall axes: recall and scan monotone in the param
    Seq("ivf_flat", "ivf_sq8", "lsh_rhp").map(byAlgo).foreach { rs =>
      val recalls = rs.map(_.getDouble(3)).toSeq
      val scans = rs.map(_.getDouble(4)).toSeq
      assert(recalls == recalls.sorted, s"recall not monotone: $recalls")
      assert(scans == scans.sorted, s"scan not monotone: $scans")
      assert(scans.last <= 1.0 + 1e-12)
    }
    // the eta axis is the inverse shape: scan pinned at exactly 1.0
    // (full ADC scan at every point, identical code bytes), recall
    // positive everywhere but NOT asserted monotone — eta trades
    // overall-L2 for top-pair dot fidelity, which recall@K need not
    // reward pointwise
    byAlgo("pq_aniso").foreach { r =>
      assert(r.getDouble(4) == 1.0, s"eta scan ${r.getDouble(4)}")
      assert(r.getDouble(3) > 0.0, s"eta recall ${r.getDouble(3)}")
    }
    // nprobe = nlist scans every cell: flat recall exactly 1, and the
    // quantized index pays a (bounded) recall cost for its 4x bytes
    val flat = byAlgo("ivf_flat").last
    assert(flat.getDouble(3) == 1.0 && flat.getDouble(4) == 1.0)
    assert(byAlgo("ivf_sq8").last.getDouble(3) >= 0.9)
  }

  test("q39 filtered IVF: hits satisfy their predicate, decent recall") {
    val got = SparkEntry.queries("q39_ivf_filtered")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(got.nonEmpty)
    // every (query, neighbor) must satisfy the per-query compound
    // predicate the labels/thresholds derive
    got.foreach { case (q, n) =>
      assert(n % 97 <= 20 + (q * 13) % 60, s"l1 violated for ($q,$n)")
      assert((n * 31) % 89 <= 15 + (q * 17) % 60, s"l2 violated for ($q,$n)")
    }
    // recall vs the exact filtered search (q14, same labels/thresholds)
    val exact = SparkEntry.queries("q14_knn_filtered_compound")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val hits = got.count(exact.contains)
    assert(hits.toDouble / exact.size >= 0.6,
      s"filtered-IVF recall ${hits.toDouble / exact.size}")
  }

  test("m05 mm-ann: foreign modal frame serves through q20's index path") {
    import graft.queries.{IndexQueries => IQ}
    val rows = IQ.mmAnn(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // 5 modal query docs (doc ids 0,10,..,40), full top-K each
    assert(rows.map(_._1).distinct.sorted.toSeq ==
      (0 until IQ.MmNQ).map(_ * 10L))
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to IQ.K).toSeq,
        s"query $q ranks not 1..${IQ.K}")
    }
    // every neighbor comes from the TRAIN split of the embeddings
    // table — the foreign frame queried the indexed modality, and
    // no test-split row leaked into the served index
    assert(rows.forall(_._3 % 10 != 0), "non-train neighbor id served")
  }

  test("a06 memory leg: every float-vector build records a positive heap peak") {
    import graft.queries.{IndexQueries => IQ}
    IQ.lastBuildReadings.clear()
    IQ.indexBuildMetrics(spark, sf001).collect()
    Seq("ivf_flat", "ivf_pq", "ivf_pq_aniso", "ivf_sq8", "lsh_rhp").foreach { n =>
      val r = IQ.lastBuildReadings.get(n)
      assert(r.isDefined, s"no build reading recorded for $n")
      assert(r.get.jvmHeapPeakBytes > 0,
        s"$n heap peak ${r.get.jvmHeapPeakBytes}")
      assert(r.get.buildTimeS > 0, s"$n wall ${r.get.buildTimeS}")
      assert(r.get.tasksSeen > 0, s"$n saw no task-end events")
      assert(r.get.peakTaskMemBytes >= 0)
    }
  }

  test("q54 diversified degree-8 graph: out-degree capped, beam recall >= plain top-8") {
    val emb = Tables.embeddings(spark, sf001)
    val base = emb.filter(graft.queries.Split.isTrain(col("vec_id")))
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .localCheckpoint(true)
    val queries = emb.filter(graft.queries.Split.isQuery(col("vec_id"), 10))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val div = SparkEntry.queries("q54_graph_diversify")(spark, sf001)
      .localCheckpoint(true)
    // the prune must respect the degree cap pre-symmetrization
    assert(div.groupBy("id").count().agg(max("count")).head().getLong(0)
      <= graft.queries.IndexQueries.DivM)
    val knn16 = KnnSearch.bruteForceBlocked(base,
      base.select(col("id").as("query_id"), col("vec").as("qvec")),
      graft.queries.IndexQueries.GraphDeg, VecMetric.Euclidean,
      pairFilter = Some(col("id") =!= col("query_id")))
    def sym(g: org.apache.spark.sql.DataFrame) =
      g.unionByName(g.select(col("neighbor_id").as("id"),
        col("id").as("neighbor_id"))).distinct()
    val plain8 = sym(knn16.filter(col("rank") <= 8)
      .select(col("query_id").as("id"), col("neighbor_id")))
    val div8 = sym(div.select("id", "neighbor_id"))
    val exact = exactTop10(sf001, VecMetric.Euclidean)
      .localCheckpoint(true)
    def recall(g: org.apache.spark.sql.DataFrame): Double =
      GraphSearch.beamSearch(base, g, queries, 10,
        graft.queries.IndexQueries.Beam,
        graft.queries.IndexQueries.BeamRounds, 16,
        graft.queries.IndexQueries.EntryBeam, VecMetric.Euclidean)
        .select("query_id", "neighbor_id")
        .intersect(exact).count().toDouble / exact.count()
    val (rDiv, rPlain) = (recall(div8), recall(plain8))
    // the heuristic's claim at equal degree budget: diverse-direction
    // edges reach at least what redundant same-direction ones do —
    // measured 0.70 vs 0.65 held-out at sf0.01 (both walks
    // deterministic, so the comparison is exact, not a flaky margin)
    assert(rDiv >= rPlain,
      s"diversified recall $rDiv vs plain $rPlain")
  }

  test("q53 NN-descent-built stack: recall within reach of q19's exact build") {
    val rExact = recallOf("q19_graph_search")
    val rNnd = recallOf("q53_graph_stack_nnd")
    // the approximate base build costs recall vs the exact N² build;
    // the gate pins that cost bounded — measured 0.81 vs q19's 0.83
    // held-out at sf0.01: two NN-descent rounds at working degree
    // GraphDeg recover all but 0.02 of the exact build's recall
    assert(rNnd >= 0.70, s"q53 recall $rNnd (q19 exact-build: $rExact)")
  }

  test("q55 composed build: diversified stack >= plain stack at equal degree and budget") {
    import graft.queries.IndexQueries
    val emb = Tables.embeddings(spark, sf001)
    val base = emb.filter(graft.queries.Split.isTrain(col("vec_id")))
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .localCheckpoint(true)
    val queries = emb.filter(graft.queries.Split.isQuery(col("vec_id"), 10))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val lv = IndexQueries.levelsFor(base.count())
    // equal-degree, equal-budget comparator: baseDeg=DivM at working
    // factor 2 iterates NN-descent at the SAME wk=GraphDeg width as
    // q55's candidate generation (identical hash init, identical
    // expansion rounds) and keeps the top-DivM prefix — i.e. plain
    // top-8 of the very lists q55 prunes to 8 diverse edges
    val plain = GraphSearch.buildLayeredGraphsNnd(base, lv,
      IndexQueries.DivM, IndexQueries.UpperDeg, IndexQueries.NndIters,
      workingDegreeFactor = 2).localCheckpoint(true)
    val exact = exactTop10(sf001, VecMetric.Euclidean).localCheckpoint(true)
    def recall(g: org.apache.spark.sql.DataFrame): Double =
      GraphSearch.hierarchicalSearch(base, g, queries, 10,
        IndexQueries.HierBeam, IndexQueries.HierRounds, lv,
        IndexQueries.UpperBeam)
        .select("query_id", "neighbor_id")
        .intersect(exact).count().toDouble / exact.count()
    val rPlain = recall(plain)
    val rDiv = recallOf("q55_graph_stack_diversified")
    info(f"diversified stack recall=$rDiv%.3f plain half-degree=$rPlain%.3f")
    // the heuristic's claim, now on the COMPOSED build: diverse
    // half-degree edges reach at least what the plain top-half lists
    // do at the same beam schedule — measured 0.63 vs 0.61 held-out
    assert(rDiv >= rPlain, s"diversified $rDiv vs plain $rPlain")
    assert(rDiv >= 0.55, s"q55 recall floor: $rDiv")
    // structural degree bound survives symmetrization in aggregate:
    // each node emits <= DivM (base) / UpperDeg (upper) out-edges, so
    // undirected average degree is <= 2x the kept degree per layer
    val stack = GraphSearch.buildLayeredGraphsDiversified(base, lv,
      IndexQueries.GraphDeg, IndexQueries.DivM, IndexQueries.UpperCand,
      IndexQueries.UpperDeg, IndexQueries.NndIters,
      workingDegreeFactor = 1)
    val avgDeg = stack.filter(col("layer") === 0).groupBy("id").count()
      .agg(avg("count")).head().getDouble(0)
    assert(avgDeg <= 2.0 * IndexQueries.DivM, s"base avg degree $avgDeg")
  }

  test("q53 NND-upper branch (exactCap=0): the 100 TB tier path meets the recall floor") {
    import graft.queries.IndexQueries
    val emb = Tables.embeddings(spark, sf001)
    val base = emb.filter(graft.queries.Split.isTrain(col("vec_id")))
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .localCheckpoint(true)
    val queries = emb.filter(graft.queries.Split.isQuery(col("vec_id"), 10))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val lv = IndexQueries.levelsFor(base.count())
    // exactCap=0 forces EVERY upper layer down the NN-descent path —
    // the branch the >16k layers take at scale, which the oracle
    // (exact uppers at gate size) never exercises
    val exact = exactTop10(sf001, VecMetric.Euclidean).localCheckpoint(true)
    def recall(g: org.apache.spark.sql.DataFrame): Double =
      GraphSearch.hierarchicalSearch(base, g, queries, 10,
        IndexQueries.HierBeam, IndexQueries.HierRounds, lv,
        IndexQueries.UpperBeam)
        .select("query_id", "neighbor_id")
        .intersect(exact).count().toDouble / exact.count()
    val rNnd = recall(GraphSearch.buildLayeredGraphsNnd(base, lv,
      IndexQueries.GraphDeg, IndexQueries.UpperDeg, IndexQueries.NndIters,
      workingDegreeFactor = 1, exactCap = 0))
    info(f"q53 NND-upper stack recall=$rNnd%.3f")
    assert(rNnd >= 0.70, s"q53 NND-upper recall floor: $rNnd")
    // same branch for the composed build: every layer NND + prune —
    // exactly what every layer runs at 100 TB (half-degree floor)
    val rDiv = recall(GraphSearch.buildLayeredGraphsDiversified(base, lv,
      IndexQueries.GraphDeg, IndexQueries.DivM, IndexQueries.UpperCand,
      IndexQueries.UpperDeg, IndexQueries.NndIters,
      workingDegreeFactor = 1, exactCap = 0))
    info(f"q55 NND-upper diversified stack recall=$rDiv%.3f")
    assert(rDiv >= 0.55, s"q55 NND-upper recall floor: $rDiv")
  }

  test("q19 driver-resident top-of-stack descent == all-distributed descent") {
    val emb = Tables.embeddings(spark, sf001)
    val base = emb.filter(graft.queries.Split.isTrain(col("vec_id")))
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .localCheckpoint(true)
    val queries = emb.filter(graft.queries.Split.isQuery(col("vec_id"), 10))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val lv = graft.queries.IndexQueries.levelsFor(base.count())
    val graphs = GraphSearch.buildLayeredGraphs(base, lv,
      graft.queries.IndexQueries.GraphDeg,
      graft.queries.IndexQueries.UpperDeg, VecMetric.Euclidean)
      .localCheckpoint(true)
    def run(driverTopRows: Int) = {
      val (topk, vis) = GraphSearch.hierarchicalSearchWithVisited(
        base, graphs, queries, 10,
        graft.queries.IndexQueries.HierBeam,
        graft.queries.IndexQueries.HierRounds, lv,
        graft.queries.IndexQueries.UpperBeam, VecMetric.Euclidean,
        driverTopRows)
      (topk.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet,
        vis.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    }
    val (fastT, fastV) = run(1 << 16) // every upper layer driver-side here
    val (distT, distV) = run(0)      // forced all-distributed
    assert(fastT == distT, "topk diverged between driver and distributed")
    assert(fastV == distV, "n_visited diverged")
    // a cut strictly inside the stack: layers lv-1..2 walk on the
    // driver, then layer 1 and the base rounds run distributed from
    // the handed-off visited set
    val mid = midStackRows(base, lv)
    val (midT, midV) = run(mid)
    assert(midT == distT, s"topk diverged at the layer-2 cut ($mid rows)")
    assert(midV == distV, s"n_visited diverged at the layer-2 cut ($mid rows)")
  }

  /** A driverTopRows value whose driver cut is layer 2 — strictly
    * between the top layer and the base: layer 2's member count, when
    * layer 1 has more (the cut is the smallest layer whose member count
    * fits the bound).
    */
  private def midStackRows(base: org.apache.spark.sql.DataFrame,
      lv: Int): Int = {
    val sizes = (0 to lv).map(l =>
      base.filter(GraphSearch.inLayer(col("id"), l)).count())
    val mid = sizes(2)
    assert(lv > 2 && sizes(1) > mid && sizes.indexWhere(_ <= mid) == 2,
      s"layer sizes $sizes give no layer-2 cut")
    mid.toInt
  }

  test("localScore twins match the codegen'd kernels bit-for-bit") {
    import spark.implicits._
    val vs = Tables.embeddings(spark, sf001).limit(40)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val pairs = vs.take(20).zip(vs.drop(20))
    val df = pairs.map { case (a, b) => (a, b) }.toSeq.toDF("a", "b")
    for (m <- Seq[VecMetric](VecMetric.Euclidean, VecMetric.Cosine,
        VecMetric.InnerProduct, VecMetric.SignHamming)) {
      val dist = df.select(m.score(col("a"), col("b"))).collect()
        .map(_.getDouble(0))
      val local = pairs.map { case (a, b) => m.localScore(a, b) }
      dist.zip(local).foreach { case (d, l) =>
        assert(d == l, s"$m: $d != $l") // exact, not approx
      }
    }
  }

  test("q56 graph insert: batching-independent, inserted rows findable, recall holds") {
    import graft.queries.IndexQueries._
    // the gated entry end-to-end (its own cached stack build)
    val edges = SparkEntry.queries("q56_graph_insert")(spark, sf001)
      .localCheckpoint(true)
    assert(edges.count() > 0)
    // rebuild the same pre-insert world to probe the contracts
    val emb = Tables.embeddings(spark, sf001)
    val base = emb.filter(graft.queries.Split.isTrain(col("vec_id")))
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val batch = base.filter(col("id") % InsertMod === InsertRes)
      .localCheckpoint(true)
    val kept = base.filter(col("id") % InsertMod =!= InsertRes)
      .localCheckpoint(true)
    val lv = levelsFor(kept.count())
    val stack = GraphSearch.buildLayeredGraphsDiversified(kept, lv,
      GraphDeg, DivM, UpperCand, UpperDeg, NndIters,
      workingDegreeFactor = 1).localCheckpoint(true)
    def ins(b: org.apache.spark.sql.DataFrame) =
      GraphSearch.insertBatch(kept, stack, b, lv, GraphDeg, DivM,
        UpperDeg, HierBeam, HierRounds, UpperBeam)
    val full = ins(batch).localCheckpoint(true)
    // determinism across independent builds: the gated entry's edges
    // ARE this rule's edges
    assert(full.exceptAll(edges).count() == 0 &&
      edges.exceptAll(full).count() == 0,
      "gated entry diverged from a fresh stack + insert")
    // BATCHING-INDEPENDENCE: each node's links depend only on the
    // pre-insert stack, so any partition of the batch unions to the
    // same edge set — the contract that lets a 100 TB store apply
    // mutation batches at any cadence without order effects
    val halves = ins(batch.filter(col("id") % 2 === 0))
      .unionByName(ins(batch.filter(col("id") % 2 =!= 0)))
    assert(halves.exceptAll(full).count() == 0 &&
      full.exceptAll(halves).count() == 0,
      "insert result depends on batching")
    // driver-resident top of stack == all-distributed descent (the
    // q19 equality, extended to the insert's link rule)
    val dist = GraphSearch.insertBatch(kept, stack, batch, lv, GraphDeg,
      DivM, UpperDeg, HierBeam, HierRounds, UpperBeam,
      driverTopRows = 0)
    assert(dist.exceptAll(full).count() == 0 &&
      full.exceptAll(dist).count() == 0,
      "driver-top insert diverged from all-distributed")
    // the same at a layer-2 cut: the upper links come from the driver
    // walk, layer 1's and the base links from the distributed steps
    // (the batch fits the bound, so its guard keeps the cut)
    val mid = midStackRows(kept, lv)
    assert(batch.count() <= mid)
    val midCut = GraphSearch.insertBatch(kept, stack, batch, lv, GraphDeg,
      DivM, UpperDeg, HierBeam, HierRounds, UpperBeam,
      driverTopRows = mid)
    assert(midCut.exceptAll(full).count() == 0 &&
      full.exceptAll(midCut).count() == 0,
      s"layer-2-cut insert diverged from the base cut ($mid rows)")
    // the post-insert graph must SERVE: (a) each inserted vector
    // finds itself (the reference's insert-then-retrieve check,
    // module.py insert contract); (b) held-out recall over the
    // grown corpus stays in the fresh-build band
    val post = stack.unionByName(full.select("layer", "id", "neighbor_id"))
      .localCheckpoint(true)
    val all = kept.unionByName(batch)
    val selfHits = GraphSearch.hierarchicalSearch(all, post,
      batch.select(col("id").as("query_id"), col("vec").as("qvec")),
      1, HierBeam, HierRounds, lv, UpperBeam)
      .filter(col("neighbor_id") === col("query_id")).count().toDouble
    val selfRate = selfHits / batch.count()
    info(f"inserted-row self-findability $selfRate%.3f")
    assert(selfRate >= 0.9, s"inserted rows not findable: $selfRate")
    val queries = emb.filter(graft.queries.Split.isQuery(col("vec_id"), 10))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val approx = GraphSearch.hierarchicalSearch(all, post, queries, 10,
      HierBeam, HierRounds, lv, UpperBeam)
      .select("query_id", "neighbor_id")
    val exact = KnnSearch.bruteForce(all, queries, 10, VecMetric.Euclidean)
      .select("query_id", "neighbor_id")
    val rec = approx.intersect(exact).count().toDouble / exact.count()
    info(f"post-insert held-out recall $rec%.3f")
    assert(rec >= 0.55, s"post-insert recall floor: $rec")
  }

  test("q57 graph mutate: deleted never returned, k slots stay full, recall floor") {
    import graft.queries.IndexQueries._
    val res = SparkEntry.queries("q57_graph_mutate")(spark, sf001)
      .localCheckpoint(true)
    // (a) tombstoned ids NEVER appear in results, at any rank
    assert(res.filter(col("neighbor_id") % MutMod === DelRes).count() == 0,
      "deleted id returned")
    // (b) tombstones must not crowd live answers out: every query
    // still gets its full K (the filter runs on the whole visited
    // set BEFORE the top-k — the no-over-fetch contract)
    val perQ = res.groupBy("query_id").count()
      .agg(org.apache.spark.sql.functions.min("count")).head().getLong(0)
    assert(perQ == K, s"a query returned $perQ < $K rows post-delete")
    // (c) recall floor vs the exact ground truth of the POST-mutation
    // world: merged latest-wins vectors, tombstones excluded
    val emb = Tables.embeddings(spark, sf001)
    val base = emb.filter(graft.queries.Split.isTrain(col("vec_id")))
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(graft.queries.Split.isQuery(col("vec_id"), 10))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val merged = base.filter(col("id") % MutMod =!= UpdRes)
      .unionByName(base.filter(col("id") % MutMod === UpdRes)
        .select(col("id"), reverse(col("vec")).as("vec")))
      .filter(col("id") % MutMod =!= DelRes)
    val exact = KnnSearch.bruteForce(merged, queries, 10,
      VecMetric.Euclidean).select("query_id", "neighbor_id")
    val rec = res.select("query_id", "neighbor_id").intersect(exact)
      .count().toDouble / exact.count()
    info(f"post-mutation recall $rec%.3f")
    assert(rec >= 0.55, s"post-mutation recall floor: $rec")
  }

  test("q57 update contract: served at the NEW embedding; halves == one batch") {
    import graft.queries.IndexQueries._
    // synthetic corpus so the update target is constructible: move
    // node 1501 exactly onto held-out query 3's position — the
    // post-update search MUST return it at rank 1 (score 0), and the
    // pre-update search must not
    val corpus = graft.datagen.DataGen
      .randomFloat(spark, 2000, 32, centers = 16, seed = 11)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .localCheckpoint(true)
    val qRow = corpus.filter(col("id") === 3)
      .select(col("id").as("query_id"), col("vec").as("qvec"))
      .localCheckpoint(true)
    val movedId = 1501L
    val xNew = corpus.filter(col("id") === movedId)
      .crossJoin(qRow.select(col("qvec")))
      .select(col("id"), col("qvec").as("vec")).localCheckpoint(true)
    val lv = levelsFor(2000)
    val stack = GraphSearch.buildLayeredGraphs(corpus, lv, GraphDeg,
      UpperDeg, VecMetric.Euclidean).localCheckpoint(true)
    // the query's own row sits at score 0 — tombstone it so the walk
    // must serve the MOVED row there (delete + update in one search)
    val tomb3 = qRow.select(col("query_id").as("id"))
    val pre = GraphSearch.hierarchicalSearch(corpus, stack, qRow, 1,
      HierBeam, HierRounds, lv, UpperBeam,
      tombstones = Some(tomb3)).head()
    assert(pre.getLong(2) != movedId, "update target already top-1")
    val kept = corpus.filter(col("id") =!= movedId)
    val newEdges = GraphSearch.insertBatch(kept, stack, xNew, lv,
      GraphDeg, DivM, UpperDeg, HierBeam, HierRounds, UpperBeam)
    val post = GraphSearch.hierarchicalSearch(
      kept.unionByName(xNew), stack.unionByName(newEdges), qRow, 1,
      HierBeam, HierRounds, lv, UpperBeam,
      tombstones = Some(tomb3)).head()
    assert(post.getLong(2) == movedId && post.getDouble(3) == 0.0,
      s"updated row not served at its new embedding: $post")

    // update(B1 ∪ B2) = update(B1) ∪ update(B2): the q57 pipeline's
    // search result is identical whether the update slice descends as
    // one batch or as two halves — insertBatch's batching-independence
    // carried through merge + tombstone + search
    val emb = Tables.embeddings(spark, sf001)
    val base = emb.filter(graft.queries.Split.isTrain(col("vec_id")))
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(graft.queries.Split.isQuery(col("vec_id"), 10))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val lvB = levelsFor(base.count())
    val stackB = GraphSearch.buildLayeredGraphs(base, lvB, GraphDeg,
      UpperDeg, VecMetric.Euclidean).localCheckpoint(true)
    val updNew = base.filter(col("id") % MutMod === UpdRes)
      .select(col("id"), reverse(col("vec")).as("vec"))
      .localCheckpoint(true)
    val keptB = base.filter(col("id") % MutMod =!= UpdRes)
    val tomb = base.filter(col("id") % MutMod === DelRes).select("id")
    def pipeline(edges: org.apache.spark.sql.DataFrame) =
      GraphSearch.hierarchicalSearch(keptB.unionByName(updNew),
        stackB.unionByName(edges), queries, K, HierBeam, HierRounds,
        lvB, UpperBeam, tombstones = Some(tomb))
    def ins(b: org.apache.spark.sql.DataFrame) =
      GraphSearch.insertBatch(keptB, stackB, b, lvB, GraphDeg, DivM,
        UpperDeg, HierBeam, HierRounds, UpperBeam)
    val one = pipeline(ins(updNew)).localCheckpoint(true)
    val two = pipeline(ins(updNew.filter(col("id") % 2 === 0))
      .unionByName(ins(updNew.filter(col("id") % 2 =!= 0))))
      .localCheckpoint(true)
    assert(one.exceptAll(two).count() == 0 &&
      two.exceptAll(one).count() == 0,
      "q57 search depends on update batching")
  }

  test("insertBatch bulk path (batch > 64k): analyzes, and == two broadcast-path halves") {
    import graft.queries.IndexQueries._
    // regression for the 100k insert-at-scale crash: past 64k batch
    // rows the candidate joins drop their broadcast hints, and the
    // un-hinted join surfaced a Catalyst "conflicting references"
    // failure (visited's localCheckpoint preserves the attribute ids
    // it inherited from `queries`, so re-joining `queries` put the
    // same exprId on both sides of a join between different
    // relations). The fix re-aliases the scoring copy; this spec
    // pins BOTH contracts: the bulk path analyzes/executes, and the
    // join strategy never changes results — insert(66k bulk) ==
    // insert(33k bcast) ∪ insert(33k bcast).
    val all = graft.datagen.DataGen
      .randomFloat(spark, 67000, 4, centers = 8, seed = 23)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val base = all.filter(col("id") < 1000).localCheckpoint(true)
    val batch = all.filter(col("id") >= 1000).localCheckpoint(true)
    val lv = 4
    val stack = GraphSearch.buildLayeredGraphs(base, lv, GraphDeg,
      UpperDeg, VecMetric.Euclidean).localCheckpoint(true)
    def ins(b: org.apache.spark.sql.DataFrame) =
      GraphSearch.insertBatch(base, stack, b, lv, 8, 4, 3,
        beam = 4, rounds = 1, upperBeam = 2)
    val bulk = ins(batch).localCheckpoint(true) // 66k > 1<<16: bulk joins
    val halves = ins(batch.filter(col("id") % 2 === 0))
      .unionByName(ins(batch.filter(col("id") % 2 =!= 0)))
      .localCheckpoint(true) // 33k each: broadcast-hinted joins
    assert(bulk.exceptAll(halves).count() == 0 &&
      halves.exceptAll(bulk).count() == 0,
      "bulk-join insert diverged from broadcast-join halves")
  }

  test("compactOverDegree: over-cap nodes re-pruned, everyone else untouched") {
    import graft.queries.IndexQueries._
    val emb = Tables.embeddings(spark, sf001)
    val base = emb.filter(graft.queries.Split.isTrain(col("vec_id")))
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .localCheckpoint(true)
    val lv = levelsFor(base.count())
    val stack = GraphSearch.buildLayeredGraphs(base, lv, GraphDeg,
      UpperDeg, VecMetric.Euclidean).localCheckpoint(true)
    // inflate one hub: give the smallest id EVERY node as a neighbor
    // at layer 0 — the insert path's accreted-reverse-edge shape
    val hub = base.agg(org.apache.spark.sql.functions.min("id"))
      .head().getLong(0)
    val inflated = stack.unionByName(
      base.filter(col("id") =!= hub)
        .select(lit(0).as("layer"), lit(hub).as("id"),
          col("id").as("neighbor_id"))).distinct().localCheckpoint(true)
    val cap = GraphDeg * 2 // symmetrized base degree bound
    val compact = GraphSearch.compactOverDegree(inflated, base,
      l => if (l == 0) cap else UpperDeg * 2, lv).localCheckpoint(true)
    // (a) no layer-0 node exceeds the cap afterwards
    val maxDeg = compact.filter(col("layer") === 0)
      .groupBy("id").count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(maxDeg <= cap, s"degree $maxDeg > cap $cap after compaction")
    // (b) kept edges are a subset of the prior edges (compaction
    // never invents links)
    assert(compact.exceptAll(inflated).count() == 0,
      "compaction invented edges")
    // (c) nodes under the cap are bit-untouched
    val deg = inflated.groupBy("layer", "id").count()
    val cold = inflated.join(deg.filter(
        (col("layer") === 0 && col("count") > cap) ||
        (col("layer") > 0 && col("count") > UpperDeg * 2))
      .select("layer", "id"), Seq("layer", "id"), "left_anti")
    val coldAfter = compact.join(cold.select("layer", "id").distinct(),
      Seq("layer", "id"), "left_semi")
    assert(cold.exceptAll(coldAfter).count() == 0 &&
      coldAfter.exceptAll(cold).count() == 0,
      "compaction touched an under-cap node")
  }

  test("q58 graph compact: hot nodes land exactly on cap, no duplicate edges") {
    import graft.queries.IndexQueries._
    val res = SparkEntry.queries("q58_graph_compact")(spark, sf001)
      .localCheckpoint(true)
    // the merged (build ∪ insert) stack must actually have over-cap
    // nodes at gate scale — otherwise the gate hashes nothing
    assert(res.count() > 0, "no over-cap nodes to compact at sf0.01")
    // every gated adjacency belonged to an over-cap node, so the
    // backfilled prune keeps EXACTLY cap edges (DivM base, UpperDeg
    // above) — no more (the cap), no fewer (backfill)
    val sizes = res.groupBy("layer", "id").count()
    val offenders = sizes.filter(
      (col("layer") === 0 && col("count") =!= DivM) ||
        (col("layer") > 0 && col("count") =!= UpperDeg))
    assert(offenders.count() == 0,
      s"gated adjacency not cap-sized: ${offenders.take(3).toSeq}")
    // set semantics: the prune emits each kept edge once
    assert(res.distinct().count() == res.count(),
      "duplicate edges in compacted output")
  }

  test("q52 ivf range: exact subset of q05's ε-pairs, recall >= 0.55 (measured 0.64)") {
    val exact = SparkEntry.queries("q05_range_search")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probed = SparkEntry.queries("q52_ivf_range")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // probed cells compute the SAME exact distance, so every hit must
    // be a true ε-pair — misses are only from unprobed cells
    assert(probed.subsetOf(exact),
      s"false positives: ${probed.diff(exact).take(5)}")
    assert(probed.size.toDouble >= 0.55 * exact.size,
      s"recall ${probed.size}/${exact.size}")
  }
}
