package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class NnDescentSpec extends AnyFunSuite {
  import TestSpark._

  /** Scratch budget that forces the chunked scorer on the sf0.001
    * train split into a few passes per round (3 at 450 × 64-dim), so
    * the chunk tests exercise the spill and merge without paying the
    * job launches of the 64-pass cap.
    */
  private val ChunkBudget = 1L << 26

  /** Per-round chunk count a k = 5 build (wk = 15) derives from
    * [[ChunkBudget]] — NnDescent.build's perRoundCand, n·(2wk)² +
    * n·wk.
    */
  private def chunksAtBudget(base: org.apache.spark.sql.DataFrame): Int = {
    val n = base.count()
    val dim = base.select(size(col("vec"))).head().getInt(0)
    graft.operators.NnDescent.scoreChunksFor(
      n * 4L * 15 * 15 + n * 15, dim, ChunkBudget)
  }

  test("nn-descent graph recovers most of the exact graph without N^2 work") {
    val approx = SparkEntry.queries("q27_nn_descent")(spark, sf)
      .select("id", "neighbor_id")
    val exact = SparkEntry.queries("q25_graph_knn")(spark, sf)
      .select("id", "neighbor_id")
    val hit = approx.intersect(exact).count().toDouble
    val total = exact.count().toDouble
    assert(hit / total >= 0.6, s"graph recall ${hit / total}")
    // determinism
    val again = SparkEntry.queries("q27_nn_descent")(spark, sf)
      .select("id", "neighbor_id")
    assert(again.exceptAll(approx).count() == 0)
  }

  test("driver-resident build is bit-identical to the distributed build") {
    import graft.operators.NnDescent
    val emb = Tables.embeddings(spark, sf)
      .filter(graft.queries.Split.isTrain(col("vec_id")))
    val base = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      .localCheckpoint(true)
    val local = NnDescent.build(base, k = 5)
    val dist = NnDescent.build(base, k = 5,
      localRows = 0L) // force the distributed path
    assert(local.exceptAll(dist).count() == 0 &&
      dist.exceptAll(local).count() == 0,
      "local build diverged from distributed")
  }

  test("sampleOrder is a non-monotone bijection that varies by seed") {
    import graft.operators.NnDescent
    // Drift guard for the monotone-order bug (PLANS round-13): the
    // high-bits form ((x mod 2^20)·M) >> 20 is strictly increasing in
    // x, so ranking by it silently kept the SMALLEST ids — every
    // round, the same biased sample; and an additive-only reseed just
    // ROTATES the order (caught by this spec's first run: 98.5%
    // adjacent-order agreement between rounds). A real sample order
    // must (a) be a bijection on the ring (no rank collisions beyond
    // id ties), (b) have plenty of inversions vs plain id order,
    // (c) genuinely permute between rounds (per-round re-draw).
    val xs = spark.range(4096).select(col("id"),
      NnDescent.sampleOrder(col("id"), 97L, 1).as("h1"),
      NnDescent.sampleOrder(col("id"), 97L, 2).as("h2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(xs.map(_._2).distinct.length == xs.length, "h1 not injective")
    val inv = xs.map(_._2).sliding(2).count(p => p(0) > p(1))
    assert(inv > xs.length / 4,
      s"order nearly monotone in id: only $inv descents in ${xs.length}")
    assert(xs.count { case (_, h1, h2) => h1 != h2 } > xs.length / 2,
      "seed change barely moves the order")
    // rank agreement: the fraction of adjacent-id pairs whose ORDER
    // survives must sit near 1/2 (uncorrelated), nowhere near 1
    val agree = xs.sliding(2).count(p =>
      (p(0)._2 < p(1)._2) == (p(0)._3 < p(1)._3)).toDouble / (xs.length - 1)
    assert(agree < 0.8, s"seeded orders nearly identical ($agree)")
    // WITHIN-round salt independence (two samples drawn in the same
    // iteration under different salts): an additive-only salt
    // rotates the same permutation, so order agreement would sit near
    // 1 — the salt must fold into the multiplier too
    val ys = spark.range(4096).select(col("id"),
      NnDescent.sampleOrder(col("id"), 97L, 1).as("hr"),
      NnDescent.sampleOrder(col("id"), 131L, 1).as("hm"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val saltAgree = ys.sliding(2).count(p =>
      (p(0)._2 < p(1)._2) == (p(0)._3 < p(1)._3)).toDouble / (ys.length - 1)
    assert(saltAgree < 0.8,
      s"salted orders nearly identical within a round ($saltAgree)")
  }

  test("auto shuffle width derives from the per-round candidate volume") {
    import graft.operators.NnDescent
    // gate-scale volumes keep the session's parallelism (AQE
    // coalesces any excess; fewer tasks than cores would idle them)
    assert(NnDescent.autoShufflePartitions(5L * 1000 * 1000, 32) == 32)
    // the round-14 5M config that OOM'd at the 32-partition default:
    // perRoundCand = 5e6*(16^2 + 16) = 1.36e9 -> 136 tasks (~10M
    // rows/task; the human-exported rescue value was 128)
    assert(NnDescent.autoShufflePartitions(1360000000L, 32) == 136)
    // the mc24 width point: 5e6*(24^2 + 16) = 2.96e9 -> 296
    assert(NnDescent.autoShufflePartitions(2960000000L, 32) == 296)
    // a session already wider than the formula keeps its width
    assert(NnDescent.autoShufflePartitions(1360000000L, 200) == 200)
    // capped at 4096 like every other auto-sizer in the repo
    assert(NnDescent.autoShufflePartitions(Long.MaxValue / 4, 32) == 4096)
    // exact multiples don't round up a phantom task
    assert(NnDescent.autoShufflePartitions(
      140L * NnDescent.RowsPerTaskTarget, 32) == 140)
  }

  test("shuffle-path score chunking derives from bytes and never changes the graph") {
    import graft.operators.NnDescent
    // the chunk-count formula: bytes per candidate row = 4*dim + 64
    // (the vector payload the second scoring join shuffles), and the
    // chunked path's one-time candidate-id checkpoint (~24 B/row,
    // serialized DISK_ONLY) coexists with every chunk's shuffle so
    // it comes out of the budget first.
    // 10M-tier attempt-3 shape: 1.5e9 cand rows x 64d = ~447 GB of
    // in-flight payload; a 72 GB budget leaves 72-33.5=38.5 GB for
    // the shuffle term -> 12 passes
    assert(NnDescent.scoreChunksFor(1500000000L, 64, 72L << 30) == 12)
    // fits the budget -> one pass (and no checkpoint at all)
    assert(NnDescent.scoreChunksFor(1000000L, 64, 72L << 30) == 1)
    // checkpoint alone exceeds the budget -> an eighth of the budget
    // still goes to the shuffle term (degrade to more chunks, never
    // divide by zero); the 64-chunk cap binds
    assert(NnDescent.scoreChunksFor(1600000000L, 64, 30L << 30) == 64)
    // degenerate budget -> capped at 64 chunks, never unbounded
    assert(NnDescent.scoreChunksFor(Long.MaxValue / 1024, 64, 1) == 64)
    // no budget information -> no chunking (never divide by zero)
    assert(NnDescent.scoreChunksFor(1500000000L, 64, 0) == 1)

    val emb = Tables.embeddings(spark, sf)
      .filter(graft.queries.Split.isTrain(col("vec_id")))
    val base = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      .localCheckpoint(true)
    assert(chunksAtBudget(base) >= 2,
      "ChunkBudget no longer forces chunked scoring at this sf")
    // the default build (driver-resident at this sf, spec-gated
    // bit-identical to the distributed broadcast path), the
    // distributed shuffle path unchunked, and the shuffle path FORCED
    // into multiple sequential chunks must all produce the identical
    // graph: chunking partitions the candidate set hash-disjointly
    // and merges per-chunk top-k exactly, so it is join scheduling,
    // not semantics
    val bcast = NnDescent.build(base, k = 5).localCheckpoint(true)
    val shuffle = NnDescent.build(base, k = 5, bcastRows = 1,
      localRows = 0L).localCheckpoint(true)
    val chunked = NnDescent.build(base, k = 5, bcastRows = 1,
      scratchBudget = ChunkBudget, localRows = 0L).localCheckpoint(true)
    // and the checkpoint-and-filter fallback (clusters without a
    // shared spill filesystem take it) — same graph again
    val nospill = try {
      sys.props("graft.nnd.spill") = "-"
      assert(NnDescent.spillRoot(spark).isEmpty)
      NnDescent.build(base, k = 5, bcastRows = 1,
        scratchBudget = ChunkBudget, localRows = 0L).localCheckpoint(true)
    } finally sys.props.remove("graft.nnd.spill")
    assert(NnDescent.spillRoot(spark).nonEmpty,
      "local mode should default to the pruned parquet spill")
    assert(shuffle.exceptAll(bcast).count() == 0 &&
      bcast.exceptAll(shuffle).count() == 0,
      "shuffle-path scoring changed the graph")
    assert(chunked.exceptAll(bcast).count() == 0 &&
      bcast.exceptAll(chunked).count() == 0,
      "sequential score chunking changed the graph")
    assert(nospill.exceptAll(bcast).count() == 0 &&
      bcast.exceptAll(nospill).count() == 0,
      "the checkpoint-and-filter fallback changed the graph")
  }

  test("spill cleanup goes through the Hadoop FS layer and survives a file: URI") {
    import graft.operators.NnDescent
    // the cluster shape sets SPARK_GRAFT_NND_SPILL_DIR to a SHARED
    // filesystem URI (hdfs://, s3a://); cleanup must resolve the same
    // Hadoop FS the writer did — a java.io.File delete silently
    // no-ops on any URI and leaks one tens-of-GB spill dir per
    // chunked round. file: is the URI scheme this container can
    // exercise; the FS-resolution path is identical.
    val root = java.nio.file.Files
      .createTempDirectory("graft_nnd_spill_uri_").toString
    val emb = Tables.embeddings(spark, sf)
      .filter(graft.queries.Split.isTrain(col("vec_id")))
    val base = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      .localCheckpoint(true)
    assert(chunksAtBudget(base) >= 2,
      "ChunkBudget no longer forces chunked scoring at this sf")
    val bcast = NnDescent.build(base, k = 5).localCheckpoint(true)
    val viaUri = try {
      sys.props("graft.nnd.spill") = s"file:$root"
      assert(NnDescent.spillRoot(spark).contains(s"file:$root"))
      NnDescent.build(base, k = 5, bcastRows = 1,
        scratchBudget = ChunkBudget, localRows = 0L).localCheckpoint(true)
    } finally sys.props.remove("graft.nnd.spill")
    assert(viaUri.exceptAll(bcast).count() == 0 &&
      bcast.exceptAll(viaUri).count() == 0,
      "URI-rooted spill changed the graph")
    val leaked = new java.io.File(root).listFiles()
    assert(leaked == null || leaked.isEmpty,
      s"spill dirs leaked under file: root: ${leaked.map(_.getName).toSeq}")
    graft.streaming.Checkpoints.deleteRecursively(root)
  }

  test("scratch-budget probe walks to an existing parent; a 0 budget fails loud") {
    import graft.operators.NnDescent
    // Spark creates local dirs lazily, so the configured dir may not
    // exist yet; getUsableSpace on a missing path is 0, and a 0
    // budget would silently disable chunking — the exact ENOSPC the
    // feature prevents. The probe must walk up to the volume the dir
    // will land on.
    val had = sys.props.get("spark.local.dir")
    try {
      sys.props("spark.local.dir") =
        System.getProperty("java.io.tmpdir") + "/graft_missing/sub/dir"
      assert(NnDescent.scratchBudgetBytes(spark) > 0L,
        "probe must walk up to an existing ancestor, not report 0")
    } finally had match {
      case Some(v) => sys.props("spark.local.dir") = v
      case None => sys.props.remove("spark.local.dir")
    }
    // and when the budget still resolves non-positive on the shuffle
    // path, the build refuses instead of silently running unchunked
    val emb = Tables.embeddings(spark, sf)
      .filter(graft.queries.Split.isTrain(col("vec_id")))
    val base = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val e = intercept[IllegalArgumentException] {
      // localRows = 0: the refusal under test lives on the
      // distributed shuffle path; the driver-resident fast path
      // never touches scratch
      NnDescent.build(base, k = 5, bcastRows = 1, scratchBudget = -1L,
        localRows = 0L)
    }
    assert(e.getMessage.contains("SPARK_GRAFT_NND_SCRATCH_GB"))
  }

  test("build restores the session shuffle width and width never changes the graph") {
    import graft.operators.NnDescent
    val emb = Tables.embeddings(spark, sf)
      .filter(graft.queries.Split.isTrain(col("vec_id")))
    val base = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      .localCheckpoint(true)
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    // localRows = 0: sf0.001's rows would otherwise take buildLocal,
    // which returns before build sets (and restores) the width
    val a = NnDescent.build(base, k = 5, localRows = 0L)
      .select("id", "rank", "neighbor_id").localCheckpoint(true)
    assert(spark.conf.get(key) == before,
      "build must restore the session shuffle width it overrides")
    // partitioning is join strategy only: a build under a different
    // session width (which the auto-sizer floors at) must produce the
    // SAME graph — the property that keeps q27/q53/q55 oracle-green
    // at any derived width
    spark.conf.set(key, "7")
    try {
      val b = NnDescent.build(base, k = 5, localRows = 0L)
        .select("id", "rank", "neighbor_id").localCheckpoint(true)
      assert(b.exceptAll(a).count() == 0 && a.exceptAll(b).count() == 0,
        "shuffle width changed the graph")
    } finally spark.conf.set(key, before)
  }

  test("diversify's broadcast vector side (nKnown) changes the plan, not the result") {
    import graft.operators.{GraphSearch, NnDescent}
    val emb = Tables.embeddings(spark, sf)
      .filter(graft.queries.Split.isTrain(col("vec_id")))
    val base = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      .localCheckpoint(true)
    val n = base.count()
    val knn = NnDescent.build(base, k = 8).localCheckpoint(true)
    val plain = GraphSearch.diversify(knn, base, 4, backfill = true)
    val bcast = GraphSearch.diversify(knn, base, 4, backfill = true,
      nKnown = n)
    assert(bcast.exceptAll(plain).count() == 0 &&
      plain.exceptAll(bcast).count() == 0)
  }
}
