package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions._

/** NN-descent: iterative approximate k-NN-graph construction — the
  * distributed batch analog of the graph layer under the reference's
  * HNSW/graph index family (milvus-hnsw, sptag-bkt — README
  * "Supported Databases and Algorithms"). The exact
  * graph (q25) is an N^2 cross join; at 100 TB that's impossible, and
  * NN-descent converges in a few rounds of "my neighbors' neighbors
  * are probably my neighbors", each round a self-join on the current
  * edge list (shuffle on node ids, candidate count ~ deg^2 per node).
  * Lineage is cut per round (localCheckpoint) — mandatory for
  * iterative Spark jobs or plans grow without bound.
  */
object NnDescent {

  /** The deterministic sample order the reverse cap ranks by: a bijective
    * scramble of `x mod 2^20` — multiply by an odd constant and take
    * the product MOD 2^20 (odd multiplier ⇒ bijection on the ring).
    * Exact in int64 (product < 2^52) and SQL-replicable verbatim.
    * Two degeneracies this form dodges, both caught by
    * NnDescentSpec's order-shape guard:
    * (1) NOT the high bits: `(x·M) >> 20` is strictly monotone in x
    *     (slope M/2^20 ≈ 2532, never wraps), so ranking by it is
    *     ranking by plain id — the bias that silently turned the
    *     sampling into "keep the smallest ids".
    * (2) The per-round re-draw must vary the MULTIPLIER: any affine
    *     reseed ((x+a)·M + c ≡ x·M + const mod 2^20) merely ROTATES
    *     the order, so round-to-round only the ~Δ/2^20 of ids nearest
    *     the wrap point ever change — frozen sampling again. [[mult]]
    *     adds 2·7919·round to M (even increment keeps M odd ⇒ still a
    *     bijection; the odd factor 7919 spreads the order delta
    *     x·15838 mod 2^20 over 2^19 values), giving each round a
    *     genuinely different permutation, as Dong et al. 2011's
    *     per-iteration sample re-draw requires.
    * The SALT must fold into the multiplier too, for the same
    * rotation-not-redraw reason WITHIN a round: two samples drawn in
    * one iteration under different salts would otherwise rank by the
    * same rotated permutation — correlated samples where Dong et al.
    * need independent draws. [[mult]] mixes 2·104729·salt into M
    * (even ⇒ still odd/bijective; 104729 coprime to the round factor
    * 7919, so no (round, salt) pair collides for |Δround| < 104729).
    * The reverse cap draws with salt 97.
    */
  def sampleOrder(x: org.apache.spark.sql.Column, salt: Long,
      round: Int = 0): org.apache.spark.sql.Column =
    pmod(pmod(x, lit(1048576L)) * lit(mult(round, salt)) + lit(salt),
      lit(1048576L))

  /** Per-(round, salt) odd multiplier for [[sampleOrder]] (< 2^32 for
    * the salts in use, so the ring product stays exact in int64).
    */
  def mult(round: Int, salt: Long = 0L): Long =
    2654435761L + 15838L * round + 209458L * salt

  /** Candidate rows one shuffle task should stream through the top-k
    * aggregate per round — the measured-safe chunk. The 5M div build
    * (perRoundCand 1.4e9) OOM'd an 80 GB heap at 32 partitions (~44M
    * rows/task through the typed top-k buffers, unmanaged JVM heap
    * Spark's memory manager can't see) and completed comfortably at
    * 128 (~11M rows/task) — so the operator targets ~10M and derives
    * its own width instead of relying on a human-exported env var.
    */
  val RowsPerTaskTarget: Long = 10L * 1000 * 1000

  /** Shuffle-partition count for one NN-descent build: enough tasks
    * that no task streams more than ~[[RowsPerTaskTarget]] candidate
    * rows, never below the session default (small builds keep the
    * session's parallelism — AQE coalesces any excess), capped at
    * 4096 like every other auto-sizer in the repo (t11's pack
    * buckets, the streaming state layout).
    */
  def autoShufflePartitions(perRoundCand: Long, sessionDefault: Int): Int = {
    val derived = (perRoundCand + RowsPerTaskTarget - 1) / RowsPerTaskTarget
    derived.max(sessionDefault.toLong).min(4096L).toInt
  }

  /** Chunk count for SHUFFLE-PATH scoring (corpora above the
    * vector-broadcast ceiling — i.e. the only path a 100 TB base
    * layer can take). The scoring joins attach a full vector to every
    * candidate row, and the second join's shuffle WRITE carries that
    * payload: ~(4·dim + 64) bytes per candidate row in flight per
    * round. At 10M×64d, 1.5e9 candidate rows are ≈ 0.5 TB — measured
    * as "No space left on device" at 73 GB of local scratch.
    * Splitting the candidate set into hash-disjoint chunks scored
    * SEQUENTIALLY bounds the in-flight
    * bytes at est/chunks; per-query top-k over the union of per-chunk
    * top-k lists is EXACT (each candidate row lands in exactly one
    * chunk), so chunking is join scheduling, never semantics.
    * Capped at 64: past that the per-chunk fixed costs (job launch,
    * checkpoint) dominate and the right fix is more scratch, not more
    * chunks.
    */
  def scoreChunksFor(candRows: Long, dim: Int, budgetBytes: Long): Int = {
    val bytesPerRow = 4L * dim + 64L
    if (budgetBytes <= 0L) 1
    else {
      // rows-per-chunk form, not est-bytes form: candRows*bytesPerRow
      // can overflow int64 at adversarial inputs
      val unchunkedRows = (budgetBytes / bytesPerRow).max(1L)
      if (candRows <= unchunkedRows) 1
      else {
        // the chunked path materialises the candidate ids ONCE
        // (serialized DISK_ONLY, ~24 B/row measured) and that
        // footprint coexists with every chunk's shuffle — the 10M
        // first cut that budgeted only the shuffle ENOSPC'd on the
        // checkpoint + first chunk together. At least an eighth of
        // the budget always goes to the shuffle term so a checkpoint
        // bigger than the budget degrades to max chunks, not to a
        // division by zero.
        val ckptBytes =
          if (candRows > Long.MaxValue / 32L) Long.MaxValue / 2L
          else candRows * 24L
        val forShuffle = (budgetBytes - ckptBytes).max(budgetBytes / 8)
        val rowsPerChunk = (forShuffle / bytesPerRow).max(1L)
        ((candRows + rowsPerChunk - 1) / rowsPerChunk).max(1L).min(64L).toInt
      }
    }
  }

  /** Root directory for the chunked scorer's partitioned candidate
    * spill, or None to fall back to checkpoint-and-filter. An
    * explicit SPARK_GRAFT_NND_SPILL_DIR wins (on a cluster it MUST
    * be a shared filesystem — executors read each other's
    * partitions); otherwise local mode spills beside the configured
    * local dir (single JVM, so a local path is safe), and cluster
    * mode without the env gets None.
    */
  def spillRoot(spark: org.apache.spark.sql.SparkSession): Option[String] =
    // JVM-property test hook (specs can't set env vars in-process):
    // "-" disables the spill to exercise the checkpoint-and-filter
    // fallback — the cluster-without-shared-fs path — and any other
    // value IS the root (e.g. a file: URI, exercising the Hadoop-FS
    // cleanup path the hdfs://s3a:// cluster shape takes)
    sys.props.get("graft.nnd.spill").map(_.trim).filter(_.nonEmpty) match {
      case Some(p) =>
        // a -D flag shadowing the deployment's env config must never
        // be silent: on a cluster it would redirect tens-of-GB spills
        // away from the configured shared filesystem
        if (sys.env.get("SPARK_GRAFT_NND_SPILL_DIR").exists(_.trim.nonEmpty))
          System.err.println("nn-descent: JVM property graft.nnd.spill" +
            s"='$p' OVERRIDES env SPARK_GRAFT_NND_SPILL_DIR for this build")
        if (p == "-") None else Some(p)
      case None => sys.env.get("SPARK_GRAFT_NND_SPILL_DIR").map(_.trim)
        .filter(_.nonEmpty)
        .orElse {
          if (spark.sparkContext.isLocal)
            Some(spark.conf.getOption("spark.local.dir")
              .orElse(sys.props.get("spark.local.dir"))
              .getOrElse(System.getProperty("java.io.tmpdir"))
              .split(',').head.trim)
          else None
        }
    }

  /** Delete the spill dir through the HADOOP filesystem layer, not
    * java.io.File: the spill is WRITTEN via the Spark writer (which
    * resolves SPARK_GRAFT_NND_SPILL_DIR through Hadoop FS, so an
    * hdfs:// or s3a:// URI — the documented cluster shape — works),
    * and a java.io.File delete silently no-ops on any non-POSIX URI,
    * leaking a tens-of-GB nnd-spill dir per chunked round on exactly
    * the shared store the env var exists for.
    */
  private def deleteSpill(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true): Unit
  }

  /** Scratch budget for one scoring pass: the env override if set,
    * else 40% of the usable space of the FIRST configured Spark
    * local dir — exact in local mode;
    * on a real cluster per-executor scratch aggregates across the
    * fleet, so the driver-disk default is conservative and the env
    * var is the honest knob (set it to the fleet's aggregate
    * scratch). A local dir that does not exist yet (Spark creates it
    * lazily) reports 0 usable space, so the probe walks up to the
    * nearest EXISTING ancestor — the volume the dir will land on —
    * instead of returning a 0 that would silently disable chunking
    * (build() separately refuses to run the shuffle path on a 0
    * budget).
    */
  def scratchBudgetBytes(spark: org.apache.spark.sql.SparkSession): Long =
    sys.env.get("SPARK_GRAFT_NND_SCRATCH_GB")
      .flatMap(_.trim.toLongOption)
      .map(_ * (1L << 30))
      .getOrElse {
        val dir = spark.conf.getOption("spark.local.dir")
          .orElse(sys.props.get("spark.local.dir"))
          .getOrElse(System.getProperty("java.io.tmpdir"))
          .split(',').head.trim
        var f = new java.io.File(dir).getAbsoluteFile
        while (f != null && !f.exists()) f = f.getParentFile
        if (f == null) 0L else (f.getUsableSpace * 2) / 5
      }

  /** base: (id, vec). Returns (id, rank, neighbor_id) approximate
    * top-k graph. Deterministic: hash-seeded init, (dist, id)
    * tie-breaks everywhere.
    *
    * Candidate volume is bounded by the reverse-degree cap alone:
    * each node's undirected degree is ≤ 2wk, so a round generates at
    * most n·(2wk)² pairs. The pair join groups by the edge TARGET,
    * whose in-degree through the forward lists is not capped, so a
    * popular node still contributes in-degree² pairs — Dong et al.
    * 2011's per-group sample rate would close that hole, but no
    * build in this repo needs it, and every oracled build (q27, q53,
    * q55) mirrors the uncapped rounds.
    *
    * `bcastRows` is the vector-broadcast ceiling (rows): corpora at
    * or under it compute candidate scores map-side against a
    * broadcast vector table; larger corpora fall back to shuffle
    * joins. Join strategy only — never changes results.
    *
    * Shuffle width is self-sized ([[autoShufflePartitions]] from the
    * structural per-round candidate volume) — a build at the next
    * scale tier picks its own partition count instead of OOMing
    * behind a missing setting.
    */
  def build(
      base: DataFrame,
      k: Int,
      iters: Int = 4,
      workingDegreeFactor: Int = 3,
      seed: Long = 42L,
      nKnown: Long = -1L,
      bcastRows: Long = 1L << 22,
      scratchBudget: Long = 0L,
      localRows: Long = 1L << 16): DataFrame = {
    // iterate with a larger working degree than the requested k —
    // on high-intrinsic-dimension data the neighbor-of-neighbor
    // signal is weak, and the extra width is what carries convergence
    val wk = k * workingDegreeFactor
    // nKnown > 0 skips the count job — callers that already ran a
    // membership histogram (buildLayeredGraphsNnd) pass the size in
    val n = if (nKnown > 0) nKnown else base.count()
    // per-round candidate volume: n·(2wk)² shared-neighbor pairs plus
    // the n·wk current-edge add-back. The add-back is NOT decorative:
    // with it dropped from the GC gate below, a 1M-node build measured
    // a 39 GB two-rounds-coexist peak against ~20 GB nudged.
    val perRoundCand = n * 4L * wk * wk + n * wk

    // Driver-resident build for sub-bound corpora/layers (the
    // NN-descent twin of GraphSearch's driver-resident top): when the
    // member set fits the repo's standard driver budget AND the
    // per-round candidate volume is laptop-class, every one of the
    // ~10 shuffles × iters below is pure job-launch overhead over a
    // few MB — run the identical rounds as plain Scala instead
    // (measured at sf0.1 q27: 44 jobs / 3.8 s → 1 collect + the local
    // loop). At corpus scale (or any layer past the bound) the
    // distributed path below is untouched; an upper stack layer of a
    // 10^9-row build that halves under the bound takes this path too,
    // exactly as the serving walk keeps those layers in driver RAM.
    // Bit-identical by construction (same init hash, same per-round
    // sample orders, same (score, id) top-k ties — localScore is the
    // spec-gated scalar twin of vec_l2) and spec-gated against the
    // distributed build; localRows = 0 forces distributed.
    if (n <= localRows && perRoundCand <= (1L << 23))
      return buildLocal(base, wk, k, n, iters, seed)

    // The per-iteration System.gc() below is only worth its
    // stop-the-world pause when a round's shuffle spill is actually
    // multi-GB — i.e. past ~2^28 pairs (tens of GB of candidate+top-k
    // shuffle at 64d). Gate-scale builds (sf0.1: ~5e7 pairs) skip it.
    // NOTE: under -XX:+DisableExplicitGC the nudge is a silent no-op
    // and the two-rounds-of-spill peak returns.
    val gcNudge = perRoundCand >= (1L << 28)
    // Shuffle width is derived from the SAME formula, not left to a
    // human: each round streams perRoundCand rows through the typed
    // top-k aggregate, whose heap buffers are unmanaged JVM objects —
    // a task fed too many rows fails as an opaque executor OOM
    // instead of spilling. Target ~10M rows/task; the session default
    // is the floor (gate-scale builds keep their parallelism, AQE
    // coalesces any excess). Partitioning is join strategy only —
    // never changes results (oracle-mirrored builds stay
    // hash-identical at any width).
    val spark = base.sparkSession
    val shuffleKey = "spark.sql.shuffle.partitions"
    val sessionParts = spark.conf.get(shuffleKey).toInt
    val buildParts = autoShufflePartitions(perRoundCand, sessionParts)

    if (buildParts != sessionParts)
      // operational record: the derived width is the number a cluster
      // operator would otherwise have to compute by hand — log it so
      // a build's sizing is auditable from its log alone
      System.err.println(s"nn-descent: n=$n perRoundCand=$perRoundCand " +
        s"-> shuffle width $buildParts (session $sessionParts, " +
        s"~${perRoundCand / buildParts / 1000000}M rows/task)")
    // Shuffle-path scoring (n > bcastRows) must also bound its
    // SCRATCH, not just its heap: each round shuffles the candidate
    // stream with a vector attached (see [[scoreChunksFor]]). Derive
    // the chunk counts from the same structural volumes. The dim
    // probe is one 1-row job, paid only on the shuffle path (the
    // broadcast path never shuffles vector payload).
    val (roundChunks, finalChunks) =
      if (n <= bcastRows) (1, 1)
      else {
        val dim = base.select(size(col("vec")).cast("int").as("d"))
          .head().getInt(0)
        // an explicit nonzero override wins; 0 = auto-probe; anything
        // that RESOLVES non-positive fails the require below
        val budget =
          if (scratchBudget != 0L) scratchBudget else scratchBudgetBytes(spark)
        // a 0 budget would make scoreChunksFor return 1 — chunking
        // silently OFF on the one path whose scratch is structurally
        // unbounded, reintroducing the ENOSPC this machinery exists
        // to prevent. Fail loud instead: a 0 here means the local-dir
        // probe found no usable space (or a bad env value), and the
        // operator must say what the fleet's scratch actually is.
        require(budget > 0L,
          "nn-descent shuffle path: scratch budget resolved to 0 " +
            "(local-dir probe found no usable space); set " +
            "SPARK_GRAFT_NND_SCRATCH_GB to the aggregate executor scratch")
        val rc = scoreChunksFor(perRoundCand, dim, budget)
        val fc = scoreChunksFor(n * wk, dim, budget)
        if (rc > 1 || fc > 1)
          System.err.println(s"nn-descent: shuffle-path scoring " +
            s"chunked $rc/round, $fc final (dim=$dim, budget " +
            s"${budget >> 20} MB — est per-round in-flight " +
            s"${perRoundCand * (4L * dim + 64) >> 20} MB)")
        (rc, fc)
      }
    spark.conf.set(shuffleKey, buildParts.toString)
    try buildAt(base, wk, k, n, iters, seed, bcastRows, gcNudge,
      roundChunks, finalChunks)
    finally spark.conf.set(shuffleKey, sessionParts.toString)
  }

  /** The build body, run under [[build]]'s derived shuffle width
    * (every shuffle below — init distinct, candidate join, top-k
    * aggregation — executes eagerly through the per-round
    * localCheckpoints, so the width override covers the whole build).
    */
  private def buildAt(
      base: DataFrame,
      wk: Int,
      k: Int,
      n: Long,
      iters: Int,
      seed: Long,
      bcastRows: Long,
      gcNudge: Boolean,
      roundChunks: Int = 1,
      finalChunks: Int = 1): DataFrame = {
    // deterministic pseudo-random init: k candidates per node from a
    // multiplicative hash, self-loops dropped. `i` folds into the
    // multiplicand (id + i*7919) so the wk targets of one node SPREAD
    // over the id range — an additive i*c term degenerates to a
    // c-mod-n-spaced window (c = 40503 ≡ 3 mod 450/500), which
    // clusters the init and stalls convergence on non-contiguous id
    // spaces (e.g. a train split). Targets that miss a real id are
    // dropped by the vector join, same as the SQL mirror.
    var edges = base.select(col("id"),
      explode(expr(
        s"transform(sequence(1, $wk), i -> " +
          s"pmod((id + i * 7919L) * 2654435761L + $seed, ${n}L))")).as("nb"))
      .filter(col("id") =!= col("nb"))
      .distinct()
      .localCheckpoint(true)

    // every iteration joins vectors twice (src, dst) — without the
    // cache that is 2*iters+2 parquet scans of the full vector column
    val vecs = base.select(col("id"), col("vec")).cache()
    // The scoring joins attach two full vectors to EVERY candidate
    // pair (n·(2wk)² rows per round); through a shuffle join that is
    // hundreds of GB of vector payload in flight (measured 20 min for
    // 200k×64d at local[32]) — but the VECTOR TABLE itself is tiny
    // relative to the candidate volume. Broadcast it while it fits
    // (~4M rows ≈ 1 GB at 128-dim float: the candidate stream then
    // never shuffles, scores are computed map-side) and fall back to
    // the shuffle join only at node counts where a broadcast can't
    // hold — join strategy never changes the result, so the oracle
    // unroll is unaffected either way.
    def vside(df: DataFrame): DataFrame =
      if (n <= bcastRows) broadcast(df) else df

    def scoredOf(c: DataFrame): DataFrame = c
      .join(vside(vecs.select(col("id").as("src"), col("vec").as("sv"))),
        "src")
      .join(vside(vecs.select(col("id").as("dst"), col("vec").as("dv"))),
        "dst")
      .select(col("src").as("query_id"),
        vec_l2(col("sv"), col("dv")).as("score"),
        col("dst").as("id"))

    // Per-query top-k of the scored candidate set, optionally in
    // `chunks` SEQUENTIAL passes split by SRC hash (shuffle path
    // only — see [[scoreChunksFor]]): each pass bounds the
    // vector-carrying shuffle at est/chunks bytes. Chunking on the
    // QUERY key, not the pair, is load-bearing twice over: every
    // query's candidates stay whole inside one pass, so (a) each
    // pass's checkpointed output is exactly (n/chunks)·k rows —
    // a pair-hash split leaves ~cands/chunks rows per pass (a
    // query's candidates scatter, few heaps fill to k) and the
    // partials accumulate to the FULL candidate volume on disk
    // (measured: the 10M round climbed right back to the watchdog
    // line) — and (b) per-pass ranks are globally exact, so the
    // merge is a plain union, no second top-k shuffle. The chunk
    // key scrambles src (the sampleOrder ring trick) so contiguous
    // id ranges spread evenly.
    def topKScored(c: DataFrame, kk: Int, chunks: Int): DataFrame =
      if (chunks <= 1) KnnSearch.topKOf(scoredOf(c), kk, asc = true)
      else {
        // Free the PREVIOUS round's candidate blocks before writing
        // this round's: the loop body is a closure frame, so the
        // prior round's candidate spill (~tens of GB at 10M) only
        // becomes unreachable when that frame exits — without this
        // nudge two rounds' candidate sets coexist on disk exactly
        // during the new spill's write (the widest window of the
        // build).
        if (gcNudge) System.gc()
        val spark = c.sparkSession
        val key = pmod(
          pmod(pmod(col("src"), lit(1048576L)) * lit(40503L),
            lit(1048576L)),
          lit(chunks.toLong))
        val parts = spillRoot(spark) match {
          case Some(root) =>
            // Preferred: materialise the pair join ONCE as a parquet
            // spill PARTITIONED BY the chunk key — each pass then
            // reads 1/chunks of the bytes via partition pruning
            // instead of filtering a full scan (the checkpoint
            // fallback below re-reads the whole candidate set per
            // pass: ~1.3 TB of reads per round at the 10M tier's 64
            // chunks). Local-mode always qualifies; on a cluster the
            // spill dir must be a SHARED filesystem, so it is env-
            // gated (a per-node local path would strand partitions
            // on the executors that wrote them).
            val dir = s"$root/nnd-spill-${java.util.UUID.randomUUID}"
            val spilled = c.withColumn("ck", key)
            // cleanup goes through the Hadoop FS layer (the writer
            // resolved the dir through it, so cleanup must too — a
            // java.io.File delete no-ops on hdfs://s3a:// URIs) and
            // sits in a finally: per-pass results are checkpointed,
            // so on ANY exit the spill is dead weight
            try {
              spilled.write.partitionBy("ck").parquet(dir)
              // pin the schema: an empty candidate set writes a
              // parquet dir with no data files, and schema inference
              // over it throws instead of returning 0 rows
              val back = spark.read.schema(spilled.schema).parquet(dir)
              (0 until chunks).map { ch =>
                val t = KnnSearch.topKOf(
                  scoredOf(back.filter(col("ck") === lit(ch.toLong))
                    .select("src", "dst")), kk, asc = true)
                  .localCheckpoint(true)
                if (gcNudge) System.gc()
                t
              }
            } finally deleteSpill(spark, dir)
          case None =>
            // Fallback: the pair join persisted SERIALIZED to disk
            // (the default deserialized block format is ~3x the size
            // of two packed longs and the 10M materialisation alone
            // filled the scratch disk before the first chunk
            // scored); each pass filters a full scan of it. persist
            // rather than localCheckpoint so the blocks can be freed
            // EXPLICITLY below — checkpoint blocks only die when the
            // GC collects the RDD, which the gcNudge skips at small
            // candidate volumes (chunking forced by a small budget).
            val cm = c.persist(
              org.apache.spark.storage.StorageLevel.DISK_ONLY)
            cm.count(): Unit // materialise before the pass loop
            if (gcNudge) System.gc()
            try (0 until chunks).map { ch =>
              val t = KnnSearch.topKOf(
                scoredOf(cm.filter(key === lit(ch.toLong))),
                kk, asc = true)
                .localCheckpoint(true)
              if (gcNudge) System.gc()
              t
            } finally cm.unpersist()
        }
        // chunking is on the QUERY key, so each pass's ranks are
        // globally exact and the merge is a plain union — no second
        // top-k shuffle (and every per-pass list is already
        // checkpointed, so deleting the spill above is safe)
        parts.reduce(_ unionAll _)
      }

    for (it <- 1 to iters) {
      // reverse edges are CAPPED at wk per node before the
      // neighbor-of-neighbor expansion (Dong et al. 2011's reverse
      // sampling, made deterministic): a hub pointed at by thousands
      // of nodes would otherwise contribute deg² candidate pairs —
      // measured as a spill blowup at 1M nodes (unbounded reverse
      // degree ⇒ the candidate shuffle outgrew an 80 GB scratch disk
      // on iteration 5). With the cap the undirected degree is ≤ 2wk
      // EXACTLY, so candidate volume is ≤ n·(2wk)² per round at any
      // n. The kept subset follows [[sampleOrder]] (bijective
      // scramble, re-seeded per round as Dong et al. re-draw their
      // samples each iteration), ties by id — deterministic, and
      // mirrored verbatim in the q27/q53/q55 oracle unrolls.
      val revOrd = sampleOrder(col("nb"), 97L, it)
      val rev = edges.select(col("nb").as("id"), col("id").as("nb"))
        .withColumn("rr", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("id").orderBy(revOrd, col("nb"))))
        .filter(col("rr") <= wk).drop("rr")
      val und = edges.unionAll(rev)
      // candidate pairs: nodes sharing a neighbor (join through mid)
      val a = und.select(col("nb").as("mid"), col("id").as("src"))
      val b = und.select(col("nb").as("mid"), col("id").as("dst"))
      val cands = a.join(b, "mid")
        .filter(col("src") =!= col("dst"))
        .select("src", "dst")
        .unionAll(edges.select(col("id").as("src"), col("nb").as("dst")))
        .distinct()
      edges = topKScored(cands, wk, roundChunks)
        .select(col("query_id").as("id"), col("neighbor_id").as("nb"))
        .localCheckpoint(true)
      // nudge the ContextCleaner: the previous round's candidate and
      // top-k shuffle files (the two big per-round spills — tens of
      // GB per round at millions of nodes) are only deleted after
      // their now-unreachable RDDs are collected. Without this, two
      // rounds of shuffle coexist on scratch disk and the peak
      // doubles (measured at 5M nodes: >74 GB by round 2 vs a
      // ~single-round working set). Semantics-free — results are
      // checkpointed before the old lineage is dropped. Skipped at
      // small candidate volumes (see gcNudge above): there the spill
      // is sub-GB and the full-GC pause is pure fixed cost.
      if (gcNudge) System.gc()
    }

    // final ranked output recomputes distances once for rank order
    // (through the same chunked path — n·wk vector-carrying rows is
    // itself ~150 GB in flight at the 10M tier)
    // materialise the (small, N x k) result so the vector cache can be
    // released before returning — no storage pinned past the build
    val out = topKScored(
      edges.select(col("id").as("src"), col("nb").as("dst")),
      k, finalChunks)
      .select(col("query_id").as("id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"))
      .localCheckpoint(true)
    vecs.unpersist()
    out
  }

  /** The driver-resident build ([[build]]'s sub-bound fast path):
    * the SAME rounds as [[buildAt]] — init hash, reverse cap by the
    * same per-round [[sampleOrder]] permutation (ties by id),
    * shared-neighbor candidate pairs + current-edge add-back,
    * per-src top-wk by (score, id), final top-k rerank — run as
    * plain Scala over one bounded collect. The und MULTISET (edges ++
    * rev can repeat a pair) yields repeated candidate pairs, which
    * dedupe through the per-src sets exactly as the distributed
    * .distinct() does. Scoring drops endpoints with
    * no vector row (the init hash targets the full [0, n) id ring;
    * real id spaces have gaps) — the inner-join semantics of the
    * distributed vector join.
    */
  private def buildLocal(
      base: DataFrame,
      wk: Int,
      k: Int,
      n: Long,
      iters: Int,
      seed: Long): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val rows = base.select(col("id"), col("vec")).collect()
    val nv = rows.length
    // (sorted id -> vec) parallel arrays: primitive binary-search
    // lookup. The loop's previous boxed structures (tuple edge
    // arrays, HashMap[Long, HashSet[Long]] candidate sets) spent more
    // wall on allocation than on scoring (q27: 1.2 s driver loop for
    // ~0.2 s of distances); everything below is primitive arrays.
    // Selection semantics are UNCHANGED — every cap/top-k picks by a
    // total order ((ord, id) sample ranks, (score, id) ties), so
    // the results are independent of grouping/iteration order and
    // stay bit-identical to the distributed build (spec-gated).
    val perm = Array.range(0, nv).sortBy(rows(_).getLong(0))
    val idArr = new Array[Long](nv)
    val vecArr = new Array[Array[Float]](nv)
    var vi = 0
    while (vi < nv) {
      val r = rows(perm(vi))
      idArr(vi) = r.getLong(0)
      vecArr(vi) = r.getSeq[Float](1).toArray
      vi += 1
    }
    def vecOf(id: Long): Array[Float] = {
      val s = java.util.Arrays.binarySearch(idArr, id)
      if (s >= 0) vecArr(s) else null
    }
    val m = VecMetric.Euclidean

    def ord(x: Long, salt: Long, round: Int): Long =
      Math.floorMod(
        Math.floorMod(x, 1048576L) * mult(round, salt) + salt, 1048576L)

    // quicksort of idx(lo..hi) by a long key — index-permutation
    // grouping (group by dst/src) without boxing
    def qsortIdx(idx: Array[Int], lo0: Int, hi0: Int,
        key: Array[Long]): Unit = {
      var stack = List((lo0, hi0))
      while (stack.nonEmpty) {
        val (lo, hi) = stack.head; stack = stack.tail
        if (hi - lo < 24) { // insertion sort small ranges
          var i = lo + 1
          while (i <= hi) {
            val t = idx(i); val kt = key(t); var j = i - 1
            while (j >= lo && key(idx(j)) > kt) { idx(j + 1) = idx(j); j -= 1 }
            idx(j + 1) = t; i += 1
          }
        } else {
          val mid = lo + ((hi - lo) >> 1)
          val p = key(idx(mid))
          var i = lo; var j = hi
          while (i <= j) {
            while (key(idx(i)) < p) i += 1
            while (key(idx(j)) > p) j -= 1
            if (i <= j) { val t = idx(i); idx(i) = idx(j); idx(j) = t; i += 1; j -= 1 }
          }
          if (lo < j) stack = (lo, j) :: stack
          if (i < hi) stack = (i, hi) :: stack
        }
      }
    }
    // in-place sort of a(lo..hi-1) by (ord(x, salt, round), x) — the
    // per-round sample rank with id ties, exactly sortBy's key
    def sortByOrd(a: Array[Long], lo0: Int, hi0: Int,
        salt: Long, round: Int): Unit = {
      def lt(x: Long, y: Long): Boolean = {
        val ox = ord(x, salt, round); val oy = ord(y, salt, round)
        ox < oy || (ox == oy && x < y)
      }
      var stack = List((lo0, hi0 - 1))
      while (stack.nonEmpty) {
        val (lo, hi) = stack.head; stack = stack.tail
        if (hi - lo < 24) {
          var i = lo + 1
          while (i <= hi) {
            val t = a(i); var j = i - 1
            while (j >= lo && lt(t, a(j))) { a(j + 1) = a(j); j -= 1 }
            a(j + 1) = t; i += 1
          }
        } else {
          val p = a(lo + ((hi - lo) >> 1))
          var i = lo; var j = hi
          while (i <= j) {
            while (lt(a(i), p)) i += 1
            while (lt(p, a(j))) j -= 1
            if (i <= j) { val t = a(i); a(i) = a(j); a(j) = t; i += 1; j -= 1 }
          }
          if (lo < j) stack = (lo, j) :: stack
          if (i < hi) stack = (i, hi) :: stack
        }
      }
    }

    // edge multiset as parallel primitive arrays
    var eSrc = new Array[Long](nv * wk)
    var eDst = new Array[Long](nv * wk)
    var eN = 0
    // init: wk candidates per node from the multiplicative hash,
    // self-loops dropped, deduped — [[buildAt]]'s expression verbatim
    // (the old global .distinct dedupes only within one id's block:
    // pairs share their first element)
    locally {
      val cand = new Array[Long](wk)
      var ii = 0
      while (ii < nv) {
        val id = idArr(ii)
        var cn = 0
        var j = 1
        while (j <= wk) {
          val nb = Math.floorMod((id + j * 7919L) * 2654435761L + seed, n)
          if (nb != id) {
            var dup = false; var t = 0
            while (t < cn && !dup) { dup = cand(t) == nb; t += 1 }
            if (!dup) { cand(cn) = nb; cn += 1 }
          }
          j += 1
        }
        var t = 0
        while (t < cn) { eSrc(eN) = id; eDst(eN) = cand(t); eN += 1; t += 1 }
        ii += 1
      }
    }

    // per-src top-k over a candidate slice, the collect_topk order
    // (TopKHeap.worse, ascending); srcs/dsts without vectors drop; duplicate
    // dsts pre-deduped by the caller (sort + skip-equal)
    def topInto(sv: Array[Float], dsts: Array[Long], lo: Int, hi: Int,
        kk: Int, ss: Array[Double], dd: Array[Long]): Int = {
      var cnt = 0
      var i = lo
      var prev = 0L
      var first = true
      while (i < hi) {
        val d = dsts(i)
        if (first || d != prev) { // caller sorts: equal dsts adjacent
          first = false
          val dv = vecOf(d)
          if (dv != null) {
            val s = m.localScore(sv, dv)
            if (cnt < kk ||
                TopKHeap.worse(true, ss(cnt - 1), dd(cnt - 1), s, d)) {
              var p = if (cnt < kk) cnt else kk - 1
              while (p > 0 &&
                  TopKHeap.worse(true, ss(p - 1), dd(p - 1), s, d)) {
                ss(p) = ss(p - 1); dd(p) = dd(p - 1); p -= 1
              }
              ss(p) = s; dd(p) = d
              if (cnt < kk) cnt += 1
            }
          }
        }
        prev = d
        i += 1
      }
      cnt
    }

    var it = 1
    while (it <= iters) {
      // ---- reverse edges capped at wk per target by the round's
      // sample order, ties by id ----
      val idx = Array.range(0, eN)
      qsortIdx(idx, 0, eN - 1, eDst)
      val rSrc = new Array[Long](eN)
      val rDst = new Array[Long](eN)
      var rN = 0
      val scratch = new Array[Long](eN.max(1))
      var p = 0
      while (p < eN) {
        val d = eDst(idx(p))
        var q = p
        while (q < eN && eDst(idx(q)) == d) q += 1
        val len = q - p
        var t = 0
        while (t < len) { scratch(t) = eSrc(idx(p + t)); t += 1 }
        sortByOrd(scratch, 0, len, 97L, it)
        val keep = if (len < wk) len else wk
        t = 0
        while (t < keep) { rSrc(rN) = d; rDst(rN) = scratch(t); rN += 1; t += 1 }
        p = q
      }
      // ---- und = edges ++ rev ----
      val uSrc = new Array[Long](eN + rN)
      val uDst = new Array[Long](eN + rN)
      System.arraycopy(eSrc, 0, uSrc, 0, eN)
      System.arraycopy(rSrc, 0, uSrc, eN, rN)
      System.arraycopy(eDst, 0, uDst, 0, eN)
      System.arraycopy(rDst, 0, uDst, eN, rN)
      val uN = eN + rN
      // ---- candidate lists: nodes sharing a neighbor (all ordered
      // pairs within each und target group), plus the current edge
      // list add-back; duplicates kept here, deduped at scoring ----
      val ui2 = Array.range(0, uN)
      qsortIdx(ui2, 0, uN - 1, uDst)
      // distinct candidate srcs -> dense slots (insertion order)
      val slotOf = new java.util.HashMap[Long, Integer](uN * 2)
      val srcList = new Array[Long](uN + eN)
      var nSlots = 0
      def slot(s: Long): Int = {
        val got = slotOf.get(s)
        if (got != null) got.intValue()
        else {
          val ns = nSlots
          slotOf.put(s, Integer.valueOf(ns))
          srcList(ns) = s
          nSlots += 1
          ns
        }
      }
      // first pass: count candidates per slot (exact sizing, no
      // growable buffers in the hot loop)
      val cntOf = new Array[Int]((uN + eN).max(1))
      var pp = 0
      while (pp < uN) {
        val d = uDst(ui2(pp))
        var qq = pp
        while (qq < uN && uDst(ui2(qq)) == d) qq += 1
        val g = qq - pp
        var i = pp
        while (i < qq) {
          val si = slot(uSrc(ui2(i)))
          // g-1 ordered partners minus self-pairs (s == s) are kept;
          // self-DST pairs (s(i) == s(j), i != j) are still appended
          // to mirror add()'s s != d guard exactly below
          cntOf(si) += g - 1
          i += 1
        }
        pp = qq
      }
      var ei = 0
      while (ei < eN) { cntOf(slot(eSrc(ei))) += 1; ei += 1 }
      val offs = new Array[Int](nSlots + 1)
      var si2 = 0
      while (si2 < nSlots) { offs(si2 + 1) = offs(si2) + cntOf(si2); si2 += 1 }
      val candBuf = new Array[Long](offs(nSlots))
      val fill = java.util.Arrays.copyOf(offs, nSlots)
      pp = 0
      while (pp < uN) {
        val d = uDst(ui2(pp))
        var qq = pp
        while (qq < uN && uDst(ui2(qq)) == d) qq += 1
        var i = pp
        while (i < qq) {
          val s = uSrc(ui2(i))
          val si = slot(s)
          var j = pp
          while (j < qq) {
            if (j != i) { candBuf(fill(si)) = uSrc(ui2(j)); fill(si) += 1 }
            j += 1
          }
          i += 1
        }
        pp = qq
      }
      ei = 0
      while (ei < eN) {
        val si = slot(eSrc(ei))
        candBuf(fill(si)) = eDst(ei); fill(si) += 1
        ei += 1
      }
      // ---- parallel per-slot scoring: sort+dedup the slice (set
      // semantics == the old per-src HashSet), drop self, top-wk ----
      val outD = new Array[Array[Long]](nSlots)
      java.util.stream.IntStream.range(0, nSlots).parallel().forEach { si =>
        val s = srcList(si)
        val sv = vecOf(s)
        if (sv == null) outD(si) = Array.emptyLongArray
        else {
          val lo = offs(si); val hi = fill(si)
          java.util.Arrays.sort(candBuf, lo, hi)
          // drop self-candidates (the old add() s != d guard)
          var w = lo
          var r = lo
          while (r < hi) {
            if (candBuf(r) != s) { candBuf(w) = candBuf(r); w += 1 }
            r += 1
          }
          val ss = new Array[Double](wk)
          val dd = new Array[Long](wk)
          val cnt = topInto(sv, candBuf, lo, w, wk, ss, dd)
          outD(si) = java.util.Arrays.copyOf(dd, cnt)
        }
      }
      var total = 0
      si2 = 0
      while (si2 < nSlots) { total += outD(si2).length; si2 += 1 }
      eSrc = new Array[Long](total)
      eDst = new Array[Long](total)
      eN = 0
      si2 = 0
      while (si2 < nSlots) {
        val ds = outD(si2)
        var t = 0
        while (t < ds.length) {
          eSrc(eN) = srcList(si2); eDst(eN) = ds(t); eN += 1; t += 1
        }
        si2 += 1
      }
      it += 1
    }

    // final top-k rerank of the working lists (per-src groups; the
    // per-src dsts are unique already — last round's top lists)
    val fi = Array.range(0, eN)
    qsortIdx(fi, 0, eN - 1, eSrc)
    val out = Seq.newBuilder[(Long, Long, Long)]
    val fss = new Array[Double](k)
    val fdd = new Array[Long](k)
    val fScratch = new Array[Long](eN.max(1))
    var fp = 0
    while (fp < eN) {
      val s = eSrc(fi(fp))
      var fq = fp
      while (fq < eN && eSrc(fi(fq)) == s) fq += 1
      val sv = vecOf(s)
      if (sv != null) {
        var t = fp
        var len = 0
        while (t < fq) { fScratch(len) = eDst(fi(t)); len += 1; t += 1 }
        java.util.Arrays.sort(fScratch, 0, len)
        val cnt = topInto(sv, fScratch, 0, len, k, fss, fdd)
        var r = 0
        while (r < cnt) { out += ((s, (r + 1).toLong, fdd(r))); r += 1 }
      }
      fp = fq
    }
    out.result().toDF("id", "rank", "neighbor_id")
  }
}
