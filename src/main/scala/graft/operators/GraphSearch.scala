package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Batch beam search over a prebuilt kNN graph — the Spark-shaped
  * query side of the reference's graph/tree index family (HNSW, SPTAG
  * BKT — README "Supported Databases and Algorithms"; the repo's
  * q25/q27 build that graph, this answers queries against it).
  *
  * A single-query HNSW descent is pointer-chasing and belongs in a
  * serving process; the batch analog answers a whole QUERY SET per
  * round: every query keeps a beam of its best-so-far nodes, each
  * round expands all beams one hop through the edge list, scores the
  * newly reached nodes, and re-selects the beam. All queries share
  * each round's two joins, so the per-round cost is:
  *
  *  - `broadcast(beam) ⋈ edges`: one edge-list scan, beam side is
  *    Q × beam rows (tiny, broadcast) — no shuffle of the graph;
  *  - `base ⋈ broadcast(candidates)`: one vector-table scan scoring
  *    Q × beam × degree candidates.
  *
  * Total work is O(rounds × (|E| + N)) scans independent of Q's
  * distances-to-everything, and per-query results touch only
  * entries + rounds × beam × degree vectors — the graph-index value
  * proposition. Deterministic throughout: fixed entry points (first
  * `entryN` ids), (score, id) tie-breaks, so results replicate in SQL.
  */
object GraphSearch {

  /** base: (id, vec); graph: (id, neighbor_id) directed out-edges;
    * queries: (query_id, qvec). Returns (query_id, rank, neighbor_id,
    * score) — top-k of every node VISITED by the beam walk.
    *
    * `entryBeam` > 0 enables the LAYERED entry (the HNSW coarse-layer
    * descent): the entryN sample rows form layer 1, each query scores
    * that tiny layer and enters the base graph at only its
    * `entryBeam` nearest layer rows — a narrower, better-aimed front
    * than seeding every query with all entryN rows, so the same
    * visited budget buys more rounds of real walking. `entryBeam` = 0
    * keeps the flat behavior (all entryN rows seed the walk).
    */
  def beamSearch(
      base: DataFrame,
      graph: DataFrame,
      queries: DataFrame,
      k: Int,
      beam: Int,
      rounds: Int,
      entryN: Int,
      metric: VecMetric = VecMetric.Euclidean,
      entryBeam: Int = 0): DataFrame =
    beamSearchWithVisited(base, graph, queries, k, beam, rounds, entryN,
      metric, entryBeam)._1

  /** [[beamSearch]] plus the per-query count of nodes the walk scored
    * — the visited-fraction metric a graph index is judged by.
    */
  def beamSearchWithVisited(
      base: DataFrame,
      graph: DataFrame,
      queries: DataFrame,
      k: Int,
      beam: Int,
      rounds: Int,
      entryN: Int,
      metric: VecMetric = VecMetric.Euclidean,
      entryBeam: Int = 0): (DataFrame, DataFrame) = {
    val vecs = base.select(col("id"), col("vec"))
    val edges = graph.select(col("id"), col("neighbor_id"))

    // score a (query_id, id) candidate set: one base scan, candidates
    // broadcast (Q x beam x degree rows — always tiny)
    def score(cand: DataFrame): DataFrame =
      vecs.join(broadcast(cand), "id")
        .join(broadcast(queries), "query_id")
        .select(col("query_id"), col("id"),
          metric.score(col("qvec"), col("vec")).as("score"))

    // layer 1: the first entryN ids in id order (the same rows IVF's
    // sample-init picks as centroids — a fixed, replicable seed set),
    // evaluated for every query
    val entries = vecs.orderBy("id").limit(entryN).select("id")
    val layer = score(entries.crossJoin(queries.select("query_id")))
    var visited = (if (entryBeam > 0)
      KnnSearch.topKOf(layer, entryBeam, metric.asc)
        .select(col("query_id"), col("neighbor_id").as("id"), col("score"))
    else layer).localCheckpoint(true)

    for (_ <- 1 to rounds) {
      // beam = top-`beam` of everything visited so far (scores are
      // static, so this equals the classic beam ∪ new-candidates
      // re-selection), then expand one hop
      val beamIds = KnnSearch.topKOf(visited, beam, metric.asc)
        .select(col("query_id"), col("neighbor_id").as("id"))
      val cand = edges.join(broadcast(beamIds), "id")
        .select(col("query_id"), col("neighbor_id").as("id"))
        .distinct()
      // never re-score a visited node (and never let a duplicate
      // occupy two beam slots)
      val fresh = cand.join(visited.select("query_id", "id"),
        Seq("query_id", "id"), "left_anti")
      visited = visited.unionByName(score(fresh)).localCheckpoint(true)
    }

    // the layer scan scored entryN rows per query regardless of how
    // many seeded the walk — count it in the visited metric honestly
    val visitedCounts = visited.groupBy("query_id")
      .agg(count(lit(1)).as("n_visited"))
      .withColumn("n_visited",
        if (entryBeam > 0) col("n_visited") + lit((entryN - entryBeam).toLong)
        else col("n_visited"))
    (KnnSearch.topKOf(visited, k, metric.asc), visitedCounts)
  }

  /** HNSW's neighbor-selection heuristic (Malkov & Yashunin 2018,
    * SELECT-NEIGHBORS-HEURISTIC) in its non-recursive "simple
    * pruning" form: candidate i of a node is DROPPED when some
    * earlier-ranked candidate j is strictly closer to i than the node
    * itself is — redundant same-direction edges give way to
    * diverse-direction ones, which is what lets a degree-m
    * diversified graph match a plain top-(2m) graph's reachability.
    * The classic heuristic checks only KEPT earlier candidates
    * (sequential, pointer-chasing); checking ALL earlier candidates
    * is the order-free variant that is one self-join + one anti-join
    * — fully parallel, deterministic, SQL-replicable — and prunes a
    * superset (kept ⊆ classic-kept ⊆ candidates), trading a little
    * extra sparsity for the batch shape.
    *
    * knn: (id, rank, neighbor_id) candidate lists ranked ascending by
    * (distance, id); base: (id, vec). Returns the same shape,
    * re-ranked 1..≤m among survivors. Cost: one N·wk²/2 pair
    * self-join + three vector joins — linear in N at fixed wk.
    */
  /** `backfill` = the paper's keepPrunedConnections flag (Malkov &
    * Yashunin Alg. 4): when the prune leaves fewer than m survivors,
    * refill the open slots with the closest PRUNED candidates —
    * survivors first, then pruned, both in candidate-rank order. The
    * kept set is then exactly min(m, candidates) wide, which matters
    * where diversity starves degree (small layers, aggressive
    * order-free pruning). Default off: q54 gates the strict variant.
    */
  def diversify(
      knn: DataFrame,
      base: DataFrame,
      m: Int,
      metric: VecMetric = VecMetric.Euclidean,
      backfill: Boolean = false,
      nKnown: Long = -1L): DataFrame =
    diversifyBy(knn, base, lit(m), metric, backfill, nKnown, Nil)

  /** [[diversify]] generalised over a composite node key and a
    * per-row cap: `extraKeys` columns (e.g. "layer") ride along with
    * `id` through the pair join, the prune and the re-rank, so ONE
    * plan prunes every (extraKeys, id) group — [[compactOverDegree]]
    * runs all layers of a stack in a single pass instead of a plan
    * per layer (a job-count, never a result, difference). `m` is a
    * Column so the cap can depend on the key (layer 0 vs upper).
    */
  def diversifyBy(
      knn: DataFrame,
      base: DataFrame,
      m: Column,
      metric: VecMetric,
      backfill: Boolean,
      nKnown: Long,
      extraKeys: Seq[String]): DataFrame = {
    val keys = extraKeys :+ "id"
    // the pair stream is n·cand²/2 rows; each of the three vector
    // joins would shuffle it WITH vector payload unless the (much
    // smaller) vector table is broadcast. Callers that know the
    // member count pass it in (nKnown) and the table is broadcast
    // while it fits — join strategy only, never changes the result.
    val vraw = base.select(col("id"), col("vec"))
    val v = if (nKnown > 0 && nKnown <= BcastRows) broadcast(vraw) else vraw
    val ci = knn.select(keys.map(col) ++ Seq(col("rank").as("ri"),
      col("neighbor_id").as("ni")): _*)
    val cj = knn.select(keys.map(col) ++ Seq(col("rank").as("rj"),
      col("neighbor_id").as("nj")): _*)
    // prune i when metric ranks (i, j) strictly better than (node, i)
    val better: (Column, Column) => Column =
      if (metric.asc) _ < _ else _ > _
    val pruned = ci.join(cj, keys).filter(col("rj") < col("ri"))
      .join(v.select(col("id").as("ni"), col("vec").as("vi")), "ni")
      .join(v.select(col("id").as("nj"), col("vec").as("vj")), "nj")
      .join(v.select(col("id"), col("vec").as("v0")), "id")
      .filter(better(metric.score(col("vi"), col("vj")),
        metric.score(col("v0"), col("vi"))))
      .select(keys.map(col) :+ col("ri"): _*).distinct()
    import org.apache.spark.sql.expressions.Window
    if (backfill) {
      knn.join(pruned.withColumnRenamed("ri", "rank")
          .withColumn("pruned", lit(1)), keys :+ "rank", "left")
        .withColumn("rank", row_number().over(
          Window.partitionBy(keys.map(col): _*)
            .orderBy(coalesce(col("pruned"), lit(0)), col("rank"))))
        .filter(col("rank") <= m)
        .select(keys.map(col) ++ Seq(col("rank").cast("long").as("rank"),
          col("neighbor_id")): _*)
    } else
    knn.join(pruned.withColumnRenamed("ri", "rank"),
        keys :+ "rank", "left_anti")
      .withColumn("rank", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy("rank")))
      .filter(col("rank") <= m)
      .select(keys.map(col) ++ Seq(col("rank").cast("long").as("rank"),
        col("neighbor_id")): _*)
  }

  // ----- true multi-layer hierarchy (the HNSW layer stack) -----

  /** HNSW-style level assignment, deterministic + SQL-replicable: the
    * high bits of a bounded multiplicative hash of the id. A node
    * belongs to layer l iff the low l bits of [[levelHash]] are zero,
    * so expected layer sizes halve (N/2^l) and membership NESTS —
    * layer l+1 ⊆ layer l — which is what lets a descent carry its
    * best-so-far beam downward without re-entering the graph. The id
    * is bounded mod 2^20 before multiplying so the product stays
    * exact in int64 at any corpus size (and in the DuckDB oracle's
    * BIGINT, which traps on overflow instead of wrapping).
    */
  def levelHash(id: Column): Column =
    shiftright(pmod(id, lit(1048576L)) * lit(2654435761L) + lit(42L), 20)

  /** True iff the node belongs to layer `l` (l = 0 is everyone). */
  def inLayer(id: Column, l: Int): Column =
    (levelHash(id).bitwiseAND(lit((1L << l) - 1))) === 0L

  /** Member count of every layer 0..levels from ONE histogram job
    * over the id column: layer membership NESTS, so members(l) =
    * Σ_{depth ≥ l} histogram(depth) and members(0) = N. The collect
    * is ≤ levels + 1 rows.
    */
  private def layerMembers(nodes: DataFrame, levels: Int): IndexedSeq[Long] = {
    val depth = (1 to levels)
      .map(l => when(inLayer(col("id"), l), 1).otherwise(0))
      .reduce(_ + _)
    val hist = nodes.select(depth.as("d")).groupBy("d").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1))
    (0 to levels).map(l => hist.filter(_._1 >= l).map(_._2).sum)
  }

  /** The vector-broadcast ceiling (rows) every join here guards on —
    * ~4M rows ≈ 1 GB at 64-dim float. Join strategy only, never
    * results.
    */
  private val BcastRows = 1L << 22

  /** Build the layer stack's edge lists: (layer, id, neighbor_id).
    * Layer 0 is the base kNN graph at `baseDeg`; each upper layer
    * 1..levels-1 is the kNN graph AMONG that layer's members at the
    * cheaper `upperDeg` (upper layers only aim the descent, they
    * never produce answers). `symmetric` SYMMETRIZES each layer
    * (id→nb plus nb→id, deduped) — HNSW's bidirectional links: a
    * directed kNN graph strands walks in basins whose members point
    * inward but are pointed at by few, and reverse edges are what let
    * a walk climb back out. Exact per-layer builds here (the upper
    * layers cost a vanishing (N/2^l)^2 ≤ N^2/3 extra relative to the
    * base build); at 100 TB every layer takes the NN-descent path
    * (q27) — the stack shape is identical.
    */
  /** One exact layer's symmetrized edge list (see
    * [[buildLayeredGraphs]] for the symmetrization rationale).
    */
  private def exactLayer(base: DataFrame, l: Int, deg: Int,
      metric: VecMetric, symmetric: Boolean): DataFrame = {
    val members =
      if (l == 0) base else base.filter(inLayer(col("id"), l))
    val knn = KnnSearch.bruteForceBlocked(members,
      members.select(col("id").as("query_id"), col("vec").as("qvec")),
      deg, metric,
      pairFilter = Some(col("id") =!= col("query_id")))
      .select(col("query_id").as("id"), col("neighbor_id"))
    val edges = if (symmetric)
      knn.unionByName(knn.select(col("neighbor_id").as("id"),
        col("id").as("neighbor_id"))).distinct()
    else knn
    edges.select(lit(l).as("layer"), col("id"), col("neighbor_id"))
  }

  def buildLayeredGraphs(
      base: DataFrame,
      levels: Int,
      baseDeg: Int,
      upperDeg: Int,
      metric: VecMetric = VecMetric.Euclidean,
      symmetric: Boolean = true): DataFrame =
    (0 until levels).map { l =>
      exactLayer(base, l, if (l == 0) baseDeg else upperDeg, metric,
        symmetric)
    }.reduce(_ unionByName _)

  /** [[buildLayeredGraphs]] with NO N² anywhere — the 100 TB stack
    * build (buildLayeredGraphs documents "at 100 TB every layer takes
    * the NN-descent path"; this is that path, gated as q53). Layer 0
    * is ALWAYS [[NnDescent.build]]'s approximate kNN graph
    * (deterministic init, so oracle-replicable), symmetrized like the
    * exact build. Upper layers switch on member count, decided by ONE
    * membership-histogram job (layer membership nests, so one depth
    * histogram yields every layer's size): a layer with more than
    * `exactCap` members also takes the NN-descent path (the exact
    * build's (N/2^l)² blocked pairs sum to N²/3 across layers — the
    * same scale-killer the base layer has); at or under the cap the
    * exact blocked build is cheaper than NN-descent's shuffle rounds
    * and is used as-is — the cap bounds the whole exact tier at
    * cap²·4/3 pair evals regardless of corpus size (measured: a 64k
    * cap spent ~500 s of a 200k build's 773 s inside the exact tier;
    * 16k makes it noise). At sf gate scales every upper layer is
    * under it (the oracle SQL assumes exact upper layers), at 10^9
    * rows layers 0..~16 go NN-descent. Upper NND layers reuse the
    * caller's working-degree factor: upper layers only AIM the
    * UpperBeam-wide descent (they never produce answers), so build
    * quality is cheap to trade for the (2·wk)²-per-node candidate
    * volume — measured at 200k: factor-1 uppers cost ~1/10th of
    * factor-3, with search recall measured alongside rather than
    * assumed. Their hash init lands on member ids at only
    * ~(layer size / corpus id range) density; the 2 expansion rounds
    * recover from the sparse seed. Only Euclidean: NN-descent's
    * pruning heap is L2 (q27's contract).
    */
  def buildLayeredGraphsNnd(
      base: DataFrame,
      levels: Int,
      baseDeg: Int,
      upperDeg: Int,
      iters: Int,
      workingDegreeFactor: Int,
      exactCap: Int = 1 << 14): DataFrame = {
    val layerSizes: IndexedSeq[Long] =
      if (levels <= 1) IndexedSeq.empty else layerMembers(base, levels)
    def nndLayer(l: Int, deg: Int, factor: Int): DataFrame = {
      val members =
        if (l == 0) base else base.filter(inLayer(col("id"), l))
      val knn = NnDescent.build(members, deg, iters, factor,
        nKnown = layerSizes.lift(l).getOrElse(-1L))
        .select(col("id"), col("neighbor_id"))
      knn.unionByName(knn.select(col("neighbor_id").as("id"),
        col("id").as("neighbor_id"))).distinct()
        .select(lit(l).as("layer"), col("id"), col("neighbor_id"))
    }
    (nndLayer(0, baseDeg, workingDegreeFactor) +:
      (1 until levels).map { l =>
        if (layerSizes(l) > exactCap) nndLayer(l, upperDeg, workingDegreeFactor)
        else exactLayer(base, l, upperDeg, VecMetric.Euclidean,
          symmetric = true)
      }).reduce(_ unionByName _)
  }

  /** The COMPOSED HNSW build (Malkov & Yashunin 2018 §4 — the build
    * the reference's hnsw engines actually run, milvus-hnsw family):
    * candidate generation THEN SELECT-NEIGHBORS-HEURISTIC edge
    * selection, with the paper's keepPrunedConnections backfill on by
    * default. The heuristic runs on the NN-descent tier — the base
    * layer and any upper layer over `exactCap` members (the no-N²
    * path, [[buildLayeredGraphsNnd]]'s tiering; at 100 TB that is
    * every layer): `baseCand`/`upperCand`-wide NND lists pruned by
    * [[diversify]] to `baseM`/`upperM` and symmetrized. Exact-tier
    * uppers (≤ `exactCap` members) keep their exact top-`upperM`
    * lists unpruned — they only aim the descent and pruning their
    * short exact lists measured strictly worse (see `layer` below).
    * This retires the all-pairs candidate stage the standalone
    * diversify entry (q54) uses: at any corpus size the candidate
    * volume is NN-descent's structural n·(2wk)² bound, and the prune
    * itself is one n·cand²/2 pair self-join — linear in n at fixed
    * width. Deterministic end to end (NND's hash init, (dist, id)
    * tie-breaks, the order-free prune + rank-ordered backfill), so
    * oracle-replicable.
    */
  def buildLayeredGraphsDiversified(
      base: DataFrame,
      levels: Int,
      baseCand: Int,
      baseM: Int,
      upperCand: Int,
      upperM: Int,
      iters: Int,
      workingDegreeFactor: Int,
      exactCap: Int = 1 << 14,
      backfill: Boolean = true): DataFrame = {
    val layerSizes: IndexedSeq[Long] =
      if (levels <= 1) IndexedSeq.empty else layerMembers(base, levels)
    def layer(l: Int, cand: Int, m: Int): DataFrame = {
      val members =
        if (l == 0) base else base.filter(inLayer(col("id"), l))
      // the heuristic runs exactly where candidates are approximate
      // and redundant — the NN-descent tier (base layer; any upper
      // layer over exactCap, i.e. EVERY layer at 100 TB). Exact-tier
      // uppers (≤ exactCap members, gate scales) keep their exact
      // top-m lists as-is: they only AIM the descent, their lists are
      // short, and pruning measured −0.02 recall vs +0.02 from
      // diversifying the base (sf0.01, equal degree and beam budget).
      val kept =
        if (l == 0 || layerSizes(l) > exactCap)
          diversify(
            NnDescent.build(members, cand, iters, workingDegreeFactor,
              nKnown = layerSizes.lift(l).getOrElse(-1L)),
            members, m, backfill = backfill,
            nKnown = layerSizes.lift(l).getOrElse(-1L))
            .select(col("id"), col("neighbor_id"))
        else
          KnnSearch.bruteForceBlocked(members,
            members.select(col("id").as("query_id"), col("vec").as("qvec")),
            m, VecMetric.Euclidean,
            pairFilter = Some(col("id") =!= col("query_id")))
            .select(col("query_id").as("id"), col("neighbor_id"))
      kept.unionByName(kept.select(col("neighbor_id").as("id"),
        col("id").as("neighbor_id"))).distinct()
        .select(lit(l).as("layer"), col("id"), col("neighbor_id"))
    }
    (layer(0, baseCand, baseM) +:
      (1 until levels).map(l => layer(l, upperCand, upperM)))
      .reduce(_ unionByName _)
  }

  /** Scalar twins of [[levelHash]]/[[inLayer]] for the driver-resident
    * top-of-stack phase — same bounded multiplicative hash, exact in
    * int64 (the product is < 2^52, so >> == >>> and the SQL replica
    * agrees bit for bit; floorMod matches the Column twin's pmod for
    * negative ids too, where Java's sign-following % would diverge).
    */
  def levelHashLocal(id: Long): Long =
    (Math.floorMod(id, 1048576L) * 2654435761L + 42L) >> 20
  def inLayerLocal(id: Long, l: Int): Boolean =
    (levelHashLocal(id) & ((1L << l) - 1)) == 0L

  /** The heap's exact (score, id) total order (CollectTopK
    * sortedBestFirst), reused by the driver phase so beam selection
    * ties break identically on both sides of the cut.
    */
  private def rankOrder(asc: Boolean): Ordering[(Double, Long)] =
    if (asc) Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
    else Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.Long)

  /** Multi-layer descent over a [[buildLayeredGraphs]] stack. Entry =
    * score ALL members of the TOP layer `levels` (expected N/2^levels
    * rows — the stack's O(1)-ish entry scan, vs a fixed random seed
    * set that covers less and less of the space as N grows). Then per
    * layer levels-1..1: one beam step of width `upperBeam` through
    * that layer's edges (membership nesting guarantees every visited
    * node carries layer-l edges); finally `rounds` steps of width
    * `beam` through the base graph. Every scored (query, node) pair
    * is scored exactly once — scores are static, so the visited set
    * doubles as the best-so-far heap at every step.
    *
    * Driver-resident top of stack (`driverTopRows`): layer sizes
    * halve by construction, so the layers above the first one with
    * ≤ driverTopRows members are DRIVER STATE — exactly how every
    * HNSW serving process holds its upper layers in RAM while only
    * the base layer lives on disk. Those upper steps run as plain
    * Scala over the collected members/edges (one tiny membership-
    * histogram job + two bounded collects, memoisable by the caller),
    * eliminating a sequential Spark job per upper layer; the
    * remaining lower layers and the base rounds keep the distributed
    * join shape. When the WHOLE graph fits (members(0) = N ≤
    * driverTopRows) the cut extends to the base layer and the base
    * rounds run driver-side too — the fully-RAM-resident serving
    * process small stores actually are; at corpus scale N exceeds
    * the bound and the base rounds stay distributed, unchanged.
    * Bit-identical to the all-distributed descent:
    * [[VecMetric.localScore]] is the kernels' scalar twin, beam
    * selection uses the heap's exact (score, id) order, and the
    * handoff carries the full visited set (spec-gated equal at
    * driverTopRows = 0 vs default). At 64k rows the driver holds
    * ≤ ~20 MB of vectors+edges above the cut (≤ ~80 MB with the
    * base layer's edge lists when the cut reaches 0) — the
    * IVF-centroid budget class, never a corpus-sized one; set 0 to
    * force the all-distributed path.
    */
  /** `tombstones`: optional (id) set of DELETED nodes — the HNSW
    * delete contract (the reference's mutation workloads run delete
    * against hnsw engines; every real HNSW serves it as a tombstone,
    * not an edge surgery): tombstoned nodes KEEP their edges and keep
    * being scored, because their links are what routes walks through
    * their neighborhood — dropping them would disconnect basins until
    * the next rebuild. They are excluded from the RESULT only. The
    * paper's serving caveat "over-fetch ef past tombstones" is
    * subsumed here: the batch walk retains the FULL visited set (not
    * a fixed-ef result list), so the exclusion filters before the
    * final top-k and live results are never crowded out.
    */
  def hierarchicalSearchWithVisited(
      base: DataFrame,
      graphs: DataFrame,
      queries: DataFrame,
      k: Int,
      beam: Int,
      rounds: Int,
      levels: Int,
      upperBeam: Int,
      metric: VecMetric = VecMetric.Euclidean,
      driverTopRows: Int = 1 << 16,
      tombstones: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val vecs = base.select(col("id"), col("vec"))

    def score(cand: DataFrame): DataFrame =
      vecs.join(broadcast(cand), "id")
        .join(broadcast(queries), "query_id")
        .select(col("query_id"), col("id"),
          metric.score(col("qvec"), col("vec")).as("score"))

    def step(visited: DataFrame, layer: Int, width: Int): DataFrame = {
      val beamIds = KnnSearch.topKOf(visited, width, metric.asc)
        .select(col("query_id"), col("neighbor_id").as("id"))
      val cand = graphs.filter(col("layer") === layer)
        .join(broadcast(beamIds), "id")
        .select(col("query_id"), col("neighbor_id").as("id"))
        .distinct()
      val fresh = cand.join(visited.select("query_id", "id"),
        Seq("query_id", "id"), "left_anti")
      visited.unionByName(score(fresh)).localCheckpoint(true)
    }

    // the driver cut: smallest layer L (0 when even the base layer
    // fits) whose member count fits driverTopRows — one
    // [[layerMembers]] histogram job
    val cutL: Option[Int] =
      if (driverTopRows <= 0) None
      else Some(layerMembers(base, levels).indexWhere(_ <= driverTopRows))
        .filter(_ >= 0)

    var visited: DataFrame = null
    var lowerFrom = levels - 1 // first distributed upper-layer step
    cutL match {
      case Some(cut) =>
        // ---- driver phase: entry scan + layers levels-1..cut ----
        val members: Map[Long, Array[Float]] =
          vecs.filter(inLayer(col("id"), cut)).collect()
            .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
        val edgesByLayer: Map[Int, Map[Long, Array[Long]]] =
          graphs.filter(col("layer") >= cut && col("layer") < levels)
            .select("layer", "id", "neighbor_id").collect()
            .groupBy(_.getInt(0))
            .map { case (l, rows) =>
              l -> rows.groupBy(_.getLong(1))
                .map { case (id, rs) => id -> rs.map(_.getLong(2)) }
            }
        val qArr = queries.select(col("query_id"), col("qvec")).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        val ord = rankOrder(metric.asc)
        // the entry set is query-independent — hoist it (scanning all
        // collected members once per query is O(members * batch))
        val entryIds =
          members.keysIterator.filter(inLayerLocal(_, levels)).toArray
        val acc = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Double)] // (query_id, id, score)
        qArr.foreach { case (qid, qv) =>
          val vis = scala.collection.mutable.LinkedHashMap.empty[Long, Double]
          entryIds.foreach { id =>
            vis(id) = metric.localScore(qv, members(id))
          }
          // one local beam expansion == one distributed step(): top
          // `width` of visited, expand through layer-l edges, score
          // the fresh ids
          def expand(l: Int, width: Int): Unit = {
            val beamIds = vis.iterator.map { case (id, s) => (s, id) }
              .toArray.sorted(ord).take(width).map(_._2)
            val edges = edgesByLayer.getOrElse(l, Map.empty)
            // members.get, not members(_): the distributed path's
            // score() INNER-joins candidates against the vector side,
            // silently dropping edge targets with no vector row (q57
            // walks a stack whose updated ids are excluded from the
            // insert's base) — the driver twin must drop them too
            beamIds.iterator
              .flatMap(id => edges.getOrElse(id, Array.empty[Long]))
              .toSet[Long].filterNot(vis.contains).foreach { id =>
                members.get(id).foreach(v =>
                  vis(id) = metric.localScore(qv, v))
              }
          }
          for (l <- (levels - 1) to math.max(cut, 1) by -1)
            expand(l, upperBeam)
          // cut == 0: the base rounds run here too — same width/
          // rounds schedule as the distributed loop below
          if (cut == 0) for (_ <- 1 to rounds) expand(0, beam)
          vis.foreach { case (id, s) => acc += ((qid, id, s)) }
        }
        import base.sparkSession.implicits._
        visited = acc.toSeq.toDF("query_id", "id", "score")
        lowerFrom = cut - 1
      case None =>
        val entries = vecs.filter(inLayer(col("id"), levels)).select("id")
        visited = score(entries.crossJoin(queries.select("query_id")))
          .localCheckpoint(true)
    }
    for (l <- lowerFrom to 1 by -1)
      visited = step(visited, l, upperBeam)
    if (!cutL.contains(0)) // cut == 0 already ran the base rounds
      for (_ <- 1 to rounds)
        visited = step(visited, 0, beam)

    val visitedCounts = visited.groupBy("query_id")
      .agg(count(lit(1)).as("n_visited"))
    // tombstoned nodes routed the walk above; they just cannot be
    // ANSWERS — filter before the top-k so live results fill all k
    // slots (no over-fetch needed; see the scaladoc)
    val live = tombstones.fold(visited)(t =>
      visited.join(t.select("id"), Seq("id"), "left_anti"))
    (KnnSearch.topKOf(live, k, metric.asc), visitedCounts)
  }

  def hierarchicalSearch(
      base: DataFrame,
      graphs: DataFrame,
      queries: DataFrame,
      k: Int,
      beam: Int,
      rounds: Int,
      levels: Int,
      upperBeam: Int,
      metric: VecMetric = VecMetric.Euclidean,
      driverTopRows: Int = 1 << 16,
      tombstones: Option[DataFrame] = None): DataFrame =
    hierarchicalSearchWithVisited(base, graphs, queries, k, beam, rounds,
      levels, upperBeam, metric, driverTopRows, tombstones)._1

  /** HNSW INSERT (Malkov & Yashunin 2018 Alg. 1), batch-shaped: add
    * new rows to a BUILT layer stack without rebuilding it — the
    * graph-family twin of q28's IVF upsert (the reference's mutation
    * workloads, module.py insert/update/delete, run against hnsw
    * engines too, and a 100 TB ANN store re-indexes or goes stale
    * without an O(batch) insert path).
    *
    * The paper's insert is: assign the node a level, descend the
    * stack as a QUERY, and at each layer ≤ its level link it to the
    * nearest nodes the search visited (heuristic-pruned at the base),
    * adding the reverse edges too. This operator runs that descent
    * for the WHOLE batch at once — the same shared per-round joins as
    * [[hierarchicalSearchWithVisited]] (each round is one edge-list
    * scan + one vector scan for ALL queries, so the per-batch cost is
    * O(rounds × (|E| + N)) scans and O(batch · beam · degree) link
    * work, never a rebuild) — and derives links per layer:
    *
    *  - level assignment is [[levelHash]] — the SAME deterministic
    *    rule the stack was built with, so membership keeps nesting
    *    and a new top-mask node joins future entry scans by id alone;
    *  - at each upper layer l the node's links are the top-`upperDeg`
    *    of everything the walk has visited by the end of that layer's
    *    step (nesting ⇒ all of it is layer-l members) — the paper's
    *    ef-search result at that layer;
    *  - at the base the top-`baseCand` visited feed the
    *    SELECT-NEIGHBORS-HEURISTIC ([[diversify]], backfill on) and
    *    `baseM` survive — q55's edge discipline;
    *  - every kept link is symmetrized (the stack's bidirectional
    *    contract); the caller unions the result onto the stack.
    *
    * Each node's links depend ONLY on the pre-insert stack, so the
    * result is BATCHING-INDEPENDENT: insert(B1 ∪ B2) =
    * insert(B1) ∪ insert(B2) exactly — a batch never sees its own
    * members (the documented tradeoff vs the paper's sequential
    * insert; intra-batch neighborhoods arrive at the next rebuild,
    * and the recall floor against a fresh build is spec-gated).
    * Second documented tradeoff, same remedy: symmetrization adds
    * reverse edges WITHOUT Alg. 1's shrink step (re-pruning an
    * existing node's list when reverse edges push it past Mmax), so
    * repeated insert batches grow popular existing nodes' degree
    * without bound — per-step candidate volume degrades with it.
    * Both drifts (missing intra-batch edges, over-degree hubs) are
    * repaired by the periodic rebuild ([[buildLayeredGraphsDiversified]]
    * as compaction) a production store runs anyway; between rebuilds
    * [[compactOverDegree]] re-prunes hot nodes in place.
    * Deterministic throughout ((score, id) tie-breaks, the fixed
    * level hash), so the link rule replicates in SQL.
    *
    * base: (id, vec) EXISTING rows only; graphs: (layer, id,
    * neighbor_id) the built stack; batch: (id, vec) new rows (ids
    * disjoint from base). Returns the NEW edges (layer, id,
    * neighbor_id), both directions, deduped.
    */
  def insertBatch(
      base: DataFrame,
      graphs: DataFrame,
      batch: DataFrame,
      levels: Int,
      baseCand: Int,
      baseM: Int,
      upperDeg: Int,
      beam: Int,
      rounds: Int,
      upperBeam: Int,
      metric: VecMetric = VecMetric.Euclidean,
      backfill: Boolean = true,
      driverTopRows: Int = 1 << 16): DataFrame = {
    val vecs = base.select(col("id"), col("vec"))
    val queries = batch.select(col("id").as("query_id"),
      col("vec").as("qvec"))
    // The scoring copy gets FRESH attribute ids (each Alias mints a
    // new exprId): `visited` is seeded from `queries` and then
    // localCheckpoint'ed, and a checkpoint PRESERVES output attribute
    // ids — so joining the original `queries` onto any
    // post-checkpoint visited set puts the same exprId on both sides
    // of a join between two DIFFERENT relations, which
    // DeduplicateRelations cannot rewrite ("conflicting references"
    // analysis failure). The broadcast-hinted small-batch join
    // happened to dodge it; the un-hinted bulk join (batch > 64k,
    // first driven by the 100k insert-at-scale run) did not.
    val qScore = queries.select(col("query_id").as("query_id"),
      col("qvec").as("qvec"))

    // A search batch is ~100 queries; an insert batch is whatever the
    // mutation cadence delivers. The broadcast ceiling is CANDIDATE
    // volume, not batch rows: a base step's candidate set carries
    // ~batch × beam × degree rows, so even a sub-64k batch can put a
    // multi-10M-row HashedRelation on the build side (measured: the
    // 50k insert-at-scale run at beam 32 carried ~38M candidate
    // rows, whose pinned broadcast starved every HashAggregate's
    // first 256 KB page and OOM'd a 48 GB heap), while the beam side
    // is only batch × width. Each join therefore guards on its OWN
    // estimated row count against the repo's standard 4M-row
    // broadcast ceiling ([[BcastRows]]), degree
    // bounded conservatively by the symmetrized base discipline
    // (~2 × baseCand). Join strategy only, never results
    // (spec-gated: bulk path == broadcast-path halves bit-for-bit).
    // The QUERY side is degree-free (one row per batch member) so it
    // stays broadcast to the same ceiling.
    lazy val batchN = batch.count()
    def bcastIfUnder(estRows: Long)(df: DataFrame): DataFrame =
      if (estRows > BcastRows) df else broadcast(df)
    val qSide =
      if (batchN > BcastRows) qScore else broadcast(qScore)

    def score(cand: DataFrame, estRows: Long): DataFrame =
      vecs.join(bcastIfUnder(estRows)(cand), "id")
        .join(qSide, "query_id")
        .select(col("query_id"), col("id"),
          metric.score(col("qvec"), col("vec")).as("score"))

    // The visited set is checkpointed per step and grows to
    // ~batch × (visited-per-query) rows — hundreds of millions for a
    // bulk batch. Two disciplines keep that bounded on a
    // serving-sized heap (measured: the 100k insert-at-scale run at
    // 48 GB died re-caching spilled DESERIALIZED checkpoint blocks
    // with ~25 of them still registered): blocks are stored
    // SERIALIZED (no deserialized re-cache on read-back), and each
    // step unpersists the checkpoint it just superseded — only the
    // newest (plus the one being built) is ever live. The superseded
    // set has no remaining consumers because the per-layer link rows
    // are eagerly materialized before the next step runs.
    def step(visited: DataFrame, layer: Int, width: Int): DataFrame = {
      val beamIds = KnnSearch.topKOf(visited, width, metric.asc)
        .select(col("query_id"), col("neighbor_id").as("id"))
      val cand = graphs.filter(col("layer") === layer)
        .join(bcastIfUnder(batchN * width)(beamIds), "id")
        .select(col("query_id"), col("neighbor_id").as("id"))
        .distinct()
      val fresh = cand.join(visited.select("query_id", "id"),
        Seq("query_id", "id"), "left_anti")
      val next = visited
        .unionByName(score(fresh, batchN * width * 2 * baseCand))
        .localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      visited.unpersist() // no-op on the unpersisted driver-top seed
      next
    }

    // Driver-resident top of stack, exactly as the search side
    // ([[hierarchicalSearchWithVisited]]): the layers above the first
    // ≤ driverTopRows one run as plain Scala — an HNSW serving
    // process keeps its upper layers in RAM, and a distributed step
    // per tiny layer is pure job-launch overhead (measured: 7 upper
    // steps at sf0.1 cost more than the whole base phase). Guarded on
    // the BATCH size too: the driver walks each batch row, so a bulk
    // batch past the bound keeps the all-distributed path (an insert
    // batch is caller-bounded, unlike the corpus). Bit-identical
    // either way (spec-gated): localScore twins, the heap's
    // (score, id) order, same link rule.
    val cutL: Option[Int] =
      if (driverTopRows <= 0 || batchN > driverTopRows) None
      // 0: the whole base fits — the walk, the base rounds AND the
      // link rule run driver-side (see the search twin's scaladoc)
      else Some(layerMembers(vecs, levels).indexWhere(_ <= driverTopRows))
        .filter(_ >= 0)

    // upper-layer links are captured mid-descent: after the layer-l
    // step the visited set is exactly the layer-l candidate pool
    // (every expansion so far went through a layer ≥ l, and
    // membership nests), and only batch nodes whose level reaches l
    // link there
    var visited: DataFrame = null
    var lowerFrom = levels - 1
    var links = List.empty[DataFrame]
    cutL match {
      case Some(cut) =>
        val members: Map[Long, Array[Float]] =
          vecs.filter(inLayer(col("id"), cut)).collect()
            .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
        val edgesByLayer: Map[Int, Map[Long, Array[Long]]] =
          graphs.filter(col("layer") >= cut && col("layer") < levels)
            .select("layer", "id", "neighbor_id").collect()
            .groupBy(_.getInt(0))
            .map { case (l, rows) =>
              l -> rows.groupBy(_.getLong(1))
                .map { case (id, rs) => id -> rs.map(_.getLong(2)) }
            }
        val qArr = queries.select(col("query_id"), col("qvec")).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        val ord = rankOrder(metric.asc)
        val acc = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Double)]
        val lnk = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Long, Long)]
        // entry set hoisted as in the search twin — a 50k insert
        // batch otherwise rescans all collected members per row
        val entryIds =
          members.keysIterator.filter(inLayerLocal(_, levels)).toArray
        qArr.foreach { case (qid, qv) =>
          val vis = scala.collection.mutable.LinkedHashMap.empty[Long, Double]
          entryIds.foreach { id =>
            vis(id) = metric.localScore(qv, members(id))
          }
          def expand(l: Int, width: Int): Unit = {
            val beamIds = vis.iterator.map { case (id, s) => (s, id) }
              .toArray.sorted(ord).take(width).map(_._2)
            val edges = edgesByLayer.getOrElse(l, Map.empty)
            // members.get, not members(_): the distributed path's
            // score() INNER-joins candidates against the vector side,
            // silently dropping edge targets with no vector row (q57
            // walks a stack whose updated ids are excluded from the
            // insert's base) — the driver twin must drop them too
            beamIds.iterator
              .flatMap(id => edges.getOrElse(id, Array.empty[Long]))
              .toSet[Long].filterNot(vis.contains).foreach { id =>
                members.get(id).foreach(v =>
                  vis(id) = metric.localScore(qv, v))
              }
          }
          for (l <- (levels - 1) to math.max(cut, 1) by -1) {
            expand(l, upperBeam)
            if (inLayerLocal(qid, l))
              vis.iterator.map { case (id, s) => (s, id) }
                .toArray.sorted(ord).take(upperDeg)
                .foreach { case (_, id) => lnk += ((l, qid, id)) }
          }
          if (cut == 0) {
            // base rounds, then the base link rule — both the exact
            // local twins of the distributed tail below ([[diversify]]
            // with the same (score, id) candidate rank, strict
            // better-than prune against ALL lower-ranked candidates,
            // backfill ordering (un-pruned first, then pruned, each
            // by rank), take baseM)
            for (_ <- 1 to rounds) expand(0, beam)
            val cands = vis.iterator.map { case (id, s) => (s, id) }
              .toArray.sorted(ord).take(baseCand).map(_._2)
            val cvecs = cands.map(members(_))
            val toQ = cvecs.map(v => metric.localScore(qv, v))
            def betterL(a: Double, b: Double): Boolean =
              if (metric.asc) a < b else a > b
            val pruned = Array.tabulate(cands.length) { i =>
              (0 until i).exists(j =>
                betterL(metric.localScore(cvecs(i), cvecs(j)), toQ(i)))
            }
            val keptIdx =
              if (backfill)
                cands.indices.sortBy(i => (pruned(i), i)).take(baseM)
              else cands.indices.filter(i => !pruned(i)).take(baseM)
            keptIdx.foreach(i => lnk += ((0, qid, cands(i))))
          }
          vis.foreach { case (id, s) => acc += ((qid, id, s)) }
        }
        import base.sparkSession.implicits._
        if (cut == 0) {
          // every link was derived locally: symmetrize + dedup here
          // and return — the distributed tail below never runs
          val fwdL = lnk.toSeq
          val symL = (fwdL ++ fwdL.map { case (l, a, b) => (l, b, a) })
            .distinct
          return symL.toDF("layer", "id", "neighbor_id")
        }
        visited = acc.toSeq.toDF("query_id", "id", "score")
        if (lnk.nonEmpty)
          links ::= lnk.toSeq.toDF("layer", "id", "neighbor_id")
        lowerFrom = cut - 1
      case None =>
        val entries = vecs.filter(inLayer(col("id"), levels)).select("id")
        // levelsFor targets ~16 top-layer members; 64 is a safe
        // estimate factor for the seed's broadcast guard
        visited = score(entries.crossJoin(queries.select("query_id")),
          batchN * 64)
          .localCheckpoint(true)
    }
    for (l <- lowerFrom to 1 by -1) {
      visited = step(visited, l, upperBeam)
      // eager: the link rows must not lazily reference a visited
      // checkpoint the NEXT step will unpersist. Small by
      // construction (~batch/2^l nodes × upperDeg rows)
      links ::= KnnSearch.topKOf(
        visited.filter(inLayer(col("query_id"), l)), upperDeg, metric.asc)
        .select(lit(l).as("layer"), col("query_id").as("id"),
          col("neighbor_id"))
        .localCheckpoint(true)
    }
    for (_ <- 1 to rounds)
      visited = step(visited, 0, beam)
    // base layer: candidate list from the finished walk, pruned by
    // the heuristic — the prune scores candidate-candidate distances
    // AND node-candidate distances, so the vector side must cover the
    // batch ids too (they are the `id` column of the candidate lists)
    val cand0 = KnnSearch.topKOf(visited, baseCand, metric.asc)
      .select(col("query_id").as("id"), col("rank"), col("neighbor_id"))
    val allVecs = vecs.unionByName(batch.select(col("id"), col("vec")))
    val kept0 = diversify(cand0, allVecs, baseM, metric,
      backfill = backfill)
      .select(lit(0).as("layer"), col("id"), col("neighbor_id"))
    val fwd = (kept0 :: links).reduce(_ unionByName _)
    fwd.unionByName(fwd.select(col("layer"),
      col("neighbor_id").as("id"), col("id").as("neighbor_id")))
      .distinct()
  }

  /** Compaction for the insert path's documented degree drift
    * ([[insertBatch]]: reverse edges accrete on popular nodes without
    * Alg. 1's shrink step): re-prune every (layer, node) whose
    * out-degree exceeds `cap(layer)` back down to it, leaving all
    * other adjacencies untouched — the "rebuild touched neighborhoods"
    * maintenance a store runs between full rebuilds. Per over-degree
    * node the current neighbor list is ranked by (distance, id) and
    * fed through SELECT-NEIGHBORS-HEURISTIC with backfill
    * ([[diversify]]) so exactly cap survive, diverse-first — the same
    * edge discipline the q55 build and the insert's base links use.
    * Cost: one degree histogram + the prune's pairs over ONLY the
    * touched nodes (each ≤ its current degree² — at 100 TB a
    * vanishing slice; untouched nodes never shuffle). Deterministic
    * ((distance, id) ranks, the order-free prune), so spec-gated by
    * direct assertion: degrees ≤ cap, untouched adjacencies
    * bit-equal, kept edges ⊆ prior edges.
    *
    * graphs: (layer, id, neighbor_id); base: (id, vec) covering every
    * id in `graphs`. Returns the compacted stack, same shape. NOTE:
    * output edges are per-node prunes of the FORWARD lists — callers
    * that require the bidirectional contract re-symmetrize (cheap,
    * and re-symmetrizing can only re-add reverse edges the prune
    * kept on the other side).
    */
  def compactOverDegree(
      graphs: DataFrame,
      base: DataFrame,
      cap: Int => Int,
      levels: Int,
      metric: VecMetric = VecMetric.Euclidean): DataFrame = {
    val vecs = base.select(col("id"), col("vec"))
    // ONE keyed pass over all layers (the per-layer loop union'd
    // `levels` copies of this plan — ~8x the jobs for the same rows;
    // keying the histogram, the splits and the prune by (layer, id)
    // is a plan-shape change only, the per-layer results are
    // identical). The cap becomes a layer-dependent column.
    // layer < levels: the old per-layer loop silently dropped any
    // out-of-range layer; keep that contract
    val lg = graphs.select(col("layer"), col("id"), col("neighbor_id"))
      .filter(col("layer") >= 0 && col("layer") < levels)
    val capCol = (1 until levels).foldLeft(
      when(col("layer") === 0, cap(0))) {
      case (acc, l) => acc.when(col("layer") === l, cap(l))
    }
    val deg = lg.groupBy("layer", "id").agg(count(lit(1)).as("d"))
    // hot feeds the cold anti-join AND the ranked join: materialise
    // the tiny (touched-node) list or the degree histogram runs twice
    val hot = deg.filter(col("d") > capCol).select("layer", "id")
      .localCheckpoint(true)
    val cold = lg.join(hot, Seq("layer", "id"), "left_anti")
    // rank the hot nodes' current neighbors by (distance, id) —
    // the candidate order the heuristic prunes in everywhere else.
    // Materialised: diversifyBy consumes it THREE times (ci, cj, the
    // backfill join), and an unmaterialised input triples this whole
    // join+window subtree in the physical plan (q58 read 52 Exchanges
    // from exactly that). O(touched · cap) rows, no vector payload —
    // the compaction slice, never O(|E|), so driver/executor-safe at
    // any scale.
    val ranked = lg.join(hot, Seq("layer", "id"))
      .join(vecs.select(col("id"), col("vec").as("v0")), "id")
      .join(vecs.select(col("id").as("neighbor_id"),
        col("vec").as("vn")), "neighbor_id")
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("layer", "id")
          .orderBy(metric.score(col("v0"), col("vn")),
            col("neighbor_id"))))
      .select(col("layer"), col("id"), col("rank"), col("neighbor_id"))
      .localCheckpoint(true)
    val kept = diversifyBy(ranked, base, capCol, metric, backfill = true,
      nKnown = -1L, extraKeys = Seq("layer"))
      .select(col("layer"), col("id"), col("neighbor_id"))
    cold.select(col("layer"), col("id"), col("neighbor_id"))
      .unionByName(kept)
  }
}
