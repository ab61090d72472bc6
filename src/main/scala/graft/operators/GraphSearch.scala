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
    * The entry is a single coarse layer: the first `entryN` ids form
    * it, each query scores that tiny layer and enters the graph at
    * only its `entryBeam` nearest layer rows — a narrower, better-aimed
    * front than seeding every query with all entryN rows, so the same
    * visited budget buys more rounds of real walking.
    */
  def beamSearch(
      base: DataFrame,
      graph: DataFrame,
      queries: DataFrame,
      k: Int,
      beam: Int,
      rounds: Int,
      entryN: Int,
      entryBeam: Int,
      metric: VecMetric = VecMetric.Euclidean): DataFrame =
    beamSearchWithVisited(base, graph, queries, k, beam, rounds, entryN,
      entryBeam, metric)._1

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
      entryBeam: Int,
      metric: VecMetric = VecMetric.Euclidean): (DataFrame, DataFrame) = {
    val w = new Walker(base, queries, metric, () => queries.count(),
      EstFanout)
    // the coarse layer: the first entryN ids in id order (the same rows
    // IVF's sample-init picks as centroids — a fixed, replicable seed
    // set), evaluated for every query
    val entries = w.vecs.orderBy("id").limit(entryN).select("id")
    val layer = w.score(entries.crossJoin(queries.select("query_id")),
      w.batchN * entryN)
    var visited = KnnSearch.topKOf(layer, entryBeam, metric.asc)
      .select(col("query_id"), col("neighbor_id").as("id"), col("score"))
      .localCheckpoint(true)
    val edges = graph.select(col("id"), col("neighbor_id"))
    for (_ <- 1 to rounds)
      visited = w.step(visited, edges, beam)

    // the layer scan scored entryN rows per query however few of them
    // seeded the walk — count it in the visited metric honestly
    val visitedCounts = visited.groupBy("query_id")
      .agg(count(lit(1)).as("n_visited"))
      .withColumn("n_visited",
        col("n_visited") + lit((entryN - entryBeam).toLong))
    (KnnSearch.topKOf(visited, k, metric.asc), visitedCounts)
  }

  /** Rows-per-query estimate for the broadcast guards where the walk
    * knows no tighter bound: a stack's top layer (levelsFor targets
    * ~16 members) and a search graph's out-degree (≤ 2 × the build
    * degree once symmetrized). Join strategy only, never results.
    */
  private val EstFanout = 64

  /** The one distributed walk step, shared by the flat search, the
    * layered search and the insert: the top-`width` of every query's
    * visited set expands one hop through `edges`, and only the fresh
    * (query, node) pairs are scored.
    *
    * Each broadcast is guarded by its OWN estimated rows against
    * [[BcastRows]]: the beam side carries batch × width rows, the
    * candidate side batch × width × `degEst` (the caller's out-degree
    * bound), the query side one row per batch member. At search batch
    * sizes (~100 queries) every guard broadcasts; an insert batch is
    * whatever the mutation cadence delivers, and even a sub-64k batch
    * can put a multi-10M-row HashedRelation on the build side
    * (measured: a 50k insert at beam 32 carried ~38M candidate rows,
    * whose pinned broadcast starved every HashAggregate's first 256 KB
    * page and OOM'd a 48 GB heap). Join strategy only, never results
    * (spec-gated: a bulk insert == its broadcast-path halves).
    *
    * The scoring copy of `queries` gets FRESH attribute ids (each
    * Alias mints a new exprId): a localCheckpoint'ed visited set keeps
    * the attribute ids it inherited from `queries`, so re-joining the
    * original would put one exprId on both sides of a join between
    * DIFFERENT relations, which DeduplicateRelations cannot rewrite
    * ("conflicting references" — the un-hinted bulk join hit it).
    *
    * The visited set grows to ~batch × visited-per-query rows —
    * hundreds of millions for a bulk insert (measured: a 100k insert
    * at 48 GB died re-caching spilled DESERIALIZED checkpoint blocks
    * with ~25 of them registered). So each step unpersists the set it
    * superseded, and a step whose candidate side is too large to
    * broadcast stores its blocks SERIALIZED; a search-sized step keeps
    * localCheckpoint's default level. Callers materialise anything they
    * derive from a visited set before the next step.
    */
  private final class Walker(base: DataFrame, queries: DataFrame,
      metric: VecMetric, batchRows: () => Long, degEst: Int) {
    val vecs: DataFrame = base.select(col("id"), col("vec"))
    lazy val batchN: Long = batchRows()
    private val qScore = queries.select(col("query_id").as("query_id"),
      col("qvec").as("qvec"))

    private def bcastIfUnder(estRows: Long)(df: DataFrame): DataFrame =
      if (estRows > BcastRows) df else broadcast(df)

    /** Score a (query_id, id) candidate set of ~`estRows` rows. */
    def score(cand: DataFrame, estRows: Long): DataFrame =
      vecs.join(bcastIfUnder(estRows)(cand), "id")
        .join(bcastIfUnder(batchN)(qScore), "query_id")
        .select(col("query_id"), col("id"),
          metric.score(col("qvec"), col("vec")).as("score"))

    def step(visited: DataFrame, edges: DataFrame, width: Int): DataFrame = {
      // beam = top-`width` of everything visited so far (scores are
      // static, so this equals the classic beam ∪ new-candidates
      // re-selection), then expand one hop
      val beamIds = KnnSearch.topKOf(visited, width, metric.asc)
        .select(col("query_id"), col("neighbor_id").as("id"))
      val cand = edges.join(bcastIfUnder(batchN * width)(beamIds), "id")
        .select(col("query_id"), col("neighbor_id").as("id"))
        .distinct()
      // never re-score a visited node (and never let a duplicate
      // occupy two beam slots)
      val fresh = cand.join(visited.select("query_id", "id"),
        Seq("query_id", "id"), "left_anti")
      val candRows = batchN * width * degEst
      val grown = visited.unionByName(score(fresh, candRows))
      val next =
        if (candRows > BcastRows) grown.localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        else grown.localCheckpoint(true)
      visited.unpersist() // no-op on a driver-walk seed
      next
    }
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
    *
    * `backfill` = the paper's keepPrunedConnections flag (Malkov &
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

  /** The one layered-stack skeleton: per layer 0..levels-1, the
    * member filter (layer 0 is everyone), the layer's directed
    * (id, neighbor_id) lists from `lists(l, members)`, and
    * SYMMETRIZATION (id→nb plus nb→id, deduped) — HNSW's bidirectional
    * links: a directed kNN graph strands walks in basins whose members
    * point inward but are pointed at by few, and reverse edges are
    * what let a walk climb back out. Returns (layer, id, neighbor_id).
    * The three builders below differ only in `lists`.
    */
  private def layerStack(base: DataFrame, levels: Int)(
      lists: (Int, DataFrame) => DataFrame): DataFrame =
    (0 until levels).map { l =>
      val members =
        if (l == 0) base else base.filter(inLayer(col("id"), l))
      val knn = lists(l, members)
      knn.unionByName(knn.select(col("neighbor_id").as("id"),
        col("id").as("neighbor_id"))).distinct()
        .select(lit(l).as("layer"), col("id"), col("neighbor_id"))
    }.reduce(_ unionByName _)

  /** Exact top-`deg` (id, neighbor_id) lists among `members`. */
  private def exactLists(members: DataFrame, deg: Int,
      metric: VecMetric): DataFrame =
    KnnSearch.bruteForceBlocked(members,
      members.select(col("id").as("query_id"), col("vec").as("qvec")),
      deg, metric,
      pairFilter = Some(col("id") =!= col("query_id")))
      .select(col("query_id").as("id"), col("neighbor_id"))

  /** Every layer's member count, for the NN-descent-tiered builders
    * (one histogram job; a one-layer stack has no upper tier).
    */
  private def tierSizes(base: DataFrame, levels: Int): IndexedSeq[Long] =
    if (levels <= 1) IndexedSeq.empty else layerMembers(base, levels)

  /** Build the layer stack's edge lists: (layer, id, neighbor_id).
    * Layer 0 is the base kNN graph at `baseDeg`; each upper layer
    * 1..levels-1 is the kNN graph AMONG that layer's members at the
    * cheaper `upperDeg` (upper layers only aim the descent, they
    * never produce answers), each layer symmetrized ([[layerStack]]).
    * Exact per-layer builds here (the upper layers cost a vanishing
    * (N/2^l)^2 ≤ N^2/3 extra relative to the base build); at 100 TB
    * every layer takes the NN-descent path (q27) — the stack shape is
    * identical.
    */
  def buildLayeredGraphs(
      base: DataFrame,
      levels: Int,
      baseDeg: Int,
      upperDeg: Int,
      metric: VecMetric = VecMetric.Euclidean): DataFrame =
    layerStack(base, levels) { (l, members) =>
      exactLists(members, if (l == 0) baseDeg else upperDeg, metric)
    }

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
    val sizes = tierSizes(base, levels)
    layerStack(base, levels) { (l, members) =>
      if (l == 0 || sizes(l) > exactCap)
        NnDescent.build(members, if (l == 0) baseDeg else upperDeg, iters,
          workingDegreeFactor, nKnown = sizes.lift(l).getOrElse(-1L))
          .select(col("id"), col("neighbor_id"))
      else exactLists(members, upperDeg, VecMetric.Euclidean)
    }
  }

  /** The COMPOSED HNSW build (Malkov & Yashunin 2018 §4 — the build
    * the reference's hnsw engines actually run, milvus-hnsw family):
    * candidate generation THEN SELECT-NEIGHBORS-HEURISTIC edge
    * selection, with the paper's keepPrunedConnections backfill. The
    * heuristic runs on the NN-descent tier — the base layer and any
    * upper layer over `exactCap` members (the no-N² path,
    * [[buildLayeredGraphsNnd]]'s tiering; at 100 TB that is every
    * layer): `baseCand`/`upperCand`-wide NND lists pruned by
    * [[diversify]] to `baseM`/`upperM` and symmetrized. Exact-tier
    * uppers (≤ `exactCap` members, gate scales) keep their exact
    * top-`upperM` lists unpruned: they only AIM the descent, their
    * lists are short, and pruning them measured −0.02 recall vs +0.02
    * from diversifying the base (sf0.01, equal degree and beam
    * budget). This retires the all-pairs candidate stage the
    * standalone diversify entry (q54) uses: at any corpus size the
    * candidate volume is NN-descent's structural n·(2wk)² bound, and
    * the prune itself is one n·cand²/2 pair self-join — linear in n at
    * fixed width. Deterministic end to end (NND's hash init, (dist,
    * id) tie-breaks, the order-free prune + rank-ordered backfill), so
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
      exactCap: Int = 1 << 14): DataFrame = {
    val sizes = tierSizes(base, levels)
    layerStack(base, levels) { (l, members) =>
      val n = sizes.lift(l).getOrElse(-1L)
      if (l == 0 || sizes(l) > exactCap)
        diversify(
          NnDescent.build(members, if (l == 0) baseCand else upperCand,
            iters, workingDegreeFactor, nKnown = n),
          members, if (l == 0) baseM else upperM, backfill = true,
          nKnown = n)
          .select(col("id"), col("neighbor_id"))
      else exactLists(members, upperM, VecMetric.Euclidean)
    }
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
    * doubles as the best-so-far heap at every step. The walk itself
    * is [[descend]], shared with [[insertBatch]].
    *
    * `tombstones`: optional (id) set of DELETED nodes — the HNSW
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
    val (_, walked) = descend(base, graphs, queries, levels, upperBeam,
      beam, rounds, metric, driverTopRows, batchRows = None,
      degEst = EstFanout, (_, _, _, _, _) => (), (_, _) => ())
    val visited = walked()
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

  /** What the driver walk reports per query after each layer it
    * walks: the layer, the query's id and vector, its visited
    * (id → score) set, and the member vectors.
    */
  private type DriverHook = (Int, Long, Array[Float],
    scala.collection.Map[Long, Double], Map[Long, Array[Float]]) => Unit

  /** The `n` best visited ids in the heap's (score, id) order. */
  private def bestFirst(vis: scala.collection.Map[Long, Double], n: Int,
      ord: Ordering[(Double, Long)]): Array[Long] =
    vis.iterator.map { case (id, s) => (s, id) }
      .toArray.sorted(ord).take(n).map(_._2)

  /** The one stack walk, shared by [[hierarchicalSearchWithVisited]]
    * and [[insertBatch]]: the top-layer entry scan, one `upperBeam`
    * step per upper layer, then `rounds` `beam`-wide base steps.
    * Returns the driver cut and the final visited set
    * (query_id, id, score), built on demand.
    *
    * Driver-resident top of stack (`driverTopRows`): layer sizes
    * halve by construction, so the layers above the first one with
    * ≤ driverTopRows members are DRIVER STATE — exactly how every
    * HNSW serving process holds its upper layers in RAM while only
    * the base layer lives on disk. Those upper steps run as plain
    * Scala over the collected members/edges (one tiny membership-
    * histogram job + three bounded collects), eliminating a
    * sequential Spark job per upper layer (measured: 7 upper steps at
    * sf0.1 cost more than the whole base phase); the remaining lower
    * layers and the base rounds keep the distributed [[Walker]] step.
    * When the WHOLE graph fits (members(0) = N ≤ driverTopRows) the
    * cut extends to the base layer and the base rounds run
    * driver-side too — the fully-RAM-resident serving process small
    * stores actually are; at corpus scale N exceeds the bound and the
    * base rounds stay distributed. The driver walks each query row,
    * so a caller that knows its batch size (`batchRows`, the insert)
    * keeps a batch past the bound on the all-distributed path.
    * Bit-identical to the all-distributed descent:
    * [[VecMetric.localScore]] is the kernels' scalar twin, beam
    * selection uses the heap's exact (score, id) order, and the
    * handoff carries the full visited set (spec-gated equal at a
    * base cut, a mid-stack cut and driverTopRows = 0). At 64k rows
    * the driver holds ≤ ~20 MB of vectors+edges above the cut
    * (≤ ~80 MB with the base layer's edge lists when the cut reaches
    * 0) — the IVF-centroid budget class, never a corpus-sized one;
    * set 0 to force the all-distributed path.
    *
    * `atDriver` runs per query after each driver-walked layer (the
    * base layer only when the cut is 0); `atStep` runs after each
    * distributed upper-layer step, before the next step unpersists
    * that visited set.
    */
  private def descend(
      base: DataFrame,
      graphs: DataFrame,
      queries: DataFrame,
      levels: Int,
      upperBeam: Int,
      beam: Int,
      rounds: Int,
      metric: VecMetric,
      driverTopRows: Int,
      batchRows: Option[Long],
      degEst: Int,
      atDriver: DriverHook,
      atStep: (Int, DataFrame) => Unit): (Option[Int], () => DataFrame) = {
    val vecs = base.select(col("id"), col("vec"))
    // the driver cut: smallest layer L (0 when even the base layer
    // fits) whose member count fits driverTopRows — one
    // [[layerMembers]] histogram job
    val cut: Option[Int] =
      if (driverTopRows <= 0 || batchRows.exists(_ > driverTopRows)) None
      else Some(layerMembers(vecs, levels).indexWhere(_ <= driverTopRows))
        .filter(_ >= 0)
    val walkedAtDriver = cut.map { c =>
      driverWalk(vecs, graphs, queries, c, levels, upperBeam, beam,
        rounds, metric, atDriver)
    }
    def driverRows: DataFrame = {
      import base.sparkSession.implicits._
      walkedAtDriver.get._1.toSeq.toDF("query_id", "id", "score")
    }
    if (cut.contains(0)) return (cut, () => driverRows)

    val w = new Walker(vecs, queries, metric,
      () => batchRows.orElse(walkedAtDriver.map(_._2.toLong))
        .getOrElse(queries.count()), degEst)
    var visited =
      if (cut.isDefined) driverRows
      else w.score(vecs.filter(inLayer(col("id"), levels)).select("id")
          .crossJoin(queries.select("query_id")), w.batchN * EstFanout)
        .localCheckpoint(true)
    for (l <- cut.getOrElse(levels) - 1 to 1 by -1) {
      visited = w.step(visited, graphs.filter(col("layer") === l),
        upperBeam)
      atStep(l, visited)
    }
    for (_ <- 1 to rounds)
      visited = w.step(visited, graphs.filter(col("layer") === 0), beam)
    val last = visited
    (cut, () => last)
  }

  /** The driver-resident phase of [[descend]]: collects the members
    * of layer `cut`, the edges of layers cut..levels-1 and the query
    * batch, walks every query from the top-layer entry down to `cut`
    * (and through the base rounds when `cut` is 0), and returns the
    * visited rows (query_id, id, score) with the batch size.
    */
  private def driverWalk(vecs: DataFrame, graphs: DataFrame,
      queries: DataFrame, cut: Int, levels: Int, upperBeam: Int,
      beam: Int, rounds: Int, metric: VecMetric,
      atDriver: DriverHook)
      : (scala.collection.Seq[(Long, Long, Double)], Int) = {
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
      // one local beam expansion == one distributed Walker.step: top
      // `width` of visited, expand through layer-l edges, score the
      // fresh ids
      def expand(l: Int, width: Int): Unit = {
        val edges = edgesByLayer.getOrElse(l, Map.empty)
        // members.get, not members(_): the distributed step's score
        // INNER-joins candidates against the vector side, silently
        // dropping edge targets with no vector row (q57 walks a stack
        // whose updated ids are excluded from the insert's base) —
        // the driver twin must drop them too
        bestFirst(vis, width, ord).iterator
          .flatMap(id => edges.getOrElse(id, Array.empty[Long]))
          .toSet[Long].filterNot(vis.contains).foreach { id =>
            members.get(id).foreach(v =>
              vis(id) = metric.localScore(qv, v))
          }
      }
      for (l <- (levels - 1) to math.max(cut, 1) by -1) {
        expand(l, upperBeam)
        atDriver(l, qid, qv, vis, members)
      }
      // cut == 0: the base rounds run here too — same width/rounds
      // schedule as the distributed loop
      if (cut == 0) {
        for (_ <- 1 to rounds) expand(0, beam)
        atDriver(0, qid, qv, vis, members)
      }
      vis.foreach { case (id, s) => acc += ((qid, id, s)) }
    }
    (acc, qArr.length)
  }

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
    * for the WHOLE batch at once — [[descend]], the same walk as
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
      driverTopRows: Int = 1 << 16): DataFrame = {
    val queries = batch.select(col("id").as("query_id"),
      col("vec").as("qvec"))
    val ord = rankOrder(metric.asc)
    // upper-layer links are captured mid-descent: after the layer-l
    // step the visited set is exactly the layer-l candidate pool
    // (every expansion so far went through a layer ≥ l, and
    // membership nests), and only batch nodes whose level reaches l
    // link there
    val atDriver = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Long)] // (layer, id, neighbor_id)
    def driverLinks(l: Int, qid: Long, qv: Array[Float],
        vis: scala.collection.Map[Long, Double],
        members: Map[Long, Array[Float]]): Unit =
      if (l > 0) {
        if (inLayerLocal(qid, l))
          bestFirst(vis, upperDeg, ord).foreach(id =>
            atDriver += ((l, qid, id)))
      } else {
        // the base link rule on the driver (cut 0): the exact local
        // twin of the distributed tail's [[diversify]] — the same
        // (score, id) candidate rank, strict better-than prune against
        // ALL lower-ranked candidates, backfill ordering (un-pruned
        // first, then pruned, each by rank), take baseM
        val cands = bestFirst(vis, baseCand, ord)
        val cvecs = cands.map(members(_))
        val toQ = cvecs.map(v => metric.localScore(qv, v))
        def betterL(a: Double, b: Double): Boolean =
          if (metric.asc) a < b else a > b
        val pruned = Array.tabulate(cands.length) { i =>
          (0 until i).exists(j =>
            betterL(metric.localScore(cvecs(i), cvecs(j)), toQ(i)))
        }
        cands.indices.sortBy(i => (pruned(i), i)).take(baseM)
          .foreach(i => atDriver += ((0, qid, cands(i))))
      }
    var links = List.empty[DataFrame]
    // the step's candidate estimate bounds degree by the symmetrized
    // base discipline (~2 × baseCand)
    val (cut, walked) = descend(base, graphs, queries, levels, upperBeam,
      beam, rounds, metric, driverTopRows, Some(batch.count()),
      degEst = 2 * baseCand, driverLinks,
      (l, visited) =>
        // eager: the link rows must not lazily reference a visited
        // checkpoint the NEXT step will unpersist. Small by
        // construction (~batch/2^l nodes × upperDeg rows)
        links ::= KnnSearch.topKOf(
          visited.filter(inLayer(col("query_id"), l)), upperDeg, metric.asc)
          .select(lit(l).as("layer"), col("query_id").as("id"),
            col("neighbor_id"))
          .localCheckpoint(true))
    import base.sparkSession.implicits._
    if (cut.contains(0)) {
      // every link was derived on the driver: symmetrize + dedup here
      val sym = (atDriver ++ atDriver.map { case (l, a, b) => (l, b, a) })
        .distinct
      return sym.toSeq.toDF("layer", "id", "neighbor_id")
    }
    if (atDriver.nonEmpty)
      links :+= atDriver.toSeq.toDF("layer", "id", "neighbor_id")
    // base layer: candidate list from the finished walk, pruned by
    // the heuristic — the prune scores candidate-candidate distances
    // AND node-candidate distances, so the vector side must cover the
    // batch ids too (they are the `id` column of the candidate lists)
    val cand0 = KnnSearch.topKOf(walked(), baseCand, metric.asc)
      .select(col("query_id").as("id"), col("rank"), col("neighbor_id"))
    val allVecs = base.select(col("id"), col("vec"))
      .unionByName(batch.select(col("id"), col("vec")))
    val kept0 = diversify(cand0, allVecs, baseM, metric, backfill = true)
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
