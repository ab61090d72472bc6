package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Drift guard for the repo's driver-memory discipline: every
  * `.collect()` in non-test source must be a BOUNDED model artifact
  * (centroids, codebooks, histograms, a k-sized result list) — never
  * O(corpus). The audit below registers each file's collect sites
  * with the bound that makes them safe at 100 TB; a NEW collect
  * (or a removed one) changes the count and fails this spec until
  * the site is audited and the registry updated with its bound.
  *
  * This enforces mechanically what the per-operator reviews
  * established by hand: at no point does the driver hold data that
  * grows with the corpus.
  */
class BoundedCollectSpec extends AnyFunSuite {

  /** file (relative to src/main/scala/graft) -> (expected number of
    * driver-materialisation sites, the audited bound that makes each
    * O(model), not O(corpus))
    */
  private val audited: Map[String, (Int, String)] = Map(
    "operators/BinIvf.scala" ->
      (1, "binary centroid codebook: nlist rows"),
    "operators/Dedup.scala" ->
      (1, "driver-resident union-find's pair collect: <= localRows " +
        "(64k default, required <= DriverPairBudget) rows by its " +
        "own limit(localRows + 1) — " +
        "corpus-scale dedup keeps the distributed propagation"),
    "operators/GraphSearch.scala" ->
      (4, "one layer-membership histogram (<= levels + 1 rows), " +
        "shared by the two tiered builds and the one stack walk; " +
        "the driver walk's top-of-stack vectors+edges above a " +
        "histogram-sized cut (<= driverTopRows = 64k member rows by " +
        "construction — the cut may reach the base layer ONLY when " +
        "the whole graph fits that bound, edges then <= 64k x 2 " +
        "deg) and its query batch (<= nq search queries; an insert " +
        "batch <= driverTopRows by its own guard — bulk batches keep " +
        "the all-distributed path)"),
    "operators/NnDescent.scala" ->
      (1, "driver-resident build's member collect: <= localRows " +
        "(64k default) rows by build()'s own guard — corpus-scale " +
        "builds keep the distributed path"),
    "operators/IvfIndex.scala" ->
      (5, "centroids (nlist <= 4096 rows); the probe worklist's query " +
        "batch (Q rows, the batch the cell scan broadcasts anyway; " +
        "the driver probe then does Q x nlist x dim multiply-adds, " +
        "for the flat index and the tree alike); 3x probed cell-id " +
        "lists (<= nprobe x queries ints; one is the persisted-cell " +
        "pruning every persisted search shares)"),
    "operators/IvfTree.scala" ->
      (1, "two-level tree centroids: nlist1 + nlist1*nlist2 rows"),
    "operators/LshIndex.scala" ->
      (1, "random hyperplane matrix: nbits x dims doubles"),
    "operators/PqIndex.scala" ->
      (1, "PQ codebook: m x 256 subvector centroids"),
    "operators/Sq8Index.scala" ->
      (1, "per-dimension min/max quantisation stats: dims rows"),
    "operators/TextAnalysis.scala" ->
      (2, "two-level prefix sum: <= 4096 superbucket totals, twice"),
    "operators/VectorCollection.scala" ->
      (2, "single-query serve result: k ids (the BaseANN query() " +
        "contract returns a local list); driver-resident serving " +
        "replica: <= ServeLocalRows (64k) entities by its row-count " +
        "guard (counted in each write's checkpoint job) — " +
        "corpus-scale collections never build it"),
    "queries/AnalyticsQueries.scala" ->
      (3, "a12 mutation op batch (nOps = 32 rows, twice); a13 query " +
        "vector batch (A13NQ rows — the per-query latency series " +
        "is driver-timed by design)"),
    "queries/IndexQueries.scala" ->
      (1, "vocabulary ranking (VocabSize rows)"),
    "queries/TextQueries.scala" ->
      (2, "q41's two rank lists: <= NQ x k rows each BY CONSTRUCTION " +
        "(top-k per bounded benchmark query, Split.isQuery) — the " +
        "driver-side RRF fusion's inputs at any corpus size"))

  /** Driver-materialisation calls the scan flags. `collect()` plus
    * the aliases that smuggle the same thing.
    */
  private val pattern =
    """\.collect\(\)|\.collectAsList\(\)|\.toLocalIterator""".r

  private def sites(text: String): Int =
    pattern.findAllIn(text).length

  private def scan(root: Path): Map[String, Int] =
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString ->
        sites(new String(Files.readAllBytes(p), "UTF-8")))
      .filter(_._2 > 0)
      .toMap

  test("every src/main collect site is registered with an audited bound") {
    val root = Paths.get("src/main/scala/graft")
    assume(Files.isDirectory(root))
    val found = scan(root)
    val unregistered = found.keySet.diff(audited.keySet)
    assert(unregistered.isEmpty,
      s"UNAUDITED driver collect in: $unregistered — audit the bound " +
        "(must be O(model), never O(corpus)) and register it in " +
        "BoundedCollectSpec.audited")
    val drifted = found.collect {
      case (f, n) if audited(f)._1 != n =>
        s"$f: expected ${audited(f)._1} sites, found $n"
    }
    assert(drifted.isEmpty,
      s"collect-site count drift (re-audit the file's bounds): $drifted")
    val stale = audited.keySet.diff(found.keySet)
    assert(stale.isEmpty,
      s"registry lists files with no collect sites left: $stale")
  }

  test("the scanner catches an injected violation") {
    val dir = Files.createTempDirectory("graft_collect_guard")
    try {
      val f = dir.resolve("Rogue.scala")
      Files.write(f,
        "object Rogue { def bad(df: DF) = df.collect() }".getBytes)
      assert(scan(dir) == Map("Rogue.scala" -> 1))
    } finally {
      Files.deleteIfExists(dir.resolve("Rogue.scala"))
      Files.deleteIfExists(dir)
    }
  }
}
