package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftshim.Shim

import graft.functions._
import graft.operators.KnnTopK

/** Session factory + SQL surface registration. `create()` gives the
  * tuned local session; `registerFunctions` exposes the custom
  * Catalyst expressions to pure-SQL users
  * (SELECT vec_cosine_sim(a.embedding, b.embedding) ...).
  */
object GraftSession {

  /** Effective core count: SPARK_GRAFT_CPUS override, else every host
    * processor. A fixed small default silently reshaped measurements
    * twice in one round (a missing env var turned local[32] numbers
    * into local[4] spill regimes that read as regressions), so the
    * default is now the machine, and harness JSON lines print this
    * value so each record carries the master it actually ran on.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    case None => Runtime.getRuntime.availableProcessors
  }

  def create(
      master: String = s"local[$cpus]",
      shufflePartitions: Option[Int] = None,
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        shufflePartitions.getOrElse(cpus).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ObjectHashAggregate (the collect_list folds, and collect_topk
      // over scored rows: BM25, shingle, IVF-cell and graph scans)
      // falls back to SORT-BASED aggregation once a task's hash map
      // holds 128 groups (the conservative default) — an external
      // sort of every input row. Every object agg in this engine
      // keeps bounded per-group state (collect_topk is O(k); the
      // BM25/substring/shingle folds are bounded by terms-per-doc),
      // so the map is small even at 64k groups and the fallback is
      // pure overhead: measured at sf0.1/local[32], t06 (BM25)
      // 1.82->1.63 s and q41 (hybrid search) 3.63->3.09 s min-of-5.
      // Scale-safe for the same reason — per-group payloads stay
      // KB-sized at any corpus size; override per-session if an
      // unbounded-group aggregate is ever added.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "65536")
      // Spark 4.1: InferFiltersFromConstraints substitutes alias-
      // defined join keys (e.g. an IVF cluster assignment computed
      // from the base scan) into inferred predicates and pushes them
      // into the other join side, where the referenced scan attributes
      // don't exist -> INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at runtime.
      // The lost inferred IsNotNull filters are irrelevant to these
      // workloads (explicit filters + non-null join keys throughout).
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    registerFunctions(spark)
    spark
  }

  /** The vector/text kernels' SQL names and Catalyst builders — the
    * one table both [[registerFunctions]] (per session) and
    * [[GraftExtensions]] (cluster-wide injection) install.
    */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("vec_dot", es => VecDot(es(0), es(1))),
    ("vec_l2", es => VecL2(es(0), es(1))),
    ("vec_l2sq", es => VecL2Sq(es(0), es(1))),
    ("vec_cosine_sim", es => VecCosineSim(es(0), es(1))),
    ("vec_sign_hamming", es => VecSignHamming(es(0), es(1))),
    ("text_fingerprint", es => TextFingerprint(es(0))),
    ("poly_hash", PolyHash.fromArgs),
    ("byte_sum", es => ByteSum(es(0))),
    ("simhash64", es => SimHash64(es(0))),
    ("pack_bits", PackBits.fromArgs),
    ("packed_hamming", es => PackedHamming(es(0), es(1))),
    ("pq_adc", es => PqAdc(es(0), es(1))),
    ("rolling_hash_windows", RollingHashWindows.fromArgs))

  /** Register the vector/text kernels as SQL functions and the fused
    * kNN operator's planner strategy — the per-session twin of
    * [[GraftExtensions]]. Call it once per session, before any query
    * runs: it is the only writer of the session's extra strategies, so
    * concurrent `KnnSearch.bruteForce` calls only ever read them.
    */
  def registerFunctions(spark: SparkSession): Unit = {
    sqlFunctions.foreach { case (name, builder) =>
      Shim.registerFunction(spark, name, builder)
    }
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(KnnTopK.Strategy))
      exp.extraStrategies = exp.extraStrategies :+ KnnTopK.Strategy
  }
}
