package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.datagen.DataGen
import graft.operators.{Dedup, IvfIndex, KnnSearch, VecMetric, VectorCollection}

/** Input sizes of one workload. Both tiers run the same calls; only the
  * sizes differ.
  */
final case class Tier(name: String, entities: Int, docs: Int) {
  val dims = 64
  val nlist = 64
  val nprobe = 8
  val k = 10
  val queries = 400
  val batch = 100
  val writeRows = 256
  val readsPerWrite = 2
  val pqM = 8
  val pqKStar = 16
  val pqRerank = 10
  val dedupTau = 0.8
  val lshBands = 8
  val lshRows = 8
  val docTokens = 32
  val sharedTokens = 30
}

object Tier {
  val all: Seq[Tier] = Seq(
    // above every 64k-row driver-resident switch: distributed paths
    Tier("large", entities = 73728, docs = 10000),
    // the sf0.1 embeddings size: driver-resident paths, fixed costs
    Tier("small", entities = 2048, docs = 2000))
}

/** One kind of call measured in a block: untimed warm-up calls for
  * [[Workload.WarmFraction]] of the phase's time (at least `minWarm`),
  * then timed calls for `share` of `--seconds` (at least `minTimed`).
  */
final case class Phase(kind: String, share: Double, minWarm: Int, minTimed: Int)

/** One workload run: cold set-up, each phase in turn, then the
  * independent checks. Every call into the program goes through [[Ops]].
  *
  * Phases run in blocks rather than as rounds that mix every call: the
  * calls' plans together overflow Spark's 100-entry generated-code
  * cache, and mixed rounds re-compiled them on every call, which spread
  * the 2k tier's figures by a quarter to a half between runs.
  */
final class Workload(tier: Tier, seed: Long, seconds: Double, traced: Boolean,
    launchMs: Long) {

  import Workload._

  private val cpus = Runtime.getRuntime.availableProcessors
  private var started = false
  private lazy val spark: SparkSession = {
    started = true
    GraftSession.create(master = s"local[$cpus]",
      shufflePartitions = Some(cpus), appName = "perfbench")
  }
  private var ops: Ops = _
  private val counters = if (traced) Some(new SparkCounters) else None
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]

  /** Wall seconds of each set-up step and run stage. */
  val stages = mutable.LinkedHashMap.empty[String, Double]

  private def stage[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val out = f
    stages(name) = (System.nanoTime() - t0) / 1e9
    out
  }

  private def must[A](o: Option[A], what: String): A =
    o.getOrElse(throw new IllegalStateException(s"set-up call failed: $what"))

  // inputs: the corpus is fixed per tier, the rest comes from the seed
  private var corpus: DataFrame = _
  private var qvecs: Array[Array[Float]] = _
  private var qbatches: Array[DataFrame] = _
  private var docs: DataFrame = _
  private var ivf: VectorCollection = _
  private var pq: VectorCollection = _
  private var rebuilt: VectorCollection = _

  // results kept for the checks
  private val exactRes = mutable.Map.empty[Int, Map[Long, Seq[Long]]]
  private val ivfRes = mutable.Map.empty[Int, Map[Long, Seq[Long]]]
  private val pqRes = mutable.Map.empty[Int, Map[Long, Seq[Long]]]
  private var components: Array[Row] = _

  def run(): Workload = {
    setup()
    endToEnd("setup_s") = (System.currentTimeMillis() - launchMs) / 1e3
    stage("measure")(for (p <- Phases) {
      def callsFor(secs: Double, min: Int, from: Int, timed: Boolean): Int = {
        val deadline = System.nanoTime() + (secs * 1e9).toLong
        var i = from
        while (i - from < min || System.nanoTime() < deadline) {
          step(p.kind, i, timed)
          i += 1
        }
        i
      }
      val slice = p.share * seconds
      val warmed = callsFor(WarmFraction * slice, p.minWarm, 0, timed = false)
      callsFor(slice, p.minTimed, warmed, timed = true)
    })
    if (traced) stage("layers")(layersApart())
    stage("checks")(checks())
    summarise()
    this
  }

  def attempted: Int = ops.attempted
  def failed: Int = ops.failed

  private def setup(): Unit = {
    stage("session.create")(spark)
    ops = new Ops(spark)
    counters.foreach { c =>
      spark.sparkContext.addSparkListener(c)
      spark.listenerManager.register(c)
    }
    import spark.implicits._
    stage("datagen.generate") {
      corpus = must(ops.run("datagen", timed = false) {
        val df = DataGen.randomMv(spark, tier.entities, tier.dims, CorpusSeed)
          .select(col("vec_id").as("id"), col("field_0").as("vec")).cache()
        df.count()
        df
      }, "corpus")
      qvecs = must(ops.run("datagen", timed = false) {
        DataGen.randomMv(spark, tier.queries, tier.dims, seed + QuerySeed)
          .orderBy("vec_id").select("field_0").collect()
          .map(_.getSeq[Float](0).toArray)
      }, "queries")
      docs = must(ops.run("datagen", timed = false) {
        val df = plantedDocs(spark, tier, seed).cache()
        df.count()
        df
      }, "documents")
    }
    qbatches = qvecs.indices.grouped(tier.batch).map { is =>
      is.map(i => (i.toLong, qvecs(i))).toDF("query_id", "qvec")
    }.toArray
    stage("ivf.build") {
      val sc = spark.sparkContext
      val before = sc.getRDDStorageInfo.map(_.id).toSet
      ivf = new VectorCollection(spark, corpus, tier.nlist, tier.nprobe)
      must(ops.run("build", timed = false)(ivf.createIndex()), "IVF index")
      endToEnd("index_mb") = sc.getRDDStorageInfo
        .filter(r => !before(r.id))
        .map(r => r.memSize + r.diskSize).sum / 1e6
    }
    stage("pq.build") {
      pq = new VectorCollection(spark, corpus, tier.nlist, tier.nprobe,
        quantization = "pq", pqM = tier.pqM, pqKStar = tier.pqKStar,
        rerank = tier.pqRerank)
      must(ops.run("build", timed = false)(pq.createIndex()), "PQ index")
    }
    // the build phase re-indexes its own collection, so it does not
    // invalidate the serving state the query calls measure
    rebuilt = new VectorCollection(spark, corpus, tier.nlist, tier.nprobe)
  }

  /** Call `i` of a phase. Batch calls cycle through the query batches. */
  private def step(kind: String, i: Int, timed: Boolean): Unit = kind match {
    case "build" => ops.run("build", timed)(rebuilt.createIndex())
    case "exact" =>
      val b = i % qbatches.length
      ops.run("exact", timed)(KnnSearch.bruteForce(corpus, qbatches(b),
        tier.k, VecMetric.Euclidean).collect())
        .foreach(rs => exactRes.getOrElseUpdate(b, ranked(rs)))
    case "ivf" =>
      val b = i % qbatches.length
      ops.run("ivf", timed)(ivf.batchQuery(qbatches(b), tier.k).collect())
        .foreach(rs => ivfRes.getOrElseUpdate(b, ranked(rs)))
    case "pq" =>
      val b = i % qbatches.length
      ops.run("pq", timed)(pq.batchQuery(qbatches(b), tier.k).collect())
        .foreach(rs => pqRes.getOrElseUpdate(b, ranked(rs)))
    case "crud" => crudRound(i, timed)
    case "query" =>
      ops.run("query", timed)(ivf.query(qvecs(i % qvecs.length), tier.k))
    case "dedup" => ops.run("dedup", timed) {
      val sh = Dedup.shingles(docs).cache()
      try Dedup.connectedComponents(Dedup.minhashLshOf(sh, tier.dedupTau,
        tier.lshBands, tier.lshRows)).collect()
      finally sh.unpersist()
    }.foreach(components = _)
  }

  // --- crud-mixed: writes beside reads on one collection -------------

  private var live = tier.entities.toLong
  private val deleted = mutable.Set.empty[Long]
  private var reads = 0

  private def insertBatch(round: Int): Array[(Long, Array[Float])] = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + round)
    Array.tabulate(tier.writeRows) { j =>
      (tier.entities.toLong + round.toLong * tier.writeRows + j,
        Array.fill(tier.dims)(rnd.nextDouble().toFloat))
    }
  }

  private def checkNoDeleted(what: String, ids: Seq[Long]): Unit =
    Check(!ids.exists(deleted), s"$what returned deleted ids " +
      ids.filter(deleted).mkString(","))

  private def readsAfter(what: String, timed: Boolean): Unit =
    (0 until tier.readsPerWrite).foreach { _ =>
      val v = qvecs(reads % qvecs.length)
      reads += 1
      ops.run("read", timed)(ivf.query(v, tier.k))
        .foreach(r => checkNoDeleted(s"read after $what", r))
    }

  private def checkCount(what: String): Unit =
    ops.run("check", timed = false)(ivf.numEntities).foreach(n =>
      Check(n == live, s"numEntities $n after $what, model holds $live"))

  private def crudRound(round: Int, timed: Boolean): Unit = {
    import spark.implicits._
    val batch = insertBatch(round)
    val ids = batch.map(_._1)
    if (ops.run("insert", timed)(ivf.insert(batch.toSeq.toDF("id", "vec"))).isDefined)
      live += batch.length
    ops.run("raw", timed)(ivf.query(batch(0)._2, tier.k)).foreach { r =>
      Check(r.headOption.contains(ids(0)),
        s"inserted id ${ids(0)} not at rank 1 of its own vector: ${r.mkString(",")}")
      checkNoDeleted("read after insert", r)
    }
    readsAfter("insert", timed)
    checkCount(s"insert round $round")
    // every inserted vector of the warm-up round finds itself at rank 1;
    // later rounds check the one their read-after-write queries
    if (!timed) ops.run("check", timed = false)(ivf.batchQuery(
      batch.toSeq.toDF("query_id", "qvec"), 1).collect()).foreach { rs =>
      val top = rs.map(r => r.getLong(0) -> r.getLong(2)).toMap
      ids.foreach(id => Check(top.get(id).contains(id),
        s"inserted id $id found ${top.get(id)} at rank 1"))
    }
    if (ops.run("delete", timed)(ivf.delete(ids.toSeq.toDF("id"))).isDefined) {
      live -= ids.length
      deleted ++= ids
    }
    ops.run("raw", timed)(ivf.query(batch(0)._2, tier.k))
      .foreach(r => checkNoDeleted("read after delete", r))
    readsAfter("delete", timed)
    checkCount(s"delete round $round")
  }

  // --- traced run only: the layers called apart ------------------------

  private def layersApart(): Unit = {
    import spark.implicits._
    val reps = 3
    var cands = Seq.empty[Double]
    (0 until reps).foreach { r =>
      val timed = r > 0 // the first repetition warms the calls up
      val cents = ops.run("ivf.centroids", timed)(
        IvfIndex.sampleCentroids(corpus, "vec", tier.nlist))
      val assigned = cents.flatMap(c => ops.run("ivf.assign", timed)(
        IvfIndex.assign(corpus, "vec", c).localCheckpoint(true)))
      for (c <- cents; a <- assigned) {
        val q = qbatches(r % qbatches.length)
        val probed = ops.run("ivf.probe", timed)(
          IvfIndex.probedQueries(q, c, tier.nprobe))
        probed.foreach { p =>
          ops.run("ivf.scan", timed)(IvfIndex.searchProbed(a, p, tier.k,
            VecMetric.Euclidean).collect())
          val hist = a.groupBy("cluster").count().as[(Int, Long)].collect().toMap
          val scored = p.select("cluster").as[Int].collect()
            .map(c => hist.getOrElse(c, 0L)).sum
          cands :+= scored.toDouble / tier.batch
        }
      }
    }
    layer("ivf.candidates_per_query") = Stats.median(cands)
    (0 until 2).foreach { r =>
      val timed = r > 0
      ops.run("dedup.shingles", timed) {
        val sh = Dedup.shingles(docs).cache()
        sh.count()
        sh
      }.foreach { sh =>
        val pairs = ops.run("dedup.lsh", timed)(Dedup.minhashLshOf(sh,
          tier.dedupTau, tier.lshBands, tier.lshRows).collect())
        pairs.foreach { ps =>
          layer("dedup.pairs_found") = ps.length.toDouble
          val df = ps.map(p => (p.getLong(0), p.getLong(1))).toSeq
            .toDF("doc_a", "doc_b")
          ops.run("dedup.components", timed)(
            Dedup.connectedComponents(df).collect())
        }
        sh.unpersist()
      }
    }
  }

  // --- independent checks -------------------------------------------

  private def checks(): Unit = {
    val all = qvecs.indices.map(_.toLong)
    def inOrder(res: mutable.Map[Int, Map[Long, Seq[Long]]], what: String) = {
      Check(res.size == qbatches.length, s"$what: results for ${res.size} " +
        s"of ${qbatches.length} batches")
      val merged = res.values.reduce(_ ++ _)
      all.map(q => merged.getOrElse(q, Seq.empty)).toArray
    }
    val rows = corpus.select("id", "vec").collect()
    val ids = rows.map(_.getLong(0))
    val vecs = rows.map(_.getSeq[Float](1).toArray)
    val truth = Truth.topKAll(qvecs, ids, vecs, tier.k, cpus)
    Check.sameRanking("bruteForce vs exact truth", truth, inOrder(exactRes, "exact"))
    endToEnd("recall_at_10") = Truth.recall(truth, inOrder(ivfRes, "ivf"))
    endToEnd("pq_recall_at_10") = Truth.recall(truth, inOrder(pqRes, "pq"))

    // nprobe = nlist probes every cell: exact
    val full = new VectorCollection(spark, corpus, tier.nlist, tier.nlist)
    ops.run("check", timed = false)(full.createIndex())
    val fullRes = ops.run("check", timed = false)(full.batchQuery(
      qbatches(0), tier.k).collect()).map(ranked).getOrElse(Map.empty)
    Check.sameRanking("IVF nprobe=nlist vs exact truth",
      truth.take(tier.batch),
      all.take(tier.batch).map(q => fullRes.getOrElse(q, Seq.empty)).toArray)

    // query(v) is a 1-row batchQuery
    import spark.implicits._
    (0 until 2).foreach { i =>
      val one = ops.run("check", timed = false)(ivf.query(qvecs(i), tier.k))
      val batch = ops.run("check", timed = false)(ivf.batchQuery(
        Seq((i.toLong, qvecs(i))).toDF("query_id", "qvec"), tier.k).collect())
      for (o <- one; b <- batch)
        Check(o == ranked(b).getOrElse(i.toLong, Seq.empty),
          s"query($i) ${o.mkString(",")} != 1-row batchQuery")
    }

    checkDedup()
  }

  private def checkDedup(): Unit = {
    import spark.implicits._
    Check(components != null, "no dedup pass completed")
    val sh = Dedup.shingles(docs).cache()
    val pairs = ops.run("check", timed = false)(Dedup.minhashLshOf(sh,
      tier.dedupTau, tier.lshBands, tier.lshRows).collect())
      .getOrElse(Array.empty[Row]).map(r => (r.getLong(0), r.getLong(1)))
    sh.unpersist()
    val touched = pairs.flatMap { case (a, b) => Seq(a, b) }
    val text = docs.join(touched.toSeq.toDF("doc_id").distinct(), "doc_id")
      .as[(Long, String)].collect().toMap
    pairs.foreach { case (a, b) =>
      val j = Truth.jaccard3(text(a), text(b))
      Check(j >= tier.dedupTau, s"pair ($a, $b) has 3-gram Jaccard $j")
    }
    // planted pairs share sharedTokens of docTokens leading tokens
    val grams = tier.docTokens - 2
    val shared = tier.sharedTokens - 2
    val jPlanted = shared.toDouble / (2 * grams - shared)
    val p = Truth.lshHitProbability(jPlanted, tier.lshBands, tier.lshRows)
    val planted = tier.docs / 10
    val found = pairs.count { case (a, b) => b == a + 1 && b % 10 == 9 }
    val sd = math.sqrt(planted * p * (1 - p))
    Check(math.abs(found - planted * p) <= 6 * sd + 1,
      f"found $found of $planted planted pairs, expected ${planted * p}%.1f")
    Check(touched.distinct.length == touched.length,
      "dedup pairs are not disjoint")
    val clusters = components.map(r => r.getLong(0) -> r.getLong(1)).toMap
    Check(clusters.values.toSet.size == pairs.length,
      s"${clusters.values.toSet.size} components for ${pairs.length} disjoint pairs")
    pairs.foreach { case (a, b) =>
      Check(clusters.get(a).contains(a) && clusters.get(b).contains(a),
        s"pair ($a, $b) not one component labelled $a")
    }
  }

  // --- metrics --------------------------------------------------------

  private def summarise(): Unit = {
    def med(kind: String) = {
      val w = ops.wallsMs(kind)
      Check(w.nonEmpty, s"no timed $kind call succeeded")
      Stats.median(w)
    }
    endToEnd("build_s") = med("build") / 1e3
    endToEnd("exact_qps") = tier.batch / (med("exact") / 1e3)
    endToEnd("ivf_qps") = tier.batch / (med("ivf") / 1e3)
    endToEnd("pq_qps") = tier.batch / (med("pq") / 1e3)
    endToEnd("insert_p50_ms") = med("insert")
    endToEnd("delete_p50_ms") = med("delete")
    endToEnd("read_after_write_p50_ms") = med("raw")
    endToEnd("dedup_docs_per_s") = tier.docs / (med("dedup") / 1e3)
    if (traced) traceLayers(med)
  }

  private def traceLayers(med: String => Double): Unit = {
    val c = counters.get
    org.apache.spark.perfbenchshim.Drain(spark.sparkContext)
    val byId = c.forSpans(ops.spans.toSeq)
    layer("session.create_s") = stages("session.create")
    layer("datagen.generate_s") = stages("datagen.generate")
    layer("ivf.centroids_s") = med("ivf.centroids") / 1e3
    layer("ivf.assign_s") = med("ivf.assign") / 1e3
    layer("ivf.probe_s") = med("ivf.probe") / 1e3
    layer("ivf.scan_s") = med("ivf.scan") / 1e3
    layer("ivf.candidates_per_hit") = layer("ivf.candidates_per_query") / tier.k
    layer("knn.distance_evals_per_s") =
      tier.entities.toDouble * tier.batch / (med("exact") / 1e3)
    layer("pq.build_s") = stages("pq.build")
    layer("pq.candidates_per_query") =
      layer("ivf.candidates_per_query") + tier.k * tier.pqRerank
    def perCall(kind: String)(f: (Span, OpCounters) => Double): Double =
      Stats.median(ops.timedSpans(kind).map(s => f(s, byId(s.id))))
    // driver-resident on the small tier, where these sub-millisecond
    // medians moved by a quarter between identical runs: unbounded here
    layer("collection.query_p50_ms") = med("query")
    layer("collection.read_p50_ms") = med("read")
    layer("collection.query_jobs") = perCall("query")((_, o) => o.jobs)
    layer("collection.query_tail_ms") = Stats.tail(ops.wallsMs("query"))
    layer("collection.query_samples") = ops.wallsMs("query").length
    layer("collection.replica_rows") = perCall("raw")((_, o) => o.replicaRows)
    val writes = ops.timedSpans("insert") ++ ops.timedSpans("delete")
    layer("mutations.rows_rewritten") =
      Stats.median(writes.map(s => byId(s.id).shuffleRecords.toDouble))
    layer("mutations.shuffle_bytes") =
      Stats.median(writes.map(s => byId(s.id).shuffleBytes.toDouble))
    layer("dedup.shingles_s") = med("dedup.shingles") / 1e3
    layer("dedup.lsh_s") = med("dedup.lsh") / 1e3
    layer("dedup.components_s") = med("dedup.components") / 1e3
    for (kind <- SparkKinds) {
      val p = s"spark.$kind"
      layer(s"$p.jobs") = perCall(kind)((_, o) => o.jobs)
      layer(s"$p.tasks") = perCall(kind)((_, o) => o.tasks)
      layer(s"$p.executor_cpu_s") = perCall(kind)((_, o) => o.cpuNs / 1e9)
      layer(s"$p.shuffle_write_bytes") = perCall(kind)((_, o) => o.shuffleBytes)
      layer(s"$p.spill_bytes") = perCall(kind)((_, o) => o.spillBytes)
      layer(s"$p.gc_s") = perCall(kind)((s, _) => s.gcMs / 1e3)
      layer(s"$p.planning_ms") = perCall(kind)((_, o) => o.planningMs)
      layer(s"$p.driver_gap_s") =
        perCall(kind)((s, o) => o.gapMs(s.startMs, s.endMs) / 1e3)
    }
  }

  def stop(): Unit = if (started) spark.stop()

  def spanRecords: Seq[Span] = if (ops == null) Seq.empty else ops.spans.toSeq
}

object Workload {
  val QuerySeed = 1000003L

  /** The corpus is one fixed data set per tier, like a benchmark's
    * published base vectors; queries, writes and documents come from
    * `--seed`. A seeded corpus would also move the sampled IVF
    * centroids, and with them recall by a tenth from seed to seed.
    */
  val CorpusSeed = 42L

  /** The query phase follows the writes: its warm-up calls absorb the
    * re-collect the last write left, so `query` times the settled path.
    */
  val Phases: Seq[Phase] = Seq(
    Phase("build", 0.08, minWarm = 1, minTimed = 4),
    Phase("exact", 0.18, minWarm = 1, minTimed = 4),
    Phase("ivf", 0.12, minWarm = 1, minTimed = 4),
    Phase("pq", 0.12, minWarm = 1, minTimed = 4),
    Phase("crud", 0.26, minWarm = 2, minTimed = 4),
    Phase("query", 0.08, minWarm = 1, minTimed = 5),
    Phase("dedup", 0.16, minWarm = 1, minTimed = 4))

  /** Warm-up time as a share of each phase's timed slice: walls kept
    * falling for tens of calls after the first, as the JIT compiled the
    * driver-side code, so a single warm-up call left the timed median
    * on that slope.
    */
  val WarmFraction = 0.5

  /** Operation kinds whose Spark counters the traced run reports. */
  val SparkKinds: Seq[String] = Seq("build", "exact", "ivf", "pq", "query",
    "insert", "delete", "raw", "read", "dedup")

  /** (query_id, rank, neighbor_id, ...) rows to ranked id lists. */
  def ranked(rows: Array[Row]): Map[Long, Seq[Long]] =
    rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
    }

  /** `docs` documents of `docTokens` tokens drawn from a million-word
    * vocabulary; every tenth document (id % 10 == 9) repeats the first
    * `sharedTokens` tokens of its predecessor, planting docs/10
    * disjoint near-duplicate pairs.
    */
  def plantedDocs(spark: SparkSession, tier: Tier, seed: Long): DataFrame = {
    val id = col("id")
    spark.range(tier.docs).select(id.as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(tier.docTokens - 1)), j => {
        val src = when(id % 10 === 9 && j < tier.sharedTokens, id - 1)
          .otherwise(id)
        concat(lit("w"), pmod(xxhash64(lit(seed), src, j), lit(1000003L))
          .cast("string"))
      })).as("text"))
  }
}
