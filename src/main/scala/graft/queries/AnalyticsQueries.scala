package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{EventTime, Tables}
import graft.operators.{MutationLog, Mutations}
import graft.streaming.EventStream

/** Mutations, streaming ingest, and benchmark-harness analytics
  * (SURVEY.md §2: q30/q31, a01-a03). All money/value sums are integer
  * cents — order-independent, so distributed partial aggregation is
  * bit-exact vs the oracle.
  */
object AnalyticsQueries {

  /** q30: one batch of inserts+updates+deletes merged latest-wins
    * (reference insert/update/delete, base/module.py:140-180).
    */
  def upsertBatch(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
    val upserts = emb.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id"), (col("label") + 100).as("label"))
      .unionByName(emb.select((col("vec_id") + 10000).as("vec_id"), col("label")))
    val deletes = emb.filter(col("vec_id") % 10 === 0).select(col("vec_id"))
    Mutations.applyBatch(emb, upserts, deletes, "vec_id")
      .orderBy("vec_id")
  }

  /** q31: streaming micro-batch ingest w/ event-time window. */
  def streamIngest(s: SparkSession, dir: String): DataFrame =
    EventStream.hourlyAgg(s, dir)

  /** a01: pricing-summary aggregation over lineitem (bench sanity at
    * sf0.1+; the shape every OLAP engine is judged on).
    */
  def pricingAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(round(col("l_quantity") * 100).cast("long")).as("qty_cents"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"),
        sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast("long")).as("disc_price_cents"))
      .orderBy("l_returnflag", "l_linestatus")

  /** a02: latency percentile summary (reference runner's QPS/latency
    * metrics, runner.py) — exact interpolated percentiles over integer
    * cents.
    */
  def latencyPercentiles(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("v"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        percentile(col("v"), lit(0.5)).as("p50"),
        percentile(col("v"), lit(0.9)).as("p90"),
        percentile(col("v"), lit(0.95)).as("p95"),
        percentile(col("v"), lit(0.99)).as("p99"),
        percentile(col("v"), lit(0.999)).as("p999"))
      .orderBy("event_type")

  /** a03: gap-based sessionization (30 min) of the event stream —
    * the batch shape of stateful stream processing.
    */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val evRaw = Tables.events(s, dir)
    val ev = evRaw
      .select(col("user_id"), col("event_id"), EventTime.tsUs(evRaw).as("us"))
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    ev.withColumn("prev_us", lag("us", 1).over(w))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          col("us") - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_no",
        sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_no")
      .agg(
        count(lit(1)).as("n_events"),
        min("us").as("start_us"),
        max("us").as("end_us"))
      .orderBy("user_id", "session_no")
  }

  /** q32: stateful streaming sessionization (session_window). */
  def streamSessions(s: SparkSession, dir: String): DataFrame =
    EventStream.sessionWindows(s, dir)

  /** a04: star-schema join rollup — revenue per region through the
    * lineitem→orders→customer→nation→region chain. Only the FIXED
    * dimensions (nation 25 rows, region 5) carry a hard broadcast
    * hint: orders and customer SCALE with the fact data (1.5M and
    * 150k rows per TPC-H SF), so a hard hint on them would exceed the
    * broadcast limits at exactly the scale the query is for. Those
    * two joins are key-equi-joins Catalyst plans as shuffle joins at
    * scale — and AQE still auto-broadcasts them at small SF where
    * they fit, which is the adaptive behavior a hint would freeze.
    */
  def joinAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast("long").as("rev_cents"))
      .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir).select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_items"),
        sum(col("rev_cents")).as("revenue_cents"))
      .orderBy("r_name")

  private val bucketedMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (String, String)]

  /** Write lineitem + orders ONCE as co-bucketed tables (8 buckets on
    * the join key, sorted within buckets) — the persisted layout that
    * makes repeated fact-fact joins shuffle-free.
    */
  /** Exposed for AnalyticsSpec so the plan assertion reads the SAME
    * table names the query uses (the tag derivation must not be
    * duplicated — r6 regressed exactly that way).
    */
  private[graft] def bucketedTables(s: SparkSession, dir: String): (String, String) =
    bucketedMemo.getOrElseUpdate((s, dir), {
      val tag = f"${dir.hashCode}%08x" // unsigned hex: always a valid identifier
      val li = s"graft_bkt_lineitem_$tag"
      val ord = s"graft_bkt_orders_$tag"
      if (!s.catalog.tableExists(li)) {
        // the in-memory catalog forgets tables across JVMs but the
        // managed warehouse location persists on disk — clear any
        // leftover so saveAsTable doesn't refuse the name
        val hconf = s.sparkContext.hadoopConfiguration
        Seq(li, ord).foreach { t =>
          val p = new org.apache.hadoop.fs.Path(
            s.sessionState.conf.warehousePath, t)
          p.getFileSystem(hconf).delete(p, true)
        }
        Tables.lineitem(s, dir)
          .select("l_orderkey", "l_extendedprice", "l_discount")
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(li)
        Tables.orders(s, dir)
          .select("o_orderkey", "o_orderpriority")
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ord)
      }
      (li, ord)
    })

  /** a07: co-located bucketed join — revenue per order priority
    * through a lineitem⋈orders join that moves NO fact rows: both
    * tables are bucketed (and sorted) on the join key, so the sort-
    * merge join reads bucket i against bucket i with zero Exchange
    * and zero Sort in the plan (asserted in AnalyticsSpec). This is
    * the layout answer to "the 100 TB fact-fact join": pay one
    * bucketed write at ingest, then every subsequent join on that key
    * is a local merge. The `merge` hint keeps Spark from choosing a
    * broadcast join at toy scale, which would hide the property the
    * query demonstrates; the only shuffle left is the final tiny
    * rollup by priority.
    */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (li, ord) = bucketedTables(s, dir)
    s.table(li).hint("merge")
      .join(s.table(ord).hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 100).cast("long")).as("revenue_cents"))
      .orderBy("o_orderpriority")
  }

  /** q38: stream-static broadcast enrichment + windowed rollup. */
  def streamEnrich(s: SparkSession, dir: String): DataFrame =
    EventStream.enrichedHourlyAgg(s, dir)

  /** a10: salted skew-safe join — revenue per order status through a
    * lineitem⋈orders join spread over 4 salts per key. On this corpus
    * no key is hot, so the gated check is pure semantics (result ==
    * plain join); the skew behavior itself is spec-tested on a
    * synthetic one-key corpus (AnalyticsSpec).
    */
  def saltedJoinQ(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"),
      round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
        .cast("long").as("rev_cents"),
      col("l_quantity"))
    val ord = Tables.orders(s, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
    graft.operators.SkewJoin.saltedJoin(li, ord, "l_orderkey",
        salts = 4, saltBy = xxhash64(col("l_quantity"), col("rev_cents")))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_items"), sum("rev_cents").as("revenue_cents"))
      .orderBy("o_orderstatus")
  }

  private def eventsUs(s: SparkSession, dir: String): DataFrame = {
    val evRaw = Tables.events(s, dir)
    evRaw.select(col("user_id"), col("event_id"),
      EventTime.tsUs(evRaw).as("us"), col("event_type"))
  }

  /** a08: as-of join — each error event picks up the user's most
    * recent click at-or-before it (last-touch attribution, the
    * canonical time-series enrichment Spark has no operator for).
    * Clicks are pre-deduplicated per (user, timestamp) so the result
    * is deterministic; errors with no prior click report -1.
    */
  def asofJoinQ(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsUs(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "us").agg(max("event_id").as("click_id"))
    val errors = ev.filter(col("event_type") === "error")
      .select("user_id", "us", "event_id")
    graft.operators.TemporalJoins.asofJoin(errors, clicks, "user_id", "us")
      .select(col("event_id"), col("user_id"), col("us"),
        coalesce(col("asof.click_id"), lit(-1L)).as("click_id"),
        coalesce(col("asof.us"), lit(-1L)).as("click_us"))
      .orderBy("event_id")
  }

  /** a09: range-join count — clicks in the 30 minutes before each
    * error, per user, via the bucketed equi-join (no inequality join
    * in the plan).
    */
  def rangeJoinQ(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsUs(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "us")
    val errors = ev.filter(col("event_type") === "error")
      .select("user_id", "us", "event_id")
    graft.operators.TemporalJoins.rangeJoinCount(errors, clicks,
        "user_id", "us", 1800L * 1000000L, Seq("event_id", "user_id", "us"))
      .withColumnRenamed("n_matches", "n_clicks")
      .orderBy("event_id")
  }

  /** a11: hierarchical ROLLUP totals — per (flag, status), per flag,
    * and grand total in ONE pass: Spark expands grouping sets before
    * the exchange, so partial aggregation still combines map-side and
    * the shuffle carries one row per (set, key), not one pass per
    * level — the OLAP subtotal surface at any fact-table size.
    */
  def rollupAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(round(col("l_quantity") * 100).cast("long")).as("qty_cents"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** a05: semi-structured extraction — JSON props parsed per event. */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("k_sum"))
      .orderBy("event_type")

  /** a12: the reference runner's per-op mutation LATENCY series
    * (runner.py run_individual_insert/update/delete → results.py
    * store_insert_update_delete_latencies): nOps individual inserts,
    * updates and deletes applied one at a time to the op LOG
    * (MutationLog — the per-op path of a log-structured index; the
    * batch compaction twin is q30), each append timed, percentiles
    * per op class at the reference's full grid (p50/p90/p95/p99/p999
    * + ops-per-second, plotting/metrics.py:51,71,101). Latencies are wall-clock (no SQL oracle by
    * nature — the reference stores, not recomputes, them); the
    * DETERMINISTIC effect of the op stream is gated instead: the
    * merged post-state's row count and id checksum ride along in
    * every row and are asserted exactly in AnalyticsSpec.
    */
  /** A non-empty wall series in ns as (p50, p90, p95, p99, p99.9, max)
    * in whole µs: nearest-rank percentiles truncated, the maximum
    * rounded up, so the series' mean — what its ops-per-second figure
    * inverts — never exceeds max_us.
    */
  def latencyUs(ns: Array[Long]): (Long, Long, Long, Long, Long, Long) = {
    val s = ns.sorted
    def pct(q: Double): Long =
      s(math.min(s.length - 1, math.ceil(q * s.length).toInt - 1).max(0)) / 1000
    (pct(0.5), pct(0.9), pct(0.95), pct(0.99), pct(0.999),
      (s.last + 999) / 1000)
  }

  def mutationLatency(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nOps = 32
    val emb = Tables.embeddings(s, dir)
    val base = emb.filter(Split.isTrain(col("vec_id")))
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    // deterministic op streams: inserts = first nOps held-out rows
    // (new ids), updates/deletes = first 2*nOps base ids, disjoint
    val fresh = emb.filter(!Split.isTrain(col("vec_id")))
      .select(col("vec_id"), col("embedding")).orderBy("vec_id")
      .limit(nOps).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val targets = base.select("id").orderBy("id").limit(2 * nOps)
      .collect().map(_.getLong(0))
    val logDir = java.nio.file.Files
      .createTempDirectory("graft_mutlog").toString
    val w = new MutationLog.Writer(logDir)
    def series(op: String, ops: Seq[(Long, Array[Float])]): Array[Long] =
      ops.map { case (id, vec) => w.append(op, id, vec) }.toArray
    val insertNs = series("insert", fresh.toSeq)
    val updateNs = series("update",
      targets.take(nOps).toSeq.map(id => (id, fresh(0)._2)))
    val deleteNs = series("delete",
      targets.slice(nOps, 2 * nOps).toSeq
        .map(id => (id, Array.empty[Float])))
    w.close()
    val state = MutationLog.replay(base, logDir)
      .agg(count(lit(1)).as("n"), sum("id").as("ck")).head()
    val (finalRows, idChecksum) = (state.getLong(0), state.getLong(1))
    Seq(("delete", deleteNs), ("insert", insertNs), ("update", updateNs))
      .map { case (op, ns) =>
        val (p50, p90, p95, p99, p999, mx) = latencyUs(ns)
        (op, ns.length.toLong, p50, p90, p95, p99, p999, mx,
          ns.length.toDouble * 1e9 / ns.sum, finalRows, idChecksum)
      }
      .toDF("op", "n_ops", "p50_us", "p90_us", "p95_us", "p99_us",
        "p999_us", "max_us", "ops_per_sec", "final_rows", "id_checksum")
      .orderBy("op")
  }

  /** a13: the runner's per-ANN-QUERY latency series — the metric leg
    * a12 covers for mutations (reference runner.py:24-117
    * run_individual_query → results.py store_results: each query
    * vector served ONE AT A TIME through the single-query path, its
    * wall recorded, percentiles stored). Here the [[A13NQ]] held-out
    * query vectors run one-by-one through VectorCollection.query
    * (the reference's single-vector serving call) against the built
    * IVF collection. Latencies are wall-clock — no SQL oracle by
    * nature (a12's contract) — so the DETERMINISTIC effect rides
    * along instead: total returned hits and the neighbor-id checksum
    * over the whole workload, asserted exactly in AnalyticsSpec
    * against an independent batchQuery of the same frame.
    */
  val A13NQ = 16

  def annQueryLatency(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val base = emb.filter(Split.isTrain(col("vec_id")))
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val coll = new graft.operators.VectorCollection(s, base)
    coll.createIndex()
    // the gated workload: first A13NQ held-out test vectors, in id
    // order — the series is positionally deterministic even though
    // the recorded walls are not
    val qs = emb.filter(Split.isQuery(col("vec_id"), A13NQ))
      .select(col("vec_id"), col("embedding")).orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val k = 10
    var hits = 0L
    var ck = 0L
    val walls = qs.map { case (_, v) =>
      val t0 = System.nanoTime()
      val res = coll.query(v, k)
      val w = System.nanoTime() - t0
      hits += res.length
      ck += res.sum
      w
    }
    val (p50, p90, p95, p99, p999, mx) = latencyUs(walls)
    // qps = the reference's queries_per_second metric
    // (plotting/metrics.py:51): n_ops over the summed serving wall
    Seq(("single_query", walls.length.toLong, p50, p90, p95, p99, p999, mx,
      walls.length.toDouble * 1e9 / walls.sum, hits, ck))
      .toDF("op", "n_ops", "p50_us", "p90_us", "p95_us", "p99_us",
        "p999_us", "max_us", "qps", "total_hits", "id_checksum")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a12_mutation_latency" -> (mutationLatency _),
    "a13_ann_query_latency" -> (annQueryLatency _),
    "a04_join_agg" -> (joinAgg _),
    "a05_json_extract" -> (jsonExtract _),
    "q30_upsert_batch" -> (upsertBatch _),
    "q31_stream_ingest" -> (streamIngest _),
    "q32_stream_sessions" -> (streamSessions _),
    "q33_stream_dedup" -> ((s: SparkSession, dir: String) =>
      EventStream.streamDedup(s, dir)),
    "q34_stream_upsert" -> ((s: SparkSession, dir: String) =>
      EventStream.streamUpsert(s, dir)),
    "a01_pricing_agg" -> (pricingAgg _),
    "a02_latency_percentiles" -> (latencyPercentiles _),
    "a03_sessionize" -> (sessionize _),
    "a07_bucketed_join" -> (bucketedJoin _),
    "a08_asof_join" -> (asofJoinQ _),
    "a09_range_join" -> (rangeJoinQ _),
    "a10_salted_join" -> (saltedJoinQ _),
    "a11_rollup" -> (rollupAgg _),
    "q40_stream_stream_join" -> ((s: SparkSession, dir: String) =>
      EventStream.streamStreamJoin(s, dir)),
    "q38_stream_enrich" -> (streamEnrich _),
    "q43_stream_file_sink" -> ((s: SparkSession, dir: String) =>
      EventStream.hourlyAggFileSink(s, dir))
  )

  val oracleSql: Map[String, String] = Map(
    "a07_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
        |                     AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "a11_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |         AS qty_cents,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |         AS price_cents
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "a10_salted_join" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
        |                     AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q40_stream_stream_join" ->
      """WITH ev AS (SELECT user_id, event_id,
        |              epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
        |            FROM events)
        |SELECT e.event_id AS error_id, c.event_id AS click_id,
        |       e.us AS error_us, c.us AS click_us
        |FROM ev e JOIN ev c
        |  ON e.user_id = c.user_id
        |     AND e.event_type = 'error' AND c.event_type = 'click'
        |     AND c.us > e.us - 1800000000 AND c.us <= e.us
        |ORDER BY error_id, click_id""".stripMargin,
    "a08_asof_join" ->
      """WITH ev AS (SELECT user_id, event_id,
        |              epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
        |            FROM events),
        |c AS (SELECT user_id, us, max(event_id) AS click_id FROM ev
        |      WHERE event_type = 'click' GROUP BY 1, 2),
        |e AS (SELECT user_id, us, event_id FROM ev
        |      WHERE event_type = 'error')
        |SELECT e.event_id, e.user_id, e.us,
        |       coalesce(c.click_id, -1) AS click_id,
        |       coalesce(c.us, -1) AS click_us
        |FROM e ASOF LEFT JOIN c
        |  ON e.user_id = c.user_id AND e.us >= c.us
        |ORDER BY e.event_id""".stripMargin,
    "a09_range_join" ->
      """WITH ev AS (SELECT user_id, event_id,
        |              epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
        |            FROM events),
        |c AS (SELECT user_id, us FROM ev WHERE event_type = 'click'),
        |e AS (SELECT user_id, us, event_id FROM ev
        |      WHERE event_type = 'error')
        |SELECT e.event_id, e.user_id, e.us, count(c.us) AS n_clicks
        |FROM e LEFT JOIN c
        |  ON e.user_id = c.user_id
        |     AND c.us > e.us - 1800000000 AND c.us <= e.us
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    "q38_stream_enrich" ->
      """SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) // 1000000
        |         AS hour_start,
        |       c_mktsegment AS segment, count(*) AS n_events,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |         AS value_cents
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "a04_join_agg" ->
      """SELECT r_name, count(*) AS n_items,
        |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
        |                     AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "a05_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_sum
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q30_upsert_batch" ->
      """WITH base AS (SELECT vec_id, label FROM embeddings),
        |     ups AS (SELECT vec_id, label + 100 AS label FROM base WHERE vec_id % 7 = 0
        |             UNION ALL
        |             SELECT vec_id + 10000 AS vec_id, label FROM base),
        |     dels AS (SELECT vec_id FROM base WHERE vec_id % 10 = 0),
        |     merged AS (
        |       SELECT vec_id, label FROM base
        |       WHERE vec_id NOT IN (SELECT vec_id FROM ups)
        |       UNION ALL
        |       SELECT vec_id, label FROM ups)
        |SELECT vec_id, label FROM merged
        |WHERE vec_id NOT IN (SELECT vec_id FROM dels)
        |ORDER BY vec_id""".stripMargin,
    "q31_stream_ingest" ->
      """SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) // 1000000 AS hour_start,
        |       event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q43: q31's aggregation through the append-mode file sink — only
    // watermark-CLOSED hours are emitted (window end <= max event
    // time, the same final-watermark contract q32 gates on)
    "q43_stream_file_sink" ->
      """WITH agg AS (
        |  SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) // 1000000
        |           AS hour_start,
        |         event_type,
        |         count(*) AS n_events,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |           AS value_cents
        |  FROM events GROUP BY 1, 2),
        |mx AS (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us FROM events)
        |SELECT hour_start, event_type, n_events, value_cents
        |FROM agg, mx WHERE (hour_start + 3600) * 1000000 <= max_us
        |ORDER BY 1, 2""".stripMargin,
    // q34: the final upserted collection = per user the event with max
    // (ts, event_id), minus tombstoned ('error'-last) keys
    "q34_stream_upsert" ->
      """WITH w AS (SELECT user_id,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |                  event_id, event_type,
        |                  CAST(round(value * 100) AS BIGINT) AS value_cents,
        |                  row_number() OVER (PARTITION BY user_id
        |                    ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC,
        |                             event_id DESC) AS rn
        |           FROM events)
        |SELECT user_id, ts_us, event_id, event_type, value_cents
        |FROM w WHERE rn = 1 AND event_type != 'error'
        |ORDER BY user_id""".stripMargin,
    "q33_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type,
        |       epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) // 1000000
        |         AS hour_start
        |FROM events
        |ORDER BY user_id, event_type, hour_start""".stripMargin,
    // streaming session_window semantics: an event joins iff it lands
    // strictly inside [start, last+gap), i.e. new session when
    // diff >= gap; append mode emits only sessions closed before the
    // final watermark (= max event time at 0s delay)
    "q32_stream_sessions" ->
      """WITH ev AS (SELECT user_id, event_id,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |     mx AS (SELECT max(us) AS max_us FROM ev),
        |     flagged AS (
        |       SELECT user_id, event_id, us,
        |              CASE WHEN lag(us) OVER w IS NULL
        |                     OR us - lag(us) OVER w >= 1800 * 1000000
        |                   THEN 1 ELSE 0 END AS new_session
        |       FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |     numbered AS (
        |       SELECT user_id, us,
        |              sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sno
        |       FROM flagged),
        |     sess AS (
        |       SELECT user_id, min(us) AS start_us,
        |              max(us) + 1800 * 1000000 AS end_us,
        |              count(*) AS n_events
        |       FROM numbered GROUP BY user_id, sno)
        |SELECT start_us, end_us, user_id, n_events
        |FROM sess, mx WHERE end_us <= max_us
        |ORDER BY user_id, start_us""".stripMargin,
    "a01_pricing_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       count(*) AS n_rows,
        |       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
        |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS disc_price_cents
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "a02_latency_percentiles" ->
      """SELECT event_type, count(*) AS n,
        |       quantile_cont(v, 0.5) AS p50,
        |       quantile_cont(v, 0.9) AS p90,
        |       quantile_cont(v, 0.95) AS p95,
        |       quantile_cont(v, 0.99) AS p99,
        |       quantile_cont(v, 0.999) AS p999
        |FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "a03_sessionize" ->
      """WITH ev AS (SELECT user_id, event_id,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |     flagged AS (
        |       SELECT user_id, event_id, us,
        |              CASE WHEN lag(us) OVER w IS NULL
        |                     OR us - lag(us) OVER w > 1800 * 1000000
        |                   THEN 1 ELSE 0 END AS new_session
        |       FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |     numbered AS (
        |       SELECT user_id, us,
        |              sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |       FROM flagged)
        |SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
        |       count(*) AS n_events,
        |       min(us) AS start_us, max(us) AS end_us
        |FROM numbered GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
