package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions._

/** Corpus deduplication suite (SURVEY.md §2 d01-d05) — the LLM-
  * training-data operators run over `documents`; the set-similarity
  * math mirrors the reference's jaccard metric
  * (/root/reference/bigvectorbench/distance.py:12-16). Every variant
  * is a shuffle-on-short-keys plan: hashes/signatures travel, never
  * full texts, which is what makes these viable at 100 TB.
  */
object Dedup {

  /** Most pair rows [[connectedComponents]] may collect to the driver
    * for its union-find: 16x its 64k default, ~100 MB of rows.
    */
  val DriverPairBudget: Long = 1L << 20

  /** Oracle-replicable ~60-bit token hash: two polynomial rolling
    * hashes with coprime (mult, mod) combined as h1 + h2 * 2^30.
    * Every intermediate < 2^62 (ANSI-safe in Spark, BIGINT-safe in
    * DuckDB) and the DuckDB side can compute the identical value with
    * list_reduce over codepoints — which is what lets minhash/simhash
    * outputs be hash-match gated instead of rows-only.
    */
  def tokenHash60(t: Column): Column =
    poly_hash(t, 31L, 1000000007L) +
      poly_hash(t, 131L, 999999937L) * lit(1073741824L)

  /** The DuckDB replica of [[tokenHash60]] for a token expression.
    *
    * Parity caveat: DuckDB's `string_split(tok, '')` iterates grapheme
    * clusters and `unicode(c)` takes the FIRST codepoint of each, while
    * the Scala side folds every codepoint — so parity holds for tokens
    * whose graphemes are single codepoints (ASCII and most precomposed
    * text) but breaks on combining marks / emoji ZWJ sequences. The
    * driver corpus is ASCII; non-ASCII corpora should be NFC-normalised
    * and checked, or gated rows-only.
    */
  def tokenHash60Sql(tok: String): String = {
    def fold(mult: Long, mod: Long) =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(string_split($tok, ''),
         |    c -> CAST(unicode(c) AS BIGINT))),
         |  (h, c) -> (h * $mult + c) % $mod)""".stripMargin
    s"(${fold(31L, 1000000007L)} + ${fold(131L, 999999937L)} * 1073741824)"
  }

  /** d01: exact dedup on md5(text); keeps the smallest doc_id per
    * hash group (one shuffle on a 32-byte key).
    */
  def exact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("text_hash"))
      .groupBy("text_hash")
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id", "text_hash")

  /** Word n-gram shingle set per doc. */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), array_distinct(expr(
        s"transform(sequence(0, size(t) - $n), i -> " +
          (0 until n).map(j => s"element_at(t, i + ${j + 1})")
            .mkString(" || ' ' || ") + ")")).as("sh"))

  /** Candidate pairs from a df-capped inverted shingle index: docs
    * sharing >= 1 shingle whose document frequency is in [2, maxDf].
    * The cap is what makes the index skew-safe at 100 TB: a
    * boilerplate shingle with df=d generates O(d^2) candidate pairs
    * (AQE can rebalance the shuffle, not the pair blowup), so hot
    * shingles are dropped from CANDIDATE GENERATION only — total
    * candidate volume is bounded by maxDf * |index entries|, linear in
    * the corpus for a fixed cap. df >= 2 also drops singleton
    * shingles, which can pair with nothing.
    */
  private[graft] def ngramCandidates(sh: DataFrame, maxDf: Long): DataFrame = {
    val inv = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val keep = inv.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select("s")
    val a = inv.join(keep, "s").select(col("s"), col("doc_id").as("doc_a"))
    val b = inv.join(keep, "s").select(col("s"), col("doc_id").as("doc_b"))
    a.join(b, "s").filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** d02: near-dup pairs with shingle-jaccard >= tau, via the
    * df-capped inverted-index self-join: pair intersection counts come
    * from co-occurrence in the CAPPED index (shingles with df in
    * [2, maxDf] — df=1 shingles can't be shared, df>maxDf shingles
    * would each contribute O(df^2) pairs), and the contribution of the
    * dropped hot shingles is added back EXACTLY from tiny per-doc
    * hot-shingle sets (|hot(A) ∩ hot(B)|), so every reported jaccard
    * is the true one. Hot shingles are by definition few distinct
    * values, so hot(doc) arrays stay small and their join rides along
    * as two cheap key joins on the pair table. The only approximation
    * is candidate discovery: a pair sharing ONLY >maxDf boilerplate
    * shingles is not surfaced — at tau-level overlap that means both
    * docs are almost entirely boilerplate; raise maxDf if that case
    * matters.
    */
  def ngramJaccardPairs(docs: DataFrame, tau: Double, n: Int = 3,
      maxDf: Long = 1000L): DataFrame =
    ngramJaccardPairsOf(shingles(docs, n).cache(), tau, maxDf)

  /** [[ngramJaccardPairs]] over a pre-shingled (ideally cached /
    * memoised) `sh` table — lets callers share one shingle pass across
    * d02/d03 instead of each re-tokenizing (see TextQueries.dfCache).
    */
  def ngramJaccardPairsOf(sh: DataFrame, tau: Double,
      maxDf: Long = 1000L): DataFrame = {
    // the final plan consumes the exploded index FOUR times (df agg,
    // hot-doc agg, both self-join sides); materialise it once —
    // localCheckpoint blocks are freed by the ContextCleaner when the
    // plan is GC'd, so nothing stays pinned across invocations.
    // Shingles are keyed by xxhash64 — an 8-byte long instead of a
    // ~n-gram-sized string through all four shuffles. Intersection
    // counts are unchanged unless two DISTINCT shingles of the same
    // doc pair collide at 64 bits (~n_distinct^2 / 2^65 — negligible
    // even at 10^9 distinct shingles), so d02 stays byte-equal to the
    // exact string-keyed jaccard oracle.
    val inv = sh.select(col("doc_id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("s_raw"))
      .select(col("doc_id"), col("n_sh"), xxhash64(col("s_raw")).as("s"))
      .localCheckpoint(true)
    // no .cache(): both consumers (keep, hot) sit in ONE final plan,
    // so the agg's exchange is shared by ReuseExchange without pinning
    // executor storage across invocations
    val dfTab = inv.groupBy("s").agg(count(lit(1)).as("df"))
    val keep = dfTab.filter(col("df") >= 2 && col("df") <= maxDf).select("s")
    val hot = dfTab.filter(col("df") > maxDf).select("s")
    // no hard broadcast hint: |hot| is bounded by occurrences/maxDf —
    // tiny on Zipfian corpora (and every local SF auto-broadcasts it)
    // but linear in corpus size in the worst case, so the planner
    // must stay free to shuffle-join it at scale
    val hotDoc = inv.join(hot, "s")
      .groupBy("doc_id").agg(sort_array(collect_set("s")).as("hot_sh"))
    val capped = inv.join(keep, "s")
    val a = capped.select(col("s"), col("doc_id").as("doc_a"),
      col("n_sh").as("n_a"))
    val b = capped.select(col("s"), col("doc_id").as("doc_b"),
      col("n_sh").as("n_b"))
    val none = typedLit(Seq.empty[Long])
    a.join(b, "s")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b", "n_a", "n_b")
      .agg(count(lit(1)).as("inter_capped"))
      .join(hotDoc.select(col("doc_id").as("doc_a"),
        col("hot_sh").as("hot_a")), Seq("doc_a"), "left")
      .join(hotDoc.select(col("doc_id").as("doc_b"),
        col("hot_sh").as("hot_b")), Seq("doc_b"), "left")
      .withColumn("inter", col("inter_capped") +
        size(array_intersect(coalesce(col("hot_a"), none),
          coalesce(col("hot_b"), none))))
      .withColumn("jac", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jac") >= tau)
      .select("doc_a", "doc_b")
  }

  /** MinHash signature array column `sigs` via the fused one-pass
    * MinHashSigs expression (seeded, reproducible). Element hashes use
    * the oracle-replicable tokenHash60 so downstream signatures (and
    * anything derived from them) stay DuckDB-checkable.
    */
  def minhashSignatures(sh: DataFrame, numHashes: Int, seed: Long): DataFrame =
    sh.withColumn("sigs",
      minhash_sigs(token_hashes(col("sh")), numHashes, seed))

  /** d03: MinHash + banded LSH candidates, verified against the exact
    * shingle jaccard. bands x rowsPerBand signatures; candidate pairs
    * collide on at least one full band. The shuffle key is
    * (band, band-hash) — tiny — and verification only touches
    * candidate pairs.
    */
  def minhashLsh(
      docs: DataFrame,
      tau: Double,
      bands: Int = 8,
      rowsPerBand: Int = 8,
      seed: Long = 42L): DataFrame =
    minhashLshOf(shingles(docs).cache(), tau, bands, rowsPerBand, seed)

  /** [[minhashLsh]] over a pre-shingled `sh` table (shared with d02). */
  def minhashLshOf(
      sh: DataFrame,
      tau: Double,
      bands: Int = 8,
      rowsPerBand: Int = 8,
      seed: Long = 42L): DataFrame = {
    val h = bands * rowsPerBand
    val sig = minhashSignatures(sh, h, seed)
    // one signature pass, bands exploded from it — unioning per-band
    // selects would recompute the signatures once per band; the
    // banded table feeds BOTH self-join sides, so materialise it once
    // (h minhash evaluations per doc are the expensive part)
    val banded = sig.select(col("doc_id"), posexplode(expr(
      s"transform(sequence(0, ${bands - 1}), " +
        s"b -> xxhash64(slice(sigs, b * $rowsPerBand + 1, $rowsPerBand)))"))
      .as(Seq("band", "bucket")))
      .localCheckpoint(true)
    val candA = banded.toDF("doc_a", "band", "bucket")
    val candB = banded.toDF("doc_b", "band", "bucket")
    val cands = candA.join(candB, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    // verify candidates with the exact jaccard
    val withSets = cands
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
    withSets
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jac", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      .filter(col("jac") >= tau)
      .select("doc_a", "doc_b")
  }

  /** 60-bit SimHash over token hashes: bit j of the signature is the
    * sign of sum_t (+1/-1 by bit j of tokenHash60(t)) — fused one-pass
    * kernel (SimHash64; bits 60-63 of the 64-bit loop are always 0
    * because the token hash is < 2^60).
    */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      simhash64(token_hashes(split(col("text"), " "))).as("simhash"))

  /** d04: near-dup pairs with simhash hamming distance <= maxDist,
    * candidates via 4x15-bit band buckets (a pair within distance 3
    * must agree on >=1 band).
    */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame =
    simhashPairsOf(simhash(docs).cache(), maxDist)

  /** [[simhashPairs]] over a precomputed (doc_id, simhash) table. */
  def simhashPairsOf(sig: DataFrame, maxDist: Int = 3): DataFrame = {
    // 4 bands only guarantee a clean band for distance <= 3 (pigeonhole);
    // a larger maxDist would silently under-recall, so refuse it.
    require(maxDist >= 0 && maxDist < 4,
      s"simhashPairs with 4 bands is exact only for maxDist <= 3, got $maxDist")
    val banded = (0 until 4).map { bnd =>
      sig.select(col("doc_id"), col("simhash"), lit(bnd).as("band"),
        expr(s"(simhash >> ${bnd * 15}) & 32767").as("bucket"))
    }.reduceLeft(_ unionAll _)
    // verify INSIDE the bucket join, before distinct: signatures ride
    // along (8 bytes), so hot buckets (corpora with shared vocabulary
    // bias the sign bits) stream their candidate pairs through the
    // hamming filter instead of shuffling them all into a distinct —
    // the distinct then only sees true pairs x bands, not the
    // quadratic bucket blowup.
    banded.select(col("doc_id").as("doc_a"), col("simhash").as("ha"),
        col("band"), col("bucket"))
      .join(banded.select(col("doc_id").as("doc_b"), col("simhash").as("hb"),
        col("band"), col("bucket")), Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b") &&
        bit_count(col("ha").bitwiseXOR(col("hb"))) <= maxDist)
      .select("doc_a", "doc_b").distinct()
  }

  /** Approximate embedding near-dup pairs via RHP sign-band bucketing
    * — the sub-quadratic path for the HIGH-tau regime (true near-dups,
    * tau >= ~0.9), where [[embeddingNearDups]]' exact O(N^2) scan is
    * overkill: vectors that agree on all nBits sign bits of some table
    * collide, candidates are verified with the exact cosine INSIDE the
    * bucket join (d04's shape — only true pairs reach the distinct),
    * so precision is 1.0 and recall is 1 - (1 - p^b)^t with
    * p = 1 - theta/pi. At tau=0.95 (p≈0.90), 8 tables x 8 bits give
    * ~97% recall per pair; do NOT use this near tau=0.5, where the
    * math degenerates (measured on this corpus: qualifying pairs at
    * cos 0.4501 — p^b vanishes and candidate volume exceeds N^2).
    */
  def embeddingNearDupsLsh(emb: DataFrame, tau: Double, model: LshRhp.Model,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    val bk = LshRhp.buckets(e, "id", "v", model)
      .join(e, "id")
    val a = bk.select(col("table"), col("bucket"),
      col("id").as("id_a"), col("v").as("va"))
    val b = bk.select(col("table"), col("bucket"),
      col("id").as("id_b"), col("v").as("vb"))
    a.join(b, Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b") &&
        vec_cosine_sim(col("va"), col("vb")) >= tau)
      .select("id_a", "id_b").distinct()
  }

  /** t08: benchmark decontamination — the cross-set twin of d02.
    * Training corpora must drop documents that overlap an EVAL set
    * (published benchmarks leak into web scrapes); the standard test
    * is shared word n-grams above a small threshold (real pipelines
    * use 13-grams; `sh` carries whatever n the caller shingled with).
    *
    * Shape at 100 TB: the eval side is BOUNDED by construction (a
    * benchmark suite is fixed-size, not corpus-sized), so its exploded
    * inverted index is broadcast and the corpus side streams through a
    * map-side hash join — no shuffle of corpus shingles at all; the
    * only shuffle is the (doc, eval_doc) candidate aggregation, whose
    * volume is capped by matches against the bounded eval vocabulary,
    * not by corpus size. Contrast d02, where both sides are
    * corpus-sized and need the df-capped self-join.
    */
  def crossOverlap(sh: DataFrame, isEval: Column, minShared: Long): DataFrame = {
    val inv = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val ev = inv.filter(isEval)
      .select(col("doc_id").as("eval_id"), col("s"))
    // sh arrays are distinct per doc, so co-occurrence count ==
    // |shingles(doc) ∩ shingles(eval_doc)| exactly
    inv.filter(!isEval)
      .join(broadcast(ev), "s")
      .groupBy("doc_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** d06: near-dup PAIRS → dedup CLUSTERS. A pair list alone can't
    * drive deduplication — transitive near-dups (A~B, B~C) must
    * collapse into ONE surviving document — so the pipeline step after
    * any of d02-d05 is connected components over the pair graph.
    * Returns (doc_id, cluster_id) for every doc appearing in a pair,
    * cluster_id = the smallest doc id reachable from it (the canonical
    * survivor; docs absent from `pairs` are their own singleton
    * cluster and are omitted, as nothing needs deduplicating).
    *
    * Algorithm: min-label propagation — labels start as min(self,
    * neighbors) and each round takes the min of neighbors' labels; a
    * round is one shuffle join on node ids + an agg, lineage cut per
    * round. Rounds needed = cluster diameter, and near-dup clusters
    * are dense (shared content ⇒ most pairs present ⇒ diameter 2-3),
    * so this converges in a handful of rounds at any corpus size —
    * the same plan a large-star/small-star implementation reaches,
    * without its re-pointing bookkeeping. Convergence is a fixpoint of
    * the graph (iteration count doesn't affect the result), which is
    * what lets a recursive-CTE oracle replicate it.
    */
  def connectedComponents(pairs: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b",
      localRows: Long = 1L << 16): DataFrame = {
    val fwd = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    // Driver-resident union-find for sub-bound pair sets: the
    // min-label propagation below CONVERGES to "every node labelled
    // with its component's minimum id" — an algorithm-independent
    // fixpoint a local union-find computes identically, with zero
    // per-round jobs (gate-scale dedup pair sets are a few hundred
    // rows; each propagation round was a join + agg + checkpoint +
    // convergence count). Above the bound — any corpus-scale dedup —
    // the distributed rounds below run unchanged; localRows = 0
    // forces them (spec-gated identical).
    // One limited collect picks the path and, below the bound, is the
    // union-find's input; above it the distributed rounds read `pairs` again.
    require(localRows >= 0 && localRows <= DriverPairBudget,
      s"localRows $localRows is outside the driver budget [0, $DriverPairBudget]")
    val head =
      if (localRows == 0) Array.empty[org.apache.spark.sql.Row]
      else fwd.limit(localRows.toInt + 1).collect()
    if (localRows > 0 && head.length <= localRows) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val es = head.map(r => (r.getLong(0), r.getLong(1)))
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x
        while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      def add(x: Long): Unit =
        if (!parent.containsKey(x)) parent.put(x, x): Unit
      es.foreach { case (a, b) =>
        add(a); add(b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent.put(ra, rb): Unit
      }
      val minOf = new java.util.HashMap[Long, Long]()
      val nodes = parent.keySet().toArray(Array.empty[java.lang.Long])
      nodes.foreach { n =>
        val r = find(n)
        val cur = minOf.getOrDefault(r, Long.MaxValue)
        if (n < cur) minOf.put(r, n.longValue()): Unit
      }
      return nodes.map(n => (n.longValue(), minOf.get(find(n)).longValue()))
        .toSeq.toDF("doc_id", "cluster_id")
    }
    // undirected edges + a self-loop per node: the self-loop folds a
    // node's own label into the same neighbor-min aggregation
    val und = fwd
      .unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .unionAll(fwd.select(col("src"), col("src").as("dst")))
      .unionAll(fwd.select(col("dst").as("src"), col("dst").as("dst")))
      .distinct()
      .localCheckpoint(true)
    var labels = und.groupBy("src").agg(min("dst").as("comp"))
      .localCheckpoint(true)
    var changed = 1L
    while (changed > 0) {
      // prev rides the same aggregation (the self-loop row dst == src
      // carries the node's own current label), so the convergence
      // check is a memory-scan count instead of a second join
      val next = und
        .join(labels.select(col("src").as("dst"), col("comp")), "dst")
        .groupBy("src").agg(min("comp").as("comp"),
          min(when(col("dst") === col("src"), col("comp"))).as("prev"))
        .localCheckpoint(true)
      changed = next.filter(col("comp") =!= col("prev")).count()
      labels = next.select("src", "comp")
    }
    labels.select(col("src").as("doc_id"), col("comp").as("cluster_id"))
  }

  /** t13: character-level EXACT-substring decontamination (the GPT-3
    * appendix-C rule: an eval example leaks if any `winLen`-char
    * substring of it appears verbatim in a training document) — the
    * char-granularity twin of [[crossOverlap]]'s word n-grams, needed
    * because token-level checks miss matches across whitespace/
    * punctuation drift while raw characters don't.
    *
    * corpus: (doc_id, text); evalDocs: (eval_id, text). Returns
    * (doc_id, eval_id, n_windows) = distinct winLen-char eval windows
    * appearing verbatim anywhere in the corpus doc.
    *
    * Shape at 100 TB: the eval side is bounded (a benchmark suite),
    * so its distinct window set broadcasts; the corpus side computes
    * per-position rolling hashes SCAN-LOCALLY (rolling_hash_windows —
    * 8 bytes per position, never a winLen-char substring copy) and
    * only candidate hits — rare by construction — rejoin the corpus
    * text on doc_id for EXACT substring verification, so the hash is
    * a pure prefilter and its width affects candidate volume, never
    * the result.
    */
  def exactSubstringOverlap(corpus: DataFrame, evalDocs: DataFrame,
      winLen: Int): DataFrame = {
    val b = 1000003L
    val evalW = evalDocs
      .select(col("eval_id"), col("text"),
        posexplode(rolling_hash_windows(col("text"), winLen, b)))
      .select(col("eval_id"), col("col").as("h"),
        col("text").substr(col("pos") + 1, lit(winLen)).as("w"))
      .distinct()
    val ch = corpus
      .select(col("doc_id"),
        posexplode(rolling_hash_windows(col("text"), winLen, b)))
      .select(col("doc_id"), col("pos"), col("col").as("h"))
    val cand = ch.join(broadcast(evalW), "h")
      .localCheckpoint(true) // rare by construction; sized below
    // verification needs the candidate docs' text only — semi-filter
    // the corpus scan by the (tiny, materialised) candidate id set so
    // the text fetch is map-side and proportional to candidates, not
    // a full-corpus text shuffle. The candidate set is bounded by
    // docs overlapping the bounded eval suite, the same contract that
    // lets evalW broadcast.
    val candDocs = cand.select("doc_id").distinct()
    val candText = corpus.join(broadcast(candDocs), Seq("doc_id"),
      "left_semi").select(col("doc_id"), col("text"))
    cand.join(candText, "doc_id")
      .filter(col("text").substr(col("pos") + 1, lit(winLen)) === col("w"))
      .groupBy("doc_id", "eval_id")
      .agg(countDistinct(col("w")).as("n_windows"))
  }

  /** d09: SEGMENT-level boilerplate dedup — the within-document leg
    * of production curation (C4 drops any line occurring ≥ 3 times in
    * the corpus; CCNet/RefinedWeb dedup at paragraph granularity).
    * Documents are cut into non-overlapping `segTokens`-token
    * segments scan-locally; a segment whose exact text occurs at
    * least `minOcc` times corpus-wide is boilerplate and is stripped.
    * Returns per doc: segment counts and the md5 of the kept segments
    * rejoined in order — the cleaned document's identity.
    *
    * Shape at 100 TB: segmenting is scan-local (one `transform` over
    * the token array, no shuffle); the occurrence flag is a
    * groupBy(seg) count — map-side partial combine, so a hot segment
    * contributes ONE partial row per upstream task — joined back to
    * the segment stream with t14's Zipf-head split. The hot segment
    * is d09's COMMON case, not its pathological one: C4-style
    * boilerplate (a cookie banner in 10% of a 100 TB corpus) is
    * billions of occurrences of one key, and the count-window
    * formulation this replaced funneled all of them through one
    * unsplittable window partition (AQE cannot split a window
    * partition; it CAN split the join's skewed shuffle). The top-
    * [[hotF]] most frequent segments (provably <= hotF rows) join via
    * broadcast — boilerplate mass never reaches an exchange; every
    * residual key has cnt <= total/hotF with a 1-row build side,
    * exactly the shape AQE skew-join splits. The boilerplate SET is
    * never broadcast whole (NOT guaranteed small: a corpus with
    * planted repeats at minOcc=2 makes it O(corpus) distinct strings)
    * — only the bounded head is. The rebuild agg shuffles doc-keyed
    * rows once. Nothing is ever quadratic and no full text travels
    * except doc-keyed segments.
    */
  def segmentBoilerplate(docs: DataFrame, segTokens: Int = 3,
      minOcc: Long = 3L, hotF: Int = 65536): DataFrame = {
    val seg = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= segTokens)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, size(t) div $segTokens - 1),
           |  i -> concat_ws(' ', slice(t, i * $segTokens + 1, $segTokens)))"""
          .stripMargin)))
      .select(col("doc_id"), col("pos").as("idx"), col("col").as("seg"))
    // counts is DELIBERATELY re-evaluated at its two consumers (the
    // hot-head TakeOrdered below and the cold-side join): caching it
    // would pin O(distinct segments) rows — unbounded at corpus scale
    // — for the whole query, while the recompute costs one extra
    // scan-local segment pass + map-side-combined agg, both
    // embarrassingly parallel. Scan twice, never hold.
    val counts = seg.groupBy("seg").agg(count(lit(1)).as("cnt"))
    // deterministic head boundary + ONE materialisation feeding both
    // join sites (t14's lesson: two tie-arbitrary limit() evaluations
    // can disagree on boundary membership under task retry)
    val hot = counts.orderBy(col("cnt").desc, col("seg")).limit(hotF)
      .localCheckpoint(true)
    // head occurrences are anti-joined out BEFORE the cold shuffle;
    // the cold side joins the FULL counts (surviving rows can't carry
    // a head segment, and every segment has a count row, so the join
    // is effectively inner)
    seg.join(broadcast(hot), "seg")
      .select(col("doc_id"), col("idx"), col("seg"), col("cnt"))
      .unionByName(seg
        .join(broadcast(hot.select("seg")), Seq("seg"), "left_anti")
        .join(counts, Seq("seg"), "left")
        .select(col("doc_id"), col("idx"), col("seg"),
          coalesce(col("cnt"), lit(0L)).as("cnt")))
      .withColumn("bp", col("cnt") >= minOcc)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("bp"), 1L).otherwise(0L)).as("n_boilerplate"),
        md5(array_join(transform(
          array_sort(collect_list(when(!col("bp"),
            struct(col("idx"), col("seg"))))),
          s => s.getField("seg")), " ")).as("kept_hash"))
  }

  /** d10: SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    * dedup via CLUSTER-bucketed embedding similarity: spherical
    * k-means buckets (assignment by max cosine — scale-invariant, so
    * a rescaled copy provably lands in its original's cluster),
    * within-cluster cosine-≥-tau pair graph, connected components,
    * and the paper's keep rule: from each duplicate group keep the
    * member with the LOWEST cosine to its cluster centroid (the
    * "outlier" — the paper's diversity-preserving choice), ties by
    * id. The published method's bucket structure is the k-means
    * cell — d08's LSH bands are the hash-bucket alternative.
    *
    * Returns (component, survivor_id, n_members) per duplicate group
    * (component = min reachable id, like d06).
    *
    * Shape at 100 TB: centroids broadcast; assignment scan-local;
    * the pair scan is an equi-join on cluster — in-cluster all-pairs
    * is SemDeDup's own O(sum n_c^2) design, bounded by choosing
    * nlist so cells stay task-sized (the paper uses 50k clusters for
    * LAION); a skew-heavy cell can additionally take d05's blocked
    * grid WITHIN the cell. Components converge in diameter rounds
    * (dense near-dup groups: 2-3).
    */
  def semDedup(emb: DataFrame, cents: Array[Array[Double]], tau: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // assignment = broadcast centroid join + per-row argmax, not a
    // centroid literal in the expression tree: nlist is a SCALE knob
    // here (the paper uses 50k clusters — cells must stay task-sized
    // for the pair scan), and a 50k-array literal would sink codegen.
    // min(struct(-cos, cluster)) == (cos DESC, cluster ASC), the
    // oracle's tie-break; the partial min collapses the n x nlist
    // scored rows map-side, so the shuffle carries n rows.
    val centsDf = cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("cluster", "cv")
    val assigned = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .crossJoin(broadcast(centsDf))
      .select(col("id"), col("v"),
        struct(negate(vec_cosine_sim(col("v"), col("cv"))).as("ncs"),
          col("cluster")).as("w"))
      .groupBy("id")
      .agg(min(col("w")).as("w"), first(col("v")).as("v"))
      .select(col("id"), col("v"), col("w.cluster").as("cluster"),
        negate(col("w.ncs")).as("cent_sim"))
      .localCheckpoint(true) // consumed 3x: both pair sides + keep rule
    val a = assigned.select(col("cluster"), col("id").as("doc_a"),
      col("v").as("va"))
    val b = assigned.select(col("cluster"), col("id").as("doc_b"),
      col("v").as("vb"))
    val pairs = a.join(b, "cluster")
      .filter(col("doc_a") < col("doc_b") &&
        vec_cosine_sim(col("va"), col("vb")) >= tau)
      .select("doc_a", "doc_b")
    val comps = connectedComponents(pairs)
      .select(col("doc_id").as("id"), col("cluster_id").as("component"))
    comps.join(assigned.select(col("id"), col("cent_sim")), "id")
      .groupBy("component")
      .agg(min(struct(col("cent_sim"), col("id"))).as("w"),
        count(lit(1)).as("n_members"))
      .select(col("component"), col("w.id").as("survivor_id"),
        col("n_members"))
  }

  /** d05: embedding-cosine near-dup pairs, EXACT, via a block-grid
    * self-join (the distributed triangle join): rows are hashed into
    * `nb` blocks, each unordered block pair (i <= j) is one equi-join
    * key, each row is emitted once per pair containing its block, and
    * the cosine is verified inside the join. Properties at 100 TB:
    *
    *  - No CartesianProduct / BroadcastNestedLoopJoin node: the plan is
    *    a shuffled equi-join on (bi, bj), so work spreads evenly over
    *    nb*(nb+1)/2 keys and per-task memory is bounded by two blocks
    *    (`blockRows` vectors each), independent of N.
    *  - Shuffle volume is N*(nb+1) vector copies — the communication
    *    floor of an exact all-pairs join; pick blockRows to trade
    *    shuffle against per-task compute (B^2 pair evaluations).
    *  - The O(N^2) distance evaluations are INHERENT to exactness at a
    *    low threshold. Measured on this corpus (sf0.1): qualifying
    *    pairs sit at cos 0.4501 vs tau 0.45 with a continuum below —
    *    zero margin — so RHP sign-band bucketing cannot reach recall
    *    1.0, and at a 63° threshold per-band collision probability is
    *    so high that LSH candidate volume exceeds N^2 (2-bit bands x
    *    24 tables ≈ 6*N^2 candidates). LSH is the right tool only for
    *    high-tau near-dup regimes; for the exact-pairs semantics the
    *    reference implies (distance.py:32-47) this blocked join is the
    *    scale path.
    */
  def embeddingNearDups(emb: DataFrame, tau: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      blockRows: Int = 8192): DataFrame = {
    val p = emb.sparkSession.sessionState.conf.numShufflePartitions
    // the pair set is identical for any grid; at least ~2*P keys of
    // parallelism even for small inputs
    val nb = KnnSearch.gridBlocks(emb, blockRows,
      math.ceil(math.sqrt(2.0 * p)).toInt)
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      pmod(xxhash64(col(idCol)), lit(nb)).cast("int").as("blk"))
    // row in block b joins as the "a" side for keys (b, j>=b) and as
    // the "b" side for keys (i<=b, b). An off-diagonal key (i < j)
    // sees each cross-block pair exactly once — in block order, not id
    // order — so those all pass and are canonicalised below; only the
    // diagonal (i == j) sees both orientations and needs id_a < id_b.
    val lhs = e.select(col("id").as("id_a"), col("v").as("va"),
      col("blk").as("bi"),
      explode(expr(s"sequence(blk, ${nb - 1})")).as("bj"))
    val rhs = e.select(col("id").as("id_b"), col("v").as("vb"),
      explode(expr("sequence(0, blk)")).as("bi"),
      col("blk").as("bj"))
    lhs.join(rhs, Seq("bi", "bj"))
      .filter((col("bi") < col("bj") || col("id_a") < col("id_b")) &&
        vec_cosine_sim(col("va"), col("vb")) >= tau)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
  }
}
