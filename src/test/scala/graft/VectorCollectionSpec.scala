package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{KnnSearch, VecMetric, VectorCollection}

class VectorCollectionSpec extends AnyFunSuite {
  import TestSpark._

  private def embBase = Tables.embeddings(spark, sf)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))

  private def freshCollection(): VectorCollection =
    new VectorCollection(spark, embBase)

  test("reference serving surface: index, query, CRUD, num_entities") {
    import spark.implicits._
    val coll = freshCollection()
    val n0 = coll.numEntities
    assert(n0 > 0)
    coll.createIndex()

    // single query: nearest neighbor of an existing vector is itself
    val v0 = Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val res = coll.query(v0, 5)
    assert(res.head == 0L)
    assert(res.length == 5)

    // insert a duplicate of vector 0 under a new id: it becomes a
    // distance-0 neighbor without any index rebuild
    coll.insert(Seq((999999L, v0)).toDF("id", "vec"))
    assert(coll.numEntities == n0 + 1)
    val res2 = coll.query(v0, 5)
    assert(res2.take(2).toSet == Set(0L, 999999L))

    // delete the original: only the copy remains at distance 0
    coll.delete(Seq(0L).toDF("id"))
    assert(coll.numEntities == n0)
    val res3 = coll.query(v0, 5)
    assert(res3.head == 999999L)
    assert(!res3.contains(0L))

    // filtered query: restrict to ids below 100
    val res4 = coll.query(v0, 5, filterExpr = Some(col("id") < 100))
    assert(res4.forall(_ < 100))

    // batch query over the whole collection shape
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val batch = coll.batchQuery(queries, 3)
    assert(batch.groupBy("query_id").count().count() == 3)

    // per-query compound filter: each query q only accepts ids below
    // its own threshold column
    val fq = queries.withColumn("max_id", (col("query_id") + 1) * 200)
    val fres = coll.batchQueryFiltered(fq, 3, col("id") < col("max_id"))
      .collect()
    assert(fres.nonEmpty)
    fres.foreach { r =>
      val (q, n) = (r.getLong(0), r.getLong(2))
      assert(n < (q + 1) * 200, s"($q,$n) violates its per-query bound")
    }
  }

  test("single-query fast path is bit-identical to a 1-row batchQuery") {
    import spark.implicits._
    // the serving path picks probe cells with DRIVER math
    // (probedQueriesLocal) — it must reproduce the distributed probe
    // selection exactly, for every quantization mode
    val qv = Tables.embeddings(spark, sf).filter(col("vec_id") === 7)
      .select("embedding").head().getSeq[Float](0).toArray
    for (quant <- Seq("none", "sq8", "pq", "pq_aniso")) {
      val metric = if (quant == "pq_aniso") VecMetric.InnerProduct
        else VecMetric.Euclidean
      val coll = new VectorCollection(spark, embBase,
        quantization = quant, metric = metric)
      coll.createIndex()
      val fast = coll.query(qv, 10)
      val batch = coll
        .batchQuery(Seq((0L, qv)).toDF("query_id", "qvec"), 10)
        .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
      assert(fast == batch, s"quant=$quant fast=$fast batch=$batch")
    }
  }

  test("exact serving replica refreshes across mutations (CRUD on quant=none)") {
    import spark.implicits._
    val coll = new VectorCollection(spark, embBase)
    coll.createIndex()
    val v0 = Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    // local serve: self wins at distance 0
    assert(coll.query(v0, 5).head == 0L)
    // a duplicate insert must be visible to the NEXT query (the
    // driver-resident replica re-collects post-mutation)
    coll.insert(Seq((999999L, v0)).toDF("id", "vec"))
    assert(coll.query(v0, 5).take(2).toSet == Set(0L, 999999L))
    coll.delete(Seq(0L).toDF("id"))
    val res = coll.query(v0, 5)
    assert(res.head == 999999L && !res.contains(0L), s"$res")
    // a RE-INDEX after mutations re-samples centroids over the mutated
    // data: the replica must be rebuilt against the NEW clustering
    // (stale cells + new probe math silently returns wrong neighbors)
    coll.createIndex()
    val res2 = coll.query(v0, 5)
    assert(res2.head == 999999L && !res2.contains(0L), s"post-reindex $res2")
    val batch2 = coll
      .batchQuery(Seq((0L, v0)).toDF("query_id", "qvec"), 5)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(res2 == batch2, s"post-reindex fast=$res2 batch=$batch2")
  }

  test("quantized serving: sq8 and pq collections keep the CRUD surface") {
    import spark.implicits._
    for (quant <- Seq("sq8", "pq")) {
      val coll = new VectorCollection(spark, embBase, quantization = quant)
      coll.createIndex()
      val v0 = Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      // sq8 scans dequantized codes (self wins by quantization-error
      // margin); pq reranks the ADC candidates exactly (self at 0)
      val res = coll.query(v0, 5)
      assert(res.head == 0L, s"$quant: $res")
      // a duplicate insert is encoded against the FROZEN model, so it
      // lands with identical codes and ties its twin at the top
      coll.insert(Seq((999999L, v0)).toDF("id", "vec"))
      val res2 = coll.query(v0, 5)
      assert(res2.take(2).toSet == Set(0L, 999999L), s"$quant: $res2")
      coll.delete(Seq(0L).toDF("id"))
      val res3 = coll.query(v0, 5)
      assert(res3.head == 999999L && !res3.contains(0L), s"$quant: $res3")
    }
  }

  test("pq_aniso collection: score-aware MIPS serving, decent recall") {
    import spark.implicits._
    val coll = new VectorCollection(spark, embBase,
      metric = VecMetric.InnerProduct, quantization = "pq_aniso")
    coll.createIndex()
    val queries = embBase.filter(col("id") < 10)
      .select(col("id").as("query_id"), col("vec").as("qvec"))
    val got = coll.batchQuery(queries, 10)
      .select("query_id", "neighbor_id")
    val exact = KnnSearch.bruteForce(embBase, queries, 10,
      VecMetric.InnerProduct).select("query_id", "neighbor_id")
    val recall = got.intersect(exact).count().toDouble / exact.count()
    assert(recall >= 0.5, s"MIPS recall $recall")
    // deletes leave the MIPS results too
    val victim = got.head().getLong(1)
    coll.delete(Seq(victim).toDF("id"))
    assert(coll.batchQuery(queries, 10)
      .filter(col("neighbor_id") === victim).count() == 0)
  }

  test("grouped query: full-probe collection equals the exact operator") {
    val labeled = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        col("label").cast("long").as("grp"))
    // nprobe == nlist: the probed scan covers every cell, so the
    // served grouping search must equal the exact operator bit-for-bit
    val coll = new VectorCollection(spark, labeled, nlist = 8, nprobe = 8)
    coll.createIndex()
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val served = coll.groupedQuery(queries, 4, "grp").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("grp"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = graft.operators.GroupedSearch
      .search(labeled, queries, 4, VecMetric.Euclidean, "grp").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("grp"), r.getAs[Long]("neighbor_id"))).toSet
    assert(served == exact)
    assert(served.groupBy(_._1).forall(_._2.size == 4))

    // partial probe: still well-formed (distinct groups, dense ranks)
    val coll2 = new VectorCollection(spark, labeled, nlist = 8, nprobe = 3)
    coll2.createIndex()
    val part = coll2.groupedQuery(queries, 4, "grp").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("grp")))
    part.groupBy(_._1).values.foreach { rows =>
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.size))
      assert(rows.map(_._3).distinct.size == rows.size)
    }
  }

  test("delete on a collection with attribute columns keeps serving filters") {
    import spark.implicits._
    val corpus = graft.datagen.DataGen.randomFilter(spark, 600, 16, 4,
        nFilters = 1, seed = 3L)
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        col("label_0"))
    val coll = new VectorCollection(spark, corpus, nlist = 4, nprobe = 4)
    coll.createIndex()
    val n0 = coll.numEntities
    val victims = (0L until 600L by 5).toSet
    coll.delete(victims.toSeq.toDF("id"))
    assert(coll.numEntities == n0 - victims.size)
    val low = col("label_0") < 50
    val queries = corpus.filter(col("id") < 10)
      .select(col("id").as("query_id"), col("vec").as("qvec"))
    val got = coll.batchQuery(queries, 10, filterExpr = Some(low))
      .select("neighbor_id").as[Long].collect()
    assert(got.nonEmpty && !got.exists(victims), got.filter(victims).toSeq)
    val v0 = queries.head().getSeq[Float](1).toArray
    val one = coll.query(v0, 10, filterExpr = Some(low))
    assert(one.nonEmpty && !one.exists(victims), one)
  }

  test("mixed writes and a re-index track a plain-Scala model") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextFloat())
    val model = scala.collection.mutable.LinkedHashMap[Long, Array[Float]]()
    embBase.collect().foreach(r =>
      model(r.getLong(0)) = r.getSeq[Float](1).toArray)
    val coll = new VectorCollection(spark, embBase, nlist = 4, nprobe = 4)
    def rows(df: DataFrame) = df.select("query_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue,
        r.getLong(2))).toSet
    def checkSearch(step: String): Unit = {
      val queries = (0 until 5).map(i => (i.toLong, vec()))
        .toDF("query_id", "qvec")
      val exact = KnnSearch.bruteForce(
        model.toSeq.toDF("id", "vec"), queries, 5, VecMetric.Euclidean)
      assert(rows(coll.batchQuery(queries, 5)) == rows(exact), step)
    }
    def write(step: String)(f: => Unit): Unit = {
      f
      assert(coll.numEntities == model.size.toLong, step)
    }
    def upsert(ids: Seq[Long]): DataFrame = {
      val batch = ids.map(id => id -> vec())
      batch.foreach { case (id, v) => model(id) = v }
      batch.toDF("id", "vec")
    }
    def delete(ids: Seq[Long]): DataFrame = {
      ids.foreach(model.remove)
      ids.toDF("id")
    }
    // writes before the index exists land in the plain table
    write("pre-index insert")(coll.insert(upsert(1000L until 1010L)))
    coll.createIndex()
    checkSearch("after createIndex")
    write("insert")(coll.insert(upsert(2000L until 2020L)))
    write("update")(coll.update(upsert((0L until 50L by 3) :+ 2005L)))
    write("delete")(coll.delete(delete((1L until 60L by 4) :+ 2001L)))
    write("absent delete")(coll.delete(delete(Seq(9999L, 2002L))))
    checkSearch("after writes")
    coll.createIndex()
    checkSearch("after re-index")
    write("update after re-index")(coll.update(upsert(Seq(1003L, 3000L))))
    write("delete after re-index")(coll.delete(delete(1000L until 1005L)))
    checkSearch("after re-index writes")
  }

  test("quantization/metric contracts are constructor-enforced") {
    intercept[IllegalArgumentException] {
      new VectorCollection(spark, embBase, quantization = "bogus")
    }
    intercept[IllegalArgumentException] {
      new VectorCollection(spark, embBase, quantization = "pq_aniso")
    }
    intercept[IllegalArgumentException] {
      new VectorCollection(spark, embBase,
        metric = VecMetric.InnerProduct, quantization = "sq8")
    }
  }
}

class PagedQuerySpec extends AnyFunSuite {
  import TestSpark._

  test("pagedQuery at nprobe == nlist equals the full-scan iterator") {
    val base = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val coll = new VectorCollection(spark, base, nlist = 8, nprobe = 8)
    coll.createIndex()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "page", "rank", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          r.getLong(3))).sortBy(t => (t._1, t._3)).toSeq
    val served = rows(coll.pagedQuery(queries, pageSize = 4, nPages = 3))
    val exact = rows(KnnSearch.searchIterator(base, queries,
      pageSize = 4, nPages = 3, VecMetric.Euclidean))
    assert(served == exact,
      "probing every cell must reproduce the full-scan pages verbatim")
  }
}

class RangeQuerySpec extends AnyFunSuite {
  import TestSpark._

  test("rangeQuery at nprobe == nlist equals the exact range search") {
    val base = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val coll = new VectorCollection(spark, base, nlist = 8, nprobe = 8)
    coll.createIndex()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val served = rows(coll.rangeQuery(queries, radius = 1.25))
    val exact = rows(KnnSearch.rangeSearch(base, queries, 1.25,
      VecMetric.Euclidean))
    assert(served == exact && served.nonEmpty)
  }
}

class MultiVectorCollectionSpec extends AnyFunSuite {
  import TestSpark._
  private val sf001 = "/root/testdata/sf0.01"
  import graft.queries.IndexQueries.{MvFields, MvDim}

  private def mvSelect(idCol: String, as: String) =
    (df: org.apache.spark.sql.DataFrame) => df.select(
      Seq(col(idCol).as(as)) ++ (0 until MvFields).map(i =>
        expr(s"slice(embedding, ${i * MvDim + 1}, $MvDim)").as(s"f$i")): _*)

  test("hybrid query through the facade equals gated q49 bit for bit") {
    val emb = Tables.embeddings(spark, sf001)
    val entities = mvSelect("vec_id", "id")(
      emb.filter(graft.queries.Split.isTrain(col("vec_id"))))
    val queries = mvSelect("vec_id", "query_id")(
      emb.filter(graft.queries.Split.isQuery(col("vec_id"), 10)))
    val fields = (0 until MvFields).map(i => s"f$i")
    val mvc = new operators.MultiVectorCollection(spark, entities, fields)
    mvc.createIndex()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getAs[Number]("query_id").longValue,
        r.getAs[Number]("rank").longValue,
        r.getAs[Number]("neighbor_id").longValue)).toSet
    val served = rows(mvc.hybridQuery(queries, 10))
    val gated = rows(SparkEntry.queries("q49_hybrid_index")(spark, sf001))
    assert(served == gated, s"diff ${served.diff(gated).take(5)}")
  }

  test("multi-vector CRUD: inserted duplicate entity tops the hybrid ranking") {
    val emb = Tables.embeddings(spark, sf001)
    val entities = mvSelect("vec_id", "id")(
      emb.filter(graft.queries.Split.isTrain(col("vec_id"))))
    val fields = (0 until MvFields).map(i => s"f$i")
    val mvc = new operators.MultiVectorCollection(spark, entities, fields)
    mvc.createIndex()
    val q = mvSelect("vec_id", "query_id")(
      emb.filter(col("vec_id") === 10)) // a held-out (test-split) row
    // insert the query itself as an entity under a fresh id: every
    // field list ranks it #1 (cosine 1.0), so RRF must fuse it to the top
    mvc.insert(mvSelect("vec_id", "id")(
      emb.filter(col("vec_id") === 10))
      .withColumn("id", lit(777777L)))
    val top = mvc.hybridQuery(q, 3)
      .orderBy("rank").select("neighbor_id").collect().map(_.getLong(0))
    assert(top.head == 777777L, top.mkString(","))
    mvc.delete {
      import spark.implicits._
      Seq(777777L).toDF("id")
    }
    val after = mvc.hybridQuery(q, 3)
      .select("neighbor_id").collect().map(_.getLong(0))
    assert(!after.contains(777777L))
  }
}
