package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TextSources

class SourcesSpec extends AnyFunSuite {
  import TestSpark._

  test("jsonl round-trip is content-faithful") {
    val docs = Tables.documents(spark, sf)
    val p = java.nio.file.Files.createTempDirectory("graft_jsonl_t").toString
    try {
      TextSources.writeJsonl(docs, p)
      val back = TextSources.readJsonl(spark, p, docs.schema)
      assert(back.count() == docs.count())
      val a = docs.select(col("doc_id"), md5(col("text"))).collect().toSet
      val b = back.select(col("doc_id"), md5(col("text"))).collect().toSet
      assert(a == b)
    } finally graft.streaming.Checkpoints.deleteRecursively(p)
  }

  test("jsonl reader: corrupt lines null out PERMISSIVE, fail FAILFAST") {
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val dir = java.nio.file.Files.createTempDirectory("graft_bad_jsonl")
    try {
      java.nio.file.Files.writeString(dir.resolve("part.json"),
        """{"doc_id": 1, "text": "ok"}
          |this is not json
          |{"doc_id": 2, "text": "also ok"}
          |""".stripMargin)
      val permissive = TextSources.readJsonl(spark, dir.toString, schema)
      assert(permissive.count() == 3)
      assert(permissive.filter(col("doc_id").isNull).count() == 1)
      val strict = TextSources.readJsonl(spark, dir.toString, schema,
        mode = "FAILFAST")
      assertThrows[org.apache.spark.SparkException](strict.collect())
    } finally
      graft.streaming.Checkpoints.deleteRecursively(dir.toString)
  }

  test("s04 binaryFile ingest: real files on disk, glob-pruned, decoded") {
    val docs = Tables.documents(spark, sf).limit(20)
    val p = java.nio.file.Files.createTempDirectory("graft_imgdir").toString
    try {
      graft.sources.BinarySources.writeImageFiles(docs, p)
      // a non-matching file the glob must prune at listing time
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p, "README.txt"), "not an image")
      val files = new java.io.File(p).listFiles()
      assert(files.count(_.getName.endsWith(".png")) == 20)
      val back = graft.sources.BinarySources.readImageDir(spark, p)
      assert(back.count() == 20)
      val stats = graft.operators.Multimodal.decodeImageStats(back).collect()
      stats.foreach { r =>
        val id = r.getLong(0)
        val want = (0 until 256).map(i => (id * 31 + i * 7) % 256).sum
        assert(r.getLong(3) == want, s"r_sum mismatch doc $id")
      }
    } finally
      graft.streaming.Checkpoints.deleteRecursively(p)
  }

  test("csv round-trip preserves longs and doubles exactly") {
    val evRaw = Tables.events(spark, sf)
    val ev = evRaw
      .select(col("event_id"), EventTime.tsUs(evRaw).as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
    val p = java.nio.file.Files.createTempDirectory("graft_csv_t").toString
    try {
      TextSources.writeCsv(ev, p)
      val back = TextSources.readCsv(spark, p, ev.schema)
      // summing epoch-µs can overflow long; min/max + cent-sum pin the
      // round-trip just as tightly
      val fid = Seq(min(col("ts_us")), max(col("ts_us")),
        sum(round(col("value") * 100).cast("long")))
      val a = ev.agg(fid.head, fid.tail: _*).head()
      val b = back.agg(fid.head, fid.tail: _*).head()
      assert(a == b)
      assert(back.count() == ev.count())
    } finally graft.streaming.Checkpoints.deleteRecursively(p)
  }
}
