package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Gates the Verify dump's ROBUSTNESS contract itself (the round-10
  * lesson: an un-gated dump silently returned an empty correctness
  * record once the suite outgrew its wall budget):
  *   - oracle_sql.json lands complete (every oracle, not just the
  *     shard's) and parses as JSON;
  *   - errors.json always exists, parses, and is empty on a green
  *     shard;
  *   - each sharded query lands a readable parquet dir.
  * Runs the real [[Verify.run]] body (pooled dump, incremental error
  * flush) against sf0.001 with a 2-query shard — cheap enough for
  * every `sbt test`.
  */
class VerifySpec extends AnyFunSuite {
  import TestSpark._

  test("sharded Verify dump: parseable oracle_sql.json + errors.json, parquet per query") {
    val out = Files.createTempDirectory("graft_verify_spec").toString
    val shard = "(a01_pricing_agg|s03_orc_ingest)"
    assert(Verify.run(spark, "/root/testdata/sf0.001", out, Some(shard))
      .isEmpty)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val oracle = om.readTree(Files.readString(Paths.get(s"$out/oracle_sql.json")))
    assert(oracle.isObject, "oracle_sql.json is not a JSON object")
    // the oracle map is written FIRST and UNSHARDED — a budget-killed
    // dump must still leave every already-dumped query comparable
    assert(oracle.size() == SparkEntry.oracleSql.size,
      s"oracle_sql.json has ${oracle.size()} of ${SparkEntry.oracleSql.size}")
    assert(oracle.has("a01_pricing_agg") && oracle.has("q20_ivf_flat"))
    val errs = om.readTree(Files.readString(Paths.get(s"$out/errors.json")))
    assert(errs.isObject && errs.size() == 0,
      s"green shard left errors.json: $errs")
    Seq("a01_pricing_agg", "s03_orc_ingest").foreach { q =>
      val files = new java.io.File(s"$out/$q").listFiles()
      assert(files != null && files.exists(_.getName.endsWith(".parquet")),
        s"no parquet landed for $q")
      assert(spark.read.parquet(s"$out/$q").count() > 0, s"$q dump empty")
    }
  }

  test("an errored entry is returned and written to errors.json") {
    val out = Files.createTempDirectory("graft_verify_err").toString
    val missing = Files.createTempDirectory("graft_verify_nosf")
      .resolve("absent").toString
    val errored = Verify.run(spark, missing, out, Some("^a01_pricing_agg$"))
    assert(errored == Seq("a01_pricing_agg"))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val errs = om.readTree(Files.readString(Paths.get(s"$out/errors.json")))
    assert(errs.size() == 1 && errs.has("a01_pricing_agg"),
      s"errors.json does not name the failed entry: $errs")
  }
}
