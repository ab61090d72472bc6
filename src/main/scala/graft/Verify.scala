package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Robustness contract (round 10's CORRECTNESS record came back as an
  * empty `{}` after the suite grew to 101 entries):
  *   - oracle_sql.json lands FIRST, before any query runs — if a
  *     wall-clock budget kills the dump midway, everything already
  *     dumped is still comparable (truncation, not a zeroed round);
  *   - errors.json is rewritten after every failure, not once at exit;
  *   - any errored entry makes the process exit 1, after the pool has
  *     shut down and errors.json names it;
  *   - queries dump on a small worker pool (each is an independent
  *     Spark job; temp dirs, memory-sink names and model caches are
  *     all unique-or-concurrent-safe), cutting the dump wall so more
  *     of any driver budget is left for the DuckDB compare.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.create(appName = "graft-verify")
    val errored =
      try run(spark, args(0), args(1),
        if (args.length > 2) Some(args(2)) else None)
      finally spark.stop()
    if (errored.nonEmpty) {
      System.err.println(s"[verify] ${errored.size} entries errored: " +
        errored.mkString(", "))
      sys.exit(1)
    }
  }

  /** The dump body, session-in / session-out — callable from specs
    * (VerifySpec gates the robustness contract itself: oracle_sql
    * lands first, errors.json always exists and parses) without the
    * main()'s session stop killing the shared test session.
    *
    * `shard`: only dump queries whose name matches the regex
    * (iteration aid; the driver always calls with two args).
    *
    * Returns the names of the entries that errored, sorted — the same
    * keys errors.json holds.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      shard: Option[String]): Seq[String] = {
    val keep: String => Boolean =
      shard.map(r => (n: String) => r.r.findFirstIn(n).isDefined)
        .getOrElse(_ => true)
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def writeJson(path: String, kv: Iterable[(String, String)]): Unit =
      Files.writeString(Paths.get(path),
        kv.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    writeJson(s"$outDir/oracle_sql.json", SparkEntry.oracleSql)
    // a throwing query must leave a driver-visible artifact: a
    // stderr-only failure once made 11 entries silently vanish from
    // two rounds of CORRECTNESS reports
    val errors = scala.collection.concurrent.TrieMap.empty[String, String]
    // flush must never throw out of a worker's catch block: an IO
    // failure here would propagate through get() below and skip the
    // pool shutdown, leaving non-daemon threads pinning the JVM
    def flushErrors(): Unit = errors.synchronized {
      try writeJson(s"$outDir/errors.json", errors.toSeq.sortBy(_._1))
      catch { case e: Throwable =>
        System.err.println(s"[verify] errors.json write failed: $e")
      }
    }
    flushErrors()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val tasks = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => keep(kv._1)).map { case (name, fn) =>
        pool.submit(new Runnable {
          def run(): Unit =
            try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            catch { case e: Throwable =>
              System.err.println(s"[verify] $name failed: ${e.getMessage}")
              errors(name) =
                s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
              flushErrors()
            }
        })
      }
    // finally-guarded: whatever a task throws, the pool's non-daemon
    // threads must not outlive the dump (a hung JVM here burns the
    // driver's whole wall-clock budget before its external timeout)
    try tasks.foreach(_.get())
    finally pool.shutdownNow()
    errors.keys.toSeq.sorted
  }
}
