package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Entry point: `perfbench.Main --workload <large|small> --seed <n>
  * --seconds <s> --trace <0|1> --launch-ms <epoch ms> [--out <dir>]`.
  * Prints one JSON result as the last line of standard output; exits 1
  * when a correctness check fails.
  */
object Main {

  /** Unit of every metric the benchmark prints. */
  val EndToEndUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "build_s" -> "s", "exact_qps" -> "queries/s",
    "ivf_qps" -> "queries/s", "recall_at_10" -> "fraction",
    "pq_qps" -> "queries/s", "pq_recall_at_10" -> "fraction",
    "index_mb" -> "MB", "insert_p50_ms" -> "ms", "delete_p50_ms" -> "ms",
    "read_after_write_p50_ms" -> "ms", "dedup_docs_per_s" -> "docs/s")

  def layerUnit(name: String): String =
    if (name.endsWith("_per_s")) "1/s"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_bytes")) "bytes"
    else if (name.endsWith("per_hit")) "ratio"
    else if (name.contains("per_query")) "vectors"
    else "count"

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, {
      System.err.println(s"perfbench: missing $k"); sys.exit(2)
    })
    val tier = Tier.all.find(_.name == opt("--workload")).getOrElse {
      System.err.println(s"perfbench: unknown workload ${opt("--workload")}; " +
        s"known: ${Tier.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val traced = opt("--trace") == "1"
    val launchMs = opt("--launch-ms").toLong
    SelfTest.run()

    val w = new Workload(tier, seed, seconds, traced, launchMs)
    val (correct, why) =
      try { w.run(); (true, "") }
      catch { case e: CheckFailed => (false, e.getMessage) }
      finally w.stop()
    if (!correct) System.err.println(s"perfbench: CHECK FAILED: $why")

    val metrics =
      if (!correct) Seq.empty
      else if (traced) w.layer.toSeq.map { case (n, v) => (n, v, layerUnit(n)) }
      else EndToEndUnits.map { case (n, u) => (n, w.endToEnd(n), u) }
    metrics.foreach { case (n, v, _) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
    }
    opts.get("--out").foreach { dir =>
      writeTrace(Paths.get(dir,
        s"${tier.name}-seed$seed-trace${opt("--trace")}.json"), w)
    }
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": $v, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${w.attempted}, """ +
      s""""failed": ${w.failed}, "metrics": {$body}}""")
    sys.exit(if (correct) 0 else 1)
  }

  /** The run's stages, spans and figures. A traced run's end-to-end
    * figures, set against an untraced run's, give the tracing overhead.
    */
  private def writeTrace(path: java.nio.file.Path, w: Workload): Unit = {
    def num(m: collection.Map[String, Double]) =
      m.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    val spans = w.spanRecords.map { s =>
      s"""{"id": "${s.id}", "kind": "${s.kind}", "timed": ${s.timed}, """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, """ +
        s""""wall_ms": ${s.wallNs / 1e6}, "gc_ms": ${s.gcMs}, "ok": ${s.ok}}"""
    }.mkString("[\n  ", ",\n  ", "\n]")
    Files.createDirectories(path.getParent)
    Files.write(path, (s"""{"stages": ${num(w.stages)},\n""" +
      s""""end_to_end": ${num(w.endToEnd)},\n""" +
      s""""per_layer": ${num(w.layer)},\n"spans": $spans}\n""")
      .getBytes(StandardCharsets.UTF_8))
  }
}
