package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Drift guard for the environment-variable surface: values should be
  * derived from inputs, not read from env knobs. Every `sys.env` /
  * `System.getenv` read in non-test source is listed here; a new knob
  * (or a removed one) changes the set and fails this spec until the
  * list is updated with the reason the value cannot be derived.
  */
class EnvKnobSpec extends AnyFunSuite {

  /** The allowed env names: deployment paths and sizes, and harness
    * inputs.
    */
  private val allowed: Set[String] = Set(
    "SPARK_GRAFT_CPUS", // session master width (GraftSession.cpus)
    "SPARK_GRAFT_SF_DIR", // Bench/tools dataset dir
    "SPARK_GRAFT_RUNS", // Bench repetitions
    "SPARK_GRAFT_BENCH_FILTER", // Bench entry filter
    "SPARK_GRAFT_NND_SPILL_DIR", // shared-filesystem spill root on a cluster
    "SPARK_GRAFT_NND_SCRATCH_GB", // aggregate executor scratch on a cluster
    "GRAFT_TOPK_WARN_ROWS") // CollectTopK's per-task row warning

  /** An env read and the literal name it reads (group 1); a read whose
    * argument is not a string literal matches with group 1 null.
    */
  private val read =
    """(?:sys\.env(?:\.get|\.getOrElse|\.contains|\.apply)?|System\.getenv)\s*\(\s*(?:"([^"]*)")?""".r

  private def names(text: String): Seq[Option[String]] =
    read.findAllMatchIn(text).map(m => Option(m.group(1))).toSeq

  private def scan(root: Path): Map[String, Seq[Option[String]]] =
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString ->
        names(new String(Files.readAllBytes(p), "UTF-8")))
      .filter(_._2.nonEmpty)
      .toMap

  test("every env var read under src/main is one of the allowed names") {
    val root = Paths.get("src/main/scala/graft")
    assume(Files.isDirectory(root))
    val found = scan(root)
    val dynamic = found.collect { case (f, ns) if ns.contains(None) => f }
    assert(dynamic.isEmpty,
      s"env read with a non-literal name in: $dynamic — name it literally")
    val used = found.values.flatten.flatten.toSet
    assert(used == allowed, s"new env knobs: ${used -- allowed}; " +
      s"listed but no longer read: ${allowed -- used}")
  }

  test("the scanner finds literal and non-literal env reads") {
    val dir = Files.createTempDirectory("graft_env_guard")
    try {
      val f = dir.resolve("Rogue.scala")
      Files.write(f, ("object Rogue { val a = sys.env.get(\"A_KNOB\"); " +
        "val b = sys.env(\"B_KNOB\"); val c = System.getenv(\"C_KNOB\"); " +
        "val d = sys.env.getOrElse(key, \"x\") }").getBytes)
      assert(scan(dir) == Map("Rogue.scala" ->
        Seq(Some("A_KNOB"), Some("B_KNOB"), Some("C_KNOB"), None)))
    } finally {
      Files.deleteIfExists(dir.resolve("Rogue.scala"))
      Files.deleteIfExists(dir)
    }
  }
}
