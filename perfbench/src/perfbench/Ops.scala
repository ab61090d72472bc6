package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs every call into the program: counts it as attempted (and
  * failed if it throws), records its [[Span]], and tags the Spark jobs
  * it submits with the span id.
  */
final class Ops(spark: SparkSession) {
  val spans = ArrayBuffer.empty[Span]
  var attempted = 0
  var failed = 0
  private var seq = 0

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  def run[A](kind: String, timed: Boolean)(f: => A): Option[A] = {
    seq += 1
    attempted += 1
    val id = s"$kind#$seq"
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.OpKey, id)
    val g0 = gcMs()
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out =
      try Some(f)
      catch {
        case e: CheckFailed => throw e
        case e: Exception =>
          failed += 1
          System.err.println(s"perfbench: $id failed: $e")
          None
      } finally sc.setLocalProperty(Trace.OpKey, null)
    spans += Span(id, kind, timed, m0, System.currentTimeMillis(),
      System.nanoTime() - t0, gcMs() - g0, out.isDefined)
    out
  }

  /** Walls in milliseconds of the timed, successful calls of `kind`. */
  def wallsMs(kind: String): Seq[Double] =
    timedSpans(kind).map(_.wallNs / 1e6)

  def timedSpans(kind: String): Seq[Span] =
    spans.toSeq.filter(s => s.kind == kind && s.timed && s.ok)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** The highest percentile with at least ten samples beyond it; below
    * forty samples, the median alone.
    */
  def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length < 40) median(s) else s(s.length - 11)
  }
}
