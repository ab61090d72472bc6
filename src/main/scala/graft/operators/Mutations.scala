package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

/** Batch collection maintenance — the Spark shape of the reference's
  * single-row insert/update/delete
  * (/root/reference/bigvectorbench/algorithms/base/module.py:140-180).
  * A distributed store applies mutations as *batches* merged into the
  * base relation: base rows whose key the batch touches are dropped
  * by an anti-join against the batch keys, and the batch's surviving
  * upserts are appended. The join strategy is left to Spark's size
  * statistics and AQE: a small batch (a collection write from a local
  * frame) is broadcast, so the merge is one map-only pass over the
  * base that shuffles only the batch (to deduplicate its keys); a
  * corpus-sized batch falls back to a sort-merge join instead of
  * broadcasting O(N) keys. This is the micro-batch compaction model
  * (Delta/Hudi-style), which is what survives at 100 TB — not per-row
  * RPCs.
  */
object Mutations {

  /** Apply one mutation batch. All frames share `keyCol`; `upserts`
    * rows replace same-key base rows (insert if absent), `deletes`
    * keys are removed (delete wins over an upsert of the same key).
    *
    * Contract: `base` holds one row per key. Duplicate keys inside
    * `upserts` keep one of their rows, which one is unspecified. The
    * result has the key column first, then the base's other columns
    * in order, and — when planning alone reveals it — the base's
    * partition count, so repeated writes do not grow it.
    */
  def applyBatch(
      base: DataFrame,
      upserts: DataFrame,
      deletes: DataFrame,
      keyCol: String): DataFrame = {
    val cols = keyCol +: base.columns.filter(_ != keyCol).toSeq
    val deleted = deletes.select(col(keyCol))
    val touched = upserts.select(col(keyCol))
      .unionAll(deletes.select(col(keyCol)))
    val kept = base.join(touched, Seq(keyCol), "left_anti")
    val fresh = upserts.select(cols.map(col): _*).dropDuplicates(keyCol)
      .join(deleted, Seq(keyCol), "left_anti")
    val merged = kept.select(cols.map(col): _*)
      .unionAll(fresh.select(cols.map(col): _*))
    plannedPartitions(base).filter(_ > 0).fold(merged)(merged.coalesce)
  }

  /** Partition count of `df` when planning alone reveals it: a plan
    * with no exchange and no subquery (a scan or a checkpointed table
    * under narrow operators) builds its RDD without running a job. An
    * adaptive plan fixes its partitioning only as its stages run, so
    * it gets None instead of being executed here.
    */
  private def plannedPartitions(df: DataFrame): Option[Int] = {
    val plan = df.queryExecution.executedPlan
    val runsJobs = plan.exists {
      case _: AdaptiveSparkPlanExec | _: Exchange => true
      case p => p.subqueries.nonEmpty
    }
    if (runsJobs) None else Some(plan.execute().getNumPartitions)
  }
}
