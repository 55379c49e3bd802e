package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias, Union}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one way graft keeps an intermediate, and the only place that
  * checkpoints or caches: iterative loops (graph ranks and reachability,
  * label propagation, dedup components, NN-descent rounds, graph-search
  * hops, BPE merge rounds) and shared intermediates that several
  * consumers read (the creator report's posts table, dictionaries and
  * adjacency lists, embedding tables, gram streams, the range-partitioned
  * frame of a [[PrefixSum]], stream micro-batches).
  *
  * `Materialize(df, partitions)` runs `df` once, planned without adaptive
  * execution at `partitions` reducers, and returns a frame over the
  * stored rows that keeps what a plain `Dataset.localCheckpoint` drops
  * under AQE:
  *  - the executed plan's output partitioning and ordering, so a frame
  *    hash-partitioned and sorted on a join key feeds later joins on that
  *    key with no exchange and no sort;
  *  - its size estimate plus the measured row count ([[rows]]), which
  *    loops read for partition sizing and convergence tests instead of
  *    running a counting job.
  *
  * Only the planning call sees the sized, non-adaptive conf (a clone of
  * the caller's); the returned frame lives in the caller's session and
  * plans downstream under the caller's own settings. Nothing is locked,
  * so concurrent callers materialize independently.
  *
  * Storage: executor-local blocks by default — they die with their
  * executor, the single-box choice. With `checkpointDir` the rows are
  * written as a reliable checkpoint there instead (persisted first, so
  * the checkpoint writer reads the stored rows instead of recomputing
  * them), which survives executor loss at the cost of a file write. */
object Materialize {
  private val Name = "graft.Materialize"

  /** `df` materialized at the caller's `spark.sql.shuffle.partitions`. */
  def apply(df: DataFrame): DataFrame =
    apply(df, df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)

  def apply(df: DataFrame, partitions: Int, checkpointDir: Option[String] = None): DataFrame =
    org.apache.spark.sql.GraftColumnBridge.materialize(df, partitions) { rdd =>
      rdd.setName(Name)
      checkpointDir match {
        case Some(d) =>
          rdd.sparkContext.setCheckpointDir(d)
          rdd.persist(StorageLevel.MEMORY_AND_DISK)
          rdd.checkpoint()
          try rdd.count() finally rdd.unpersist(blocking = false)
        case None =>
          rdd.localCheckpoint()
          rdd.count()
      }
    }

  /** Reducer count for loop data of `rows` rows: one partition per
    * 100 k rows, at least 4, never above the caller's configured
    * `spark.sql.shuffle.partitions`. At small scale a full-width stage
    * is task-scheduling overhead, not parallel work; growing data raises
    * the count back to the deployment setting. */
  def partitionsFor(spark: SparkSession, rows: Long): Int =
    math.min(spark.conf.get("spark.sql.shuffle.partitions").toLong,
      math.max(4L, rows / 100000L)).toInt

  /** Exact row count of `df`: the count measured when its rows were
    * materialized, read through row-preserving projections and unions,
    * else one counting job. */
  def rows(df: DataFrame): Long =
    measured(org.apache.spark.sql.GraftColumnBridge.logicalPlan(df)).getOrElse(df.count())

  private def measured(plan: LogicalPlan): Option[Long] = plan match {
    case r: LogicalRDD if r.rdd.name == Name => r.computeStats().rowCount.map(_.toLong)
    case p: Project => measured(p.child)
    case a: SubqueryAlias => measured(a.child)
    case u: Union =>
      val parts = u.children.map(measured)
      if (parts.forall(_.isDefined)) Some(parts.flatten.sum) else None
    case _ => None
  }
}
