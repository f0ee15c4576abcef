package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Plan/lineage truncation with ONE cluster-safe policy for the whole engine
  * (SURVEY.md §4): reliable `checkpoint` when the session has a checkpoint dir
  * configured — survives executor loss, the documented default for real
  * multi-executor runs — else eager `localCheckpoint` (sandbox / tests;
  * executor-local blocks, fastest). Every corpus-scale pin (CC iterations,
  * sorted-neighborhood rank, near-dup signatures, stream deltas) routes through
  * here so configuring one checkpoint dir upgrades them all.
  */
object Persist {
  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(true)

  /** LAZY pin (optimization r6, guide §1.2 "don't compute things you throw
    * away"): same checkpoint policy as `truncate` but materialized by the
    * FIRST consuming job instead of eagerly by its own job. Right when the
    * pinned frame's first consumer is itself an eager materialization that
    * scans it exactly once (e.g. a near-dup signature frame feeding the
    * BandedPairs contraction pin): the signatures compute and persist inside
    * that job, later consumers read the pinned blocks, and the dedicated
    * warm-up job disappears. Unlike a plain `persist()`, checkpoint identity
    * is per-RDD, so two constructions of the same plan never share blocks —
    * every bench/verify rep still computes from the parquet inputs.
    *
    * A lazy reliable checkpoint is written by a job of its own after the
    * first action, which computes the frame again unless its RDD is
    * persisted; the RDD is persisted like a local checkpoint's, so the
    * frame is computed once on both branches.
    */
  def pinLazy(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isEmpty) df.localCheckpoint(false)
    else {
      val pinned = df.checkpoint(false)
      pinned.queryExecution.logical.foreach {
        case r: LogicalRDD => r.rdd.persist(StorageLevel.MEMORY_AND_DISK)
        case _ =>
      }
      pinned
    }
}
