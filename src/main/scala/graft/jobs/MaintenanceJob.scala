package graft.jobs

import org.apache.spark.sql.SparkSession

import graft.io.{EdgeLog, LabelStore, Tables}

/** Operations CLI for the storage-maintenance passes a long-lived stream
  * needs (VERDICT r4 directive 7): small-file compaction for the edge log
  * and the streaming corpus tables, forwarding-map expiry for the label
  * store — without writing Scala. One subcommand per op:
  *
  * {{{
  * MaintenanceJob compact-edges    <edgesDir> [targetFiles=1]
  * MaintenanceJob compact-corpus   <table> <path> <bucketCol> <nBuckets>
  * MaintenanceJob expire-snapshots <rootDir> [keepLast=1]
  * }}}
  *
  * `compact-edges` folds an [[EdgeLog]]; `compact-corpus` folds one of the
  * batch-partitioned bucketed corpus tables the streams write
  * ([[Tables.writeBatchBucketed]] layout), and refuses a `bucketCol` /
  * `nBuckets` other than the table's own; `expire-snapshots` drops the
  * forwarding maps of a [[graft.io.LabelStore]] root but its newest
  * `keepLast`.
  *
  * Both compaction subcommands require their writers stopped (readers race
  * the directory swap; real Iceberg's atomic rewrite replaces this once
  * bindable). Crash-safe: each stages to `_tmp`, keeps the original at
  * `_bak` until the swap lands, and auto-recovers a half-finished previous
  * run at entry.
  */
object MaintenanceJob {

  def run(spark: SparkSession, args: Seq[String]): Unit = args match {
    case Seq("compact-edges", dir) =>
      EdgeLog.compact(spark, dir)
    case Seq("compact-edges", dir, target) =>
      EdgeLog.compact(spark, dir, target.toInt)
    case Seq("compact-corpus", table, path, bucketCol, nBuckets) =>
      Tables.compactBatchBucketed(spark, table, path, bucketCol, nBuckets.toInt)
    case Seq("expire-snapshots", root) =>
      LabelStore.expire(root, 1)
    case Seq("expire-snapshots", root, keep) =>
      LabelStore.expire(root, keep.toInt)
    case other =>
      throw new IllegalArgumentException(
        s"unknown maintenance command: ${other.mkString(" ")} " +
          "(expected compact-edges | compact-corpus | expire-snapshots)")
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]"))
      .appName("graft-maintenance")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toSeq)
    finally spark.stop()
    println(s"[maintenance] done: ${args.mkString(" ")}")
  }
}
