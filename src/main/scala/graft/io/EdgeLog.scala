package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Replay-idempotent, compactable append log for streaming match edges
  * (VERDICT r4 "What's wrong #1/#3). Layout: one `batch_id=<k>` partition
  * dir per micro-batch, each written with `mode("overwrite")` — foreachBatch
  * is at-least-once, and a bare `mode("append")` duplicated the batch's
  * edges on every crash-replay; overwriting the batch's OWN dir makes the
  * replay rewrite the same rows instead (the BatchMetrics discipline).
  *
  * Readers see one logical (…edge columns…) table: partition discovery
  * surfaces `batch_id`, which [[read]] drops. An uncommitted crash leaves
  * only a `_temporary` dir under the batch partition — hidden from Spark's
  * file listing, then cleanly overwritten by the replay.
  *
  * A long-lived stream accumulates one dir per batch; after 10⁵ micro-batches
  * the file LISTING dominates downstream reads — [[compact]] folds all batch
  * dirs EXCEPT the newest into a single `batch_id=-1` partition (crash-safe
  * bak/rename swap, auto-recovering like `Tables.compactBatchBucketed`). The
  * newest batch — the only one a crashed stream can have left uncommitted in
  * the checkpoint — is carried over untouched, so a restart's replay
  * overwrites it in place instead of duplicating rows the fold already
  * absorbed; compaction is therefore safe against a stopped OR crashed
  * stream (writers merely have to be paused during the swap).
  */
object EdgeLog {

  /** Write one micro-batch's edges; replay-idempotent (overwrites the
    * batch's own partition dir).
    */
  def write(edges: DataFrame, dir: String, batchId: Long): Unit =
    edges.write.mode("overwrite").parquet(s"$dir/batch_id=$batchId")

  /** All edges across batches, without the layout's `batch_id` column. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).drop("batch_id")

  /** True once at least one batch dir has committed (its `_SUCCESS` marker
    * landed). Hadoop FS, not java.io: the log may live on HDFS or an object
    * store, not just the local FS.
    */
  private def hasData(spark: SparkSession, dir: String): Boolean = {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val p = new HPath(dir)
    val fs = FileSystem.get(p.toUri, spark.sessionState.newHadoopConf())
    fs.exists(p) && fs.listStatus(p).exists(s => s.isDirectory &&
      s.getPath.getName.startsWith("batch_id=") &&
      fs.exists(new HPath(s.getPath, "_SUCCESS")))
  }

  /** Fold all batch dirs EXCEPT the newest into a single `batch_id=-1`
    * partition; the newest batch's dir is carried over untouched. Keeping
    * the newest out of the fold is what makes this op safe against a
    * CRASHED (not just cleanly stopped) stream: the one batch that can be
    * uncommitted in the checkpoint is the newest, and the restart's replay
    * overwrites that partition in place — folding it into `-1` first would
    * have let the replay re-add its rows beside the folded copy. Downstream
    * reads are unchanged row-for-row: the fold is a pure row-preserving
    * move (no dedup — a pair legitimately emitted in two batches must keep
    * its multiplicity, ADVICE r5).
    * Writers must still be paused (readers race the directory swap).
    *
    * @param targetFiles when > 0, repartition the fold to this many files;
    *                    0 keeps the read parallelism
    */
  def compact(spark: SparkSession, dir: String, targetFiles: Int = 1): Unit = {
    import org.apache.hadoop.fs.{FileSystem, FileUtil, Path => HPath}
    val tmpPath = dir + "_compact_tmp"
    val bakPath = dir + "_compact_bak"
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(new java.net.URI(dir), conf)
    // auto-recovery from a crash between the two renames below
    if (!fs.exists(new HPath(dir)) && fs.exists(new HPath(bakPath))) {
      require(fs.rename(new HPath(bakPath), new HPath(dir)),
        s"EdgeLog.compact: crash recovery rename $bakPath -> $dir failed")
    }
    require(hasData(spark, dir),
      s"EdgeLog.compact: no committed batch dirs at $dir (nothing to compact)")
    val ids = fs.listStatus(new HPath(dir))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .map(_.getPath.getName.stripPrefix("batch_id=").toLong)
    val maxId = ids.max
    val foldIds = ids.filter(_ != maxId)
    if (foldIds.isEmpty) return // one batch only: nothing to fold
    // a pure row-preserving move (ADVICE r5): the fold must keep the edge
    // MULTISET bit-identical — the old dropDuplicates() silently merged a
    // pair legitimately emitted in two different batches (a re-ingested doc
    // id pairing against the old corpus again), breaking the
    // streamed-equals-batch multiset contract the recovery tests assert
    val folded0 = spark.read
      .parquet(foldIds.map(i => s"$dir/batch_id=$i").toIndexedSeq: _*)
    val folded = if (targetFiles > 0) folded0.repartition(targetFiles) else folded0
    fs.delete(new HPath(tmpPath), true)
    folded.write.mode("overwrite").parquet(s"$tmpPath/batch_id=-1")
    // the newest batch rides over as-is (copy, not move: the original dir
    // stays complete until the swap, so a crash anywhere recovers from _bak)
    FileUtil.copy(fs, new HPath(s"$dir/batch_id=$maxId"),
      fs, new HPath(s"$tmpPath/batch_id=$maxId"), false, conf)
    fs.delete(new HPath(bakPath), true)
    require(fs.rename(new HPath(dir), new HPath(bakPath)),
      s"EdgeLog.compact: rename $dir -> $bakPath failed")
    require(fs.rename(new HPath(tmpPath), new HPath(dir)),
      s"EdgeLog.compact: rename $tmpPath -> $dir failed (original preserved at $bakPath)")
    fs.delete(new HPath(bakPath), true)
  }
}
