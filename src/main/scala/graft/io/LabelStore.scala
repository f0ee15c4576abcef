package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Streaming cluster labels as union-find state on disk: an append-only doc
  * table plus a forwarding map.
  *
  *   - `root/docs`: one `(doc_id, lab)` row per doc, written by the batch the
  *     doc arrived in through [[Tables.writeBatchBucketed]] (bucketed on
  *     `doc_id` into `nBuckets`, catalog name `Tables.corpusTableName(root)`).
  *     `lab` is the doc's cluster root when it arrived; the row is never
  *     rewritten.
  *   - `root/fwd/batch_id=<k>`: `(lab, root)` for every root merged away by
  *     batch k or earlier, pointing at its root after batch k. The map is
  *     fully compressed (no value is also a key) and written whole per batch,
  *     so it is bounded by the number of clusters ever merged away. Its
  *     committed write (the `_SUCCESS` marker) is batch k's commit point.
  *
  * A doc's cluster as of batch k is `coalesce(fwd_k(lab), lab)` over the doc
  * rows with `batch_id <= k`: one join against the small side. A batch writes
  * only its own new doc rows and one map, so its write cost follows its
  * delta, not the labeling. Cluster ids are canonical: the minimum doc id of
  * the cluster.
  */
class LabelStore(val root: String, val nBuckets: Int) {
  require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")

  private[graft] val table: String = Tables.corpusTableName(root)
  private[graft] def docsDir: String = s"$root/docs"
  private[graft] def fwdDir(batchId: Long): String = s"$root/fwd/batch_id=$batchId"

  /** The newest committed batch id. */
  def currentSnapshot: Option[Long] = LabelStore.newestCommitted(root, Long.MaxValue)

  /** The complete labeling at the newest committed batch. */
  def read(spark: SparkSession): DataFrame =
    readSnapshot(spark, currentSnapshot.getOrElse(
      throw new IllegalStateException(s"empty label store $root")))

  /** `(doc_id, cluster_id)` as of committed batch `batchId`: the doc rows of
    * batches up to it through its map. Throws once that map is expired.
    */
  def readSnapshot(spark: SparkSession, batchId: Long): DataFrame = {
    val fwd = spark.read.parquet(fwdDir(batchId))
    LabelStore.labeled(docsBefore(spark, batchId + 1, reconcile = true).getOrElse(
      fwd.select(col("lab").as("doc_id"), col("lab")).where(lit(false))), fwd)
  }

  private[graft] def isCommitted(batchId: Long): Boolean =
    LabelStore.committed(LabelStore.fs(root), root)(batchId)

  /** The `(doc_id, lab)` rows of every batch before `batchId`; None before
    * the first append. A reader in another JVM than the stream must
    * `reconcile` the catalog's partition list with the disk (see
    * [[Tables.ensureBatchTable]]); the stream, the table's only writer, need
    * not.
    */
  private[graft] def docsBefore(
      spark: SparkSession, batchId: Long, reconcile: Boolean): Option[DataFrame] =
    if (Tables.ensureBatchTable(spark, table, docsDir, "doc_id", nBuckets, reconcile))
      Some(Tables.readBatchesBefore(spark, table, batchId))
    else None

  /** The newest committed map of a batch before `batchId`, read with the
    * doc id type the caller knows (inferring it costs a Spark job).
    */
  private[graft] def fwdBefore(
      spark: SparkSession, batchId: Long, idType: DataType): Option[DataFrame] =
    LabelStore.newestCommitted(root, batchId).map(k => spark.read
      .schema(StructType(Seq(StructField("lab", idType), StructField("root", idType))))
      .parquet(fwdDir(k)))
}

object LabelStore {

  /** `(doc_id, cluster_id)`: each `(doc_id, lab)` row through the map. */
  private[graft] def labeled(docs: DataFrame, fwd: DataFrame): DataFrame =
    docs.join(fwd, Seq("lab"), "left")
      .select(col("doc_id"), coalesce(col("root"), col("lab")).as("cluster_id"))

  /** Drops every map older than the newest `keepLast` committed ones. The
    * doc rows stay: every snapshot reads them. Reading an expired batch's
    * snapshot throws afterwards; a replay of an expired batch finds its
    * commit point gone, which a foreachBatch stream never does (it replays
    * only its newest batch).
    */
  def expire(root: String, keepLast: Int): Unit = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val fs = LabelStore.fs(root)
    val all = ids(fs, root)
    val kept = all.reverseIterator.filter(committed(fs, root)).take(keepLast).toSeq
    if (kept.size == keepLast)
      all.filter(_ < kept.last).foreach(k => fs.delete(new HPath(s"$root/fwd/batch_id=$k"), true))
  }

  private def fs(root: String): FileSystem = new HPath(root).getFileSystem(new Configuration())

  /** Every map dir's batch id, committed or not, ascending. */
  private def ids(fs: FileSystem, root: String): Seq[Long] = {
    val dir = new HPath(s"$root/fwd")
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch_id=")).map(_.stripPrefix("batch_id=").toLong).sorted
  }

  private def committed(fs: FileSystem, root: String)(batchId: Long): Boolean =
    fs.exists(new HPath(s"$root/fwd/batch_id=$batchId/_SUCCESS"))

  private def newestCommitted(root: String, below: Long): Option[Long] = {
    val f = fs(root)
    ids(f, root).filter(_ < below).reverseIterator.find(committed(f, root))
  }
}
