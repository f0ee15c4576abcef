package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Iceberg-layout storage for the offline sandbox (SURVEY.md §7.4): snapshot
  * manifests over partitioned Parquet with append/overwrite and
  * time-travel-by-snapshot-id. The real `spark.read.format("iceberg")` binding
  * is one implementation away (no Iceberg jars ship in /opt/spark/jars —
  * verified); the engine's sinks speak this trait so swapping in Iceberg later
  * is a constructor change, not a pipeline change.
  */
trait IcebergLikeTable {
  def append(df: DataFrame): Long
  def overwrite(df: DataFrame): Long
  def read(spark: SparkSession): DataFrame
  def readSnapshot(spark: SparkSession, snapshotId: Long): DataFrame
  def currentSnapshot: Option[Long]
}

/** The snapshot-layout protocol shared by both table classes (manifest
  * format, pointer-swap commit) — one definition, so the layouts cannot
  * silently diverge. Layout:
  *   root/data/s<k>/…                  (files/partition-dirs per snapshot)
  *   root/snapshots/v<k>.json          ({"snapshot":k,"dirs":[...],"op":…})
  *   root/CURRENT                      (latest k; atomically replaced)
  */
private[io] object SnapshotIo {
  def current(rootP: Path): Option[Long] = {
    val p = rootP.resolve("CURRENT")
    if (Files.exists(p)) Some(Files.readString(p).trim.toLong) else None
  }

  /** Dirs composing snapshot `k` (stored as a JSON array of strings on one
    * line); throws if the manifest is missing (expired or never committed).
    */
  def dirs(rootP: Path, k: Long): Seq[String] = {
    val j = Files.readString(rootP.resolve(s"snapshots/v$k.json"))
    "\"data/[^\"]+\"".r.findAllIn(j).map(_.stripPrefix("\"").stripSuffix("\"")).toSeq
  }

  /** Write manifest k then atomically swap the CURRENT pointer — the swap IS
    * the commit (Iceberg's metadata-pointer semantics).
    */
  def commitManifest(rootP: Path, k: Long, op: String, dirList: Seq[String]): Unit = {
    Files.createDirectories(rootP.resolve("snapshots"))
    val manifest =
      s"""{"snapshot":$k,"op":"$op","ts":${System.currentTimeMillis()},""" +
        s""""dirs":[${dirList.map(d => "\"" + d + "\"").mkString(",")}]}"""
    Files.writeString(rootP.resolve(s"snapshots/v$k.json"), manifest)
    val tmp = rootP.resolve("CURRENT.tmp")
    Files.writeString(tmp, k.toString)
    Files.move(tmp, rootP.resolve("CURRENT"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}

class PartitionedParquetTable(val root: String) extends IcebergLikeTable {
  private def rootP: Path = Paths.get(root)

  def currentSnapshot: Option[Long] = SnapshotIo.current(rootP)

  private def snapshotDirs(k: Long): Seq[String] = SnapshotIo.dirs(rootP, k)

  private def commit(df: DataFrame, op: String): Long = {
    val k = currentSnapshot.getOrElse(0L) + 1
    val dataDir = s"data/s$k"
    df.write.mode("overwrite").parquet(s"$root/$dataDir")
    val dirs =
      if (op == "append") currentSnapshot.map(snapshotDirs).getOrElse(Nil) :+ dataDir
      else Seq(dataDir)
    SnapshotIo.commitManifest(rootP, k, op, dirs)
    k
  }

  def append(df: DataFrame): Long = commit(df, "append")
  def overwrite(df: DataFrame): Long = commit(df, "overwrite")

  def read(spark: SparkSession): DataFrame =
    readSnapshot(spark, currentSnapshot.getOrElse(
      throw new IllegalStateException(s"empty table $root")))

  def readSnapshot(spark: SparkSession, snapshotId: Long): DataFrame = {
    val dirs = snapshotDirs(snapshotId).map(d => s"$root/$d")
    spark.read.parquet(dirs: _*)
  }

  /** Iceberg `expireSnapshots` analog — see [[SnapshotMaintenance.expire]]. */
  def expireSnapshots(keepLast: Int = 1): Unit =
    SnapshotMaintenance.expire(root, keepLast)
}

/** Iceberg `expireSnapshots` analog for the offline snapshot layout: drop
  * manifests older than the newest `keepLast` snapshots and physically delete
  * every data dir that NO retained snapshot references. Without expiry a
  * long-running stream accumulates one data dir per commit forever — at 10⁹
  * accumulated docs the file listing itself becomes the read bottleneck; with
  * expiry storage is bounded by keepLast × live data (time travel is
  * correspondingly limited to the retained window — the standard Iceberg
  * trade, and why this is an explicit maintenance call, not automatic).
  */
object SnapshotMaintenance {
  def expire(root: String, keepLast: Int): Unit = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val rootP = Paths.get(root)
    val currentP = rootP.resolve("CURRENT")
    if (!Files.exists(currentP)) return
    val current = Files.readString(currentP).trim.toLong
    val cutoff = current - keepLast + 1
    def dirsOf(k: Long): Seq[String] =
      if (!Files.exists(rootP.resolve(s"snapshots/v$k.json"))) Seq.empty
      else SnapshotIo.dirs(rootP, k)
    val retained = (cutoff to current).flatMap(dirsOf).toSet
    // expire [OLDEST, cutoff): the low-water mark bounds per-call work to
    // O(newly expired) instead of rescanning every snapshot id since 1 on
    // each per-batch call — and unlike a stop-at-first-gap walk, a crash
    // mid-loop self-heals (the mark only advances AFTER the sweep, so the
    // next call re-covers the crashed range; re-deleting is a no-op)
    val oldestP = rootP.resolve("OLDEST")
    val oldest =
      if (Files.exists(oldestP)) Files.readString(oldestP).trim.toLong else 1L
    for (k <- oldest until cutoff) {
      dirsOf(k).filterNot(retained).foreach(d => LocalFs.deleteTree(rootP.resolve(d)))
      Files.deleteIfExists(rootP.resolve(s"snapshots/v$k.json"))
    }
    if (cutoff > oldest) Files.writeString(oldestP, cutoff.toString)
    // prune dirs left empty after partition-dir deletion, bottom-up — a
    // data/s<k> whose nested layout dirs (LabelStore's c/ and d/) emptied
    // collapses entirely. "Empty" includes dirs whose only remaining entries
    // are `_`/`.`-prefixed marker files (partitionBy writes a `_SUCCESS` at
    // the layout root that would otherwise keep one dead s<k> dir pair alive
    // per expired snapshot, forever); dirs a retained manifest references are
    // never touched (an empty-frame commit legitimately produces a
    // marker-only dir that readSnapshot must still be able to open)
    val retainedAbs = retained.map(d => rootP.resolve(d).normalize)
    val dataP = rootP.resolve("data")
    if (Files.exists(dataP)) {
      val walk = Files.walk(dataP)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .filter(p => p != dataP && Files.isDirectory(p) &&
          !retainedAbs.contains(p.normalize))
        .forEach { p =>
          val inner = p.toFile.listFiles()
          val onlyMarkers = inner != null && inner.forall(f =>
            f.isFile && (f.getName.startsWith("_") || f.getName.startsWith(".")))
          if (inner == null || inner.isEmpty) Files.deleteIfExists(p)
          else if (onlyMarkers) {
            inner.foreach(f => Files.deleteIfExists(f.toPath))
            Files.deleteIfExists(p)
          }
        }
      finally walk.close()
    }
  }
}

/** The hash-partitioned dir layout shared by [[HashPartitionedTable]] and
  * [[LabelStore]]: one `__part=i` dir per `pmod(xxhash64(key), n)` bucket.
  * Single definition so the writer's partition expression, the dir-name
  * parser, and the post-write listing can never diverge between the two
  * table classes.
  */
private[io] object HashLayout {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{lit, pmod, xxhash64}

  /** The partition a key value belongs to (the writer's own expression —
    * callers derive affected partitions with it).
    */
  def partExpr(c: Column, nBuckets: Int): Column =
    pmod(xxhash64(c), lit(nBuckets.toLong)).cast("int")

  /** Partition index encoded in a `__part=i` dir path. */
  def partOf(dir: String): Int =
    dir.substring(dir.lastIndexOf("__part=") + "__part=".length).toInt

  /** Relative `__part=` dirs now present under `rootP/dataDir` (the listing
    * a commit records in its manifest; empty partitions create no dir).
    */
  def listPartDirs(rootP: Path, dataDir: String): Seq[String] = {
    val d = rootP.resolve(dataDir).toFile.listFiles()
    if (d == null) Seq.empty
    else d.filter(f => f.isDirectory && f.getName.startsWith("__part="))
      .map(f => s"$dataDir/${f.getName}").toSeq.sorted
  }
}

/** Hash-partitioned variant of [[PartitionedParquetTable]]: rows land in
  * `nBuckets` partitions by `pmod(xxhash64(partCol), nBuckets)` and each
  * snapshot's manifest lists ONE dir per live partition — so a commit can
  * replace a SUBSET of partitions while untouched partitions keep pointing at
  * their previous snapshot's files (`overwritePartitions`). This is the
  * streaming cluster-label shape (VERDICT r3 "What's wrong #2"): a micro-batch
  * that relabels a few clusters rewrites only the partitions holding those
  * labels, never the whole corpus labeling — O(batch) write amplification,
  * with every batch still committed as an atomic, time-travelable snapshot.
  *
  * Partitioning key choice matters: partitioning cluster labels by
  * `cluster_id` co-locates every member of a cluster, so the affected
  * partition set is computable from the relabel map alone; partitioning by
  * doc_id would scatter each affected cluster across all partitions and
  * finding them would cost a corpus scan per batch.
  *
  * Like the manifest I/O of every class in this file, the partition-dir
  * listing runs on a driver-visible filesystem — the standing assumption of
  * this offline Iceberg stand-in (real Iceberg replaces all of it with
  * catalog metadata; the trait boundary is the swap point).
  */
class HashPartitionedTable(val root: String, val partCol: String, val nBuckets: Int)
    extends IcebergLikeTable {
  require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
  private def rootP: Path = Paths.get(root)

  def currentSnapshot: Option[Long] = SnapshotIo.current(rootP)

  /** The partition a value of `partCol` belongs to (same expression the
    * writer uses — callers compute affected partitions with it).
    */
  def partitionExpr(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    HashLayout.partExpr(c, nBuckets)

  private def snapshotDirs(k: Long): Seq[String] = SnapshotIo.dirs(rootP, k)

  private def partOf(dir: String): Int = HashLayout.partOf(dir)

  private def commit(df: DataFrame, op: String, replaced: Option[Set[Int]]): Long = {
    val k = currentSnapshot.getOrElse(0L) + 1
    val dataDir = s"data/s$k"
    df.withColumn("__part", partitionExpr(df(partCol)))
      .write.mode("overwrite").partitionBy("__part").parquet(s"$root/$dataDir")
    val newDirs = HashLayout.listPartDirs(rootP, dataDir)
    val dirs = (op, replaced) match {
      case ("overwrite", None) => newDirs
      case ("append", None) => currentSnapshot.map(snapshotDirs).getOrElse(Nil) ++ newDirs
      case (_, Some(parts)) => // replace only the listed partitions
        currentSnapshot.map(snapshotDirs).getOrElse(Nil)
          .filterNot(d => parts.contains(partOf(d))) ++ newDirs
    }
    SnapshotIo.commitManifest(rootP, k, op, dirs)
    k
  }

  def append(df: DataFrame): Long = commit(df, "append", None)
  def overwrite(df: DataFrame): Long = commit(df, "overwrite", None)

  /** Replace the listed partitions with `df`'s rows, leaving every other
    * partition's files untouched. `df` must contain ONLY rows whose partition
    * (by `partitionExpr`) is in `parts` — rows outside would silently shadow
    * live data in the new snapshot.
    */
  def overwritePartitions(df: DataFrame, parts: Set[Int]): Long =
    commit(df, "overwrite_partitions", Some(parts))

  def read(spark: SparkSession): DataFrame =
    readSnapshot(spark, currentSnapshot.getOrElse(
      throw new IllegalStateException(s"empty table $root")))

  /** Read only the listed partitions of the current snapshot (partition
    * pruning by manifest — no other partition's files are listed or opened).
    * Partitions with no live dir contribute nothing; all-absent yields an
    * empty frame with the table schema.
    */
  def readPartitions(spark: SparkSession, parts: Set[Int]): DataFrame = {
    val k = currentSnapshot.getOrElse(
      throw new IllegalStateException(s"empty table $root"))
    val dirs = snapshotDirs(k).filter(d => parts.contains(partOf(d)))
    if (dirs.isEmpty) read(spark).limit(0)
    else spark.read.parquet(dirs.map(d => s"$root/$d"): _*)
  }

  def readSnapshot(spark: SparkSession, snapshotId: Long): DataFrame = {
    val dirs = snapshotDirs(snapshotId).map(d => s"$root/$d")
    spark.read.parquet(dirs: _*)
  }

  /** Relative dirs first written by snapshot `k` (diagnostics/tests: how much
    * did this commit physically rewrite?).
    */
  def dirsWrittenBy(snapshotId: Long): Seq[String] =
    snapshotDirs(snapshotId).filter(_.startsWith(s"data/s$snapshotId/"))

  /** Iceberg `expireSnapshots` analog — see [[SnapshotMaintenance.expire]].
    * Partition dirs still referenced by retained snapshots survive even when
    * the snapshot that WROTE them expires (partial rewrites keep old
    * partitions live across many commits).
    */
  def expireSnapshots(keepLast: Int = 1): Unit =
    SnapshotMaintenance.expire(root, keepLast)
}

/** Bucketed-table helpers (SURVEY.md §4 / builder mandate "bucketing for
  * co-located joins"): records written `bucketBy(doc_id)` join pair ids (or
  * each other) WITHOUT a shuffle on the bucketed side — at 100 TB the
  * pre-bucketed corpus turns every per-round scoring join from
  * corpus-shuffle + join into scan + join. BucketedJoinSpec asserts the
  * exchange really disappears from the physical plan.
  */
object Tables {

  /** Write as a bucketed external table (path-backed, so nothing lands in the
    * session warehouse); sorted within buckets for merge-friendly reads.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      path: String,
      bucketCol: String,
      nBuckets: Int): Unit =
    df.write.mode("overwrite")
      .option("path", path)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Replay-idempotent per-batch append to a bucketed external table: rows
    * land in the batch's own `batch_id=<k>` partition (partitioned AND
    * bucketed — buckets span partitions, so doc_id/key joins stay
    * exchange-free across the whole accumulated table), and a foreachBatch
    * replay dynamically OVERWRITES that partition instead of appending a
    * duplicate (VERDICT r4 #1: bare `mode("append")` under at-least-once
    * replay duplicated corpus rows, double-scoring every later pair).
    * Readers filter `batch_id < currentBatch` — partition pruning both
    * excludes a replaying batch's own half-written rows and skips nothing
    * else.
    *
    * First commit creates the table. The catalog is per-JVM for Spark's
    * in-memory implementation, so a stream restarted in a new JVM sees no
    * catalog entry even though the accumulated corpus is on disk —
    * [[ensureBatchTable]] recreates the entry from the on-disk layout
    * instead of destroying it; only a path with NO committed batch dir
    * (genuine first write, or a first attempt that crashed mid-write and
    * left just staging files) is cleared and created fresh.
    */
  def writeBatchBucketed(
      df: DataFrame,
      table: String,
      path: String,
      bucketCol: String,
      nBuckets: Int,
      batchId: Long): Unit = {
    import org.apache.spark.sql.functions.lit
    val spark = df.sparkSession
    val withB = df.withColumn("batch_id", lit(batchId))
    // reconcile=false: the stream's read gate already reconciled this table
    // earlier in the same micro-batch, and a dynamic-overwrite insert only
    // touches its own new partition — stale sibling metadata cannot corrupt
    // it, so the write path skips the SHOW PARTITIONS + listStatus pair
    if (!ensureBatchTable(spark, table, path, bucketCol, nBuckets, reconcile = false)) {
      import org.apache.hadoop.fs.{FileSystem, Path => HPath}
      val fs = FileSystem.get(new java.net.URI(path), spark.sessionState.newHadoopConf())
      // first write: the only thing we may clear is our own crashed first
      // attempt (staging/marker files, all `_`/`.`-prefixed). A path holding
      // anything else — e.g. a pre-batch-layout flat corpus — is NOT ours to
      // destroy: fail loudly instead of silently wiping history
      if (fs.exists(new HPath(path))) {
        // an UNCOMMITTED batch_id dir (no visible data files — a crashed
        // first attempt's staging leftovers) is ours to clear; anything else
        // visible is not
        val visible = fs.listStatus(new HPath(path))
          .filterNot { s =>
            val n = s.getPath.getName
            n.startsWith("_") || n.startsWith(".") ||
              (s.isDirectory && n.startsWith("batch_id=") &&
                !fs.listStatus(s.getPath).exists(f => f.isFile &&
                  !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")))
          }
          .map(_.getPath.getName)
        require(visible.isEmpty,
          s"writeBatchBucketed: $path holds non-batch-layout data (${visible.take(3).mkString(", ")}…); " +
            "refusing to overwrite — migrate or clear it explicitly")
      }
      fs.delete(new HPath(path), true)
      // partitionOverwriteMode as a TABLE storage option: insertInto ignores
      // per-writer options (probed on 4.1.2 — a writer-side option silently
      // degraded to a FULL-table overwrite), but relation options stored at
      // creation time do apply, and keep the dynamic semantics out of the
      // caller's session conf
      withB.write.partitionBy("batch_id")
        .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
        .option("path", path).option("partitionOverwriteMode", "dynamic")
        .format("parquet").saveAsTable(table)
    } else {
      withB.write.mode("overwrite").insertInto(table)
    }
  }

  /** True iff `table` is usable after this call: already in the catalog
    * (with partition metadata re-synced against disk when `reconcile` and a
    * maintenance run in another JVM folded batch dirs underneath it —
    * partition LOSS without the fold's `batch_id=-1` marker is refused
    * loudly rather than adopted), or its entry was just recreated from an
    * existing on-disk [[writeBatchBucketed]] layout
    * (committed `batch_id=<k>` dirs at `path`). False when neither exists —
    * the caller owns first-write semantics. Streams call this both before
    * READING the accumulated corpus and before writing, so a restart in a
    * fresh JVM (fresh in-memory catalog) neither loses history nor scores
    * against an "empty" corpus that is actually on disk. `bucketCol`/`nBuckets` must
    * match the original writer's spec — Spark trusts the recreated bucket
    * DDL against the existing file layout, so a mismatch silently breaks
    * the exchange-free join guarantee (callers pass the same constants the
    * stream was configured with).
    */
  def ensureBatchTable(
      spark: SparkSession,
      table: String,
      path: String,
      bucketCol: String,
      nBuckets: Int,
      reconcile: Boolean = true): Boolean = {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val p = new HPath(path)
    val fs = FileSystem.get(p.toUri, spark.sessionState.newHadoopConf())
    def diskParts() =
      if (!fs.exists(p)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else fs.listStatus(p).filter(s =>
        s.isDirectory && s.getPath.getName.startsWith("batch_id="))
    // a partition dir counts as COMMITTED only when it carries at least one
    // visible data file (ADVICE r5: a crashed write leaves a batch_id dir
    // holding just `_temporary`/staging entries — adopting it would infer a
    // schema from nothing and skip the first-write branch)
    def committed(s: org.apache.hadoop.fs.FileStatus): Boolean =
      fs.listStatus(s.getPath).exists(f => f.isFile &&
        !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
    if (spark.catalog.tableExists(table)) {
      // The catalog entry can be STALE, not just missing: a maintenance run
      // in a DIFFERENT JVM (spark-submit MaintenanceJob compact-corpus while
      // this driver idles between stream restarts) folds batch_id dirs on
      // disk, and this JVM's in-memory catalog still lists the folded
      // partitions and not batch_id=-1 — reads would resolve deleted dirs
      // (FileNotFound, or silently-empty corpus under ignoreMissingFiles).
      // Reconcile on the READ gate only (the write path passes
      // reconcile=false — it touches only its own new partition): catalog
      // side is an in-memory lookup, disk side one listStatus of the table
      // root (O(live partitions), bounded by compaction cadence — the read
      // itself relists the same dirs anyway).
      if (reconcile) {
        val cat = spark.sql(s"SHOW PARTITIONS $table")
          .collect().map(_.getString(0)).toSet
        val disk = diskParts().map(_.getPath.getName).toSet
        if (cat != disk) {
          // Partition REMOVALS are legitimate only as the outcome of a
          // keep-newest compaction fold, and the fold records WHICH batch
          // partitions it absorbed in a provenance marker inside
          // `batch_id=-1` (`_folded_ids`, written by compactBatchBucketed).
          // Every removed partition must be accounted for by that record
          // (ADVICE r5: merely requiring the -1 dir to EXIST let any later
          // external deletion of a real batch partition be silently adopted
          // once the first compaction had run). Anything unaccounted — a
          // mid-swap race, an external deletion, a partial wipe — stays
          // FAIL-STOP: syncing the catalog to a damaged dir would let this
          // batch score against a silently truncated corpus and commit
          // wrong edges, where a stale entry at worst crashes and retries.
          val removed = cat -- disk
          require(removed.isEmpty || removed.subsetOf(readFoldedIds(fs, path)),
            s"ensureBatchTable: $path lost partitions " +
              s"(${removed.take(3).mkString(", ")}…) without a compaction " +
              "fold accounting for them (batch_id=-1/_folded_ids) — " +
              "refusing to adopt the damaged layout; restore the directory " +
              "or finish/rerun compaction")
          spark.sql(s"MSCK REPAIR TABLE $table SYNC PARTITIONS")
          spark.catalog.refreshTable(table)
        }
      }
      true
    } else {
      val leaves = diskParts().filter(committed)
      if (leaves.isEmpty) false
      else {
        // schema from a COMMITTED leaf dir's files — the raw data carries
        // everything but the partition column
        val dataSchema = spark.read.parquet(leaves.minBy(_.getPath.getName).getPath.toString).schema
        createBatchTableEntry(spark, table, path, bucketCol, nBuckets,
          dataSchema.toDDL + ", batch_id BIGINT")
        true
      }
    }
  }

  /** Fold provenance (ADVICE r5): which real batch partitions past
    * compactions absorbed into `batch_id=-1`. Read side of the `_folded_ids`
    * marker `compactBatchBucketed` writes; empty when no fold ever ran (or
    * the -1 dir itself is gone — in which case NO removal is accounted for).
    */
  private[io] def readFoldedIds(
      fs: org.apache.hadoop.fs.FileSystem, root: String): Set[String] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val m = new HPath(s"$root/batch_id=-1/_folded_ids")
    if (!fs.exists(m)) Set.empty
    else {
      val in = fs.open(m)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().map(_.trim).filter(_.nonEmpty).toSet
      finally in.close()
    }
  }

  private[io] def writeFoldedIds(
      fs: org.apache.hadoop.fs.FileSystem, root: String, ids: Set[String]): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val out = fs.create(new HPath(s"$root/batch_id=-1/_folded_ids"), true)
    try out.write(ids.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  // the OPTIONS clause (not TBLPROPERTIES) is what lands in the relation's
  // storage properties, where insertInto reads partitionOverwriteMode
  private def createBatchTableEntry(
      spark: SparkSession,
      table: String,
      path: String,
      bucketCol: String,
      nBuckets: Int,
      schemaDdl: String): Unit = {
    spark.sql(
      s"""CREATE TABLE $table ($schemaDdl) USING parquet
         |OPTIONS ('partitionOverwriteMode'='dynamic')
         |PARTITIONED BY (batch_id)
         |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) INTO $nBuckets BUCKETS
         |LOCATION '$path'""".stripMargin)
    spark.sql(s"ALTER TABLE $table RECOVER PARTITIONS")
    spark.catalog.refreshTable(table)
  }

  /** Compact a batch-partitioned bucketed corpus table (the
    * [[writeBatchBucketed]] layout): every partition EXCEPT the newest folds
    * into a single `batch_id=-1` partition with one file per bucket; the
    * newest batch's partition is carried over untouched. As in
    * `EdgeLog.compact`, keeping the newest out of the fold makes the op safe
    * against a CRASHED stream — the one batch that can be uncommitted in the
    * checkpoint is the newest, and the restart's replay dynamically
    * overwrites that partition in place (folding it first would let the
    * replay re-add its rows beside the folded copy, re-creating the
    * duplicate-corpus-row bug this layout exists to prevent). Same
    * small-file motivation and pause-writers constraint as
    * [[compactBucketed]]; the swap additionally recreates the catalog entry
    * (partition metadata must forget the folded `batch_id` values).
    * Readers' `batch_id < currentBatch` pruning still works: -1 is below
    * every real batch id. Crash-safe: data is fully staged at a tmp path
    * before any destructive step; a crash between the renames auto-recovers
    * from the _bak dir on the next call.
    */
  def compactBatchBucketed(
      spark: SparkSession,
      table: String,
      path: String,
      bucketCol: String,
      nBuckets: Int): Unit = {
    import org.apache.hadoop.fs.{FileSystem, FileUtil, Path => HPath}
    import org.apache.spark.sql.functions.{col, lit}
    val tmpTable = table + "_compact_tmp"
    val tmpPath = path + "_compact_tmp"
    val bakPath = path + "_compact_bak"
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(new java.net.URI(path), conf)
    // crash recovery, in dependency order: restore a live dir from _bak if
    // the crash fell between the two renames, then restore the catalog entry
    // if the crash fell between DROP and CREATE (ensureBatchTable rebuilds
    // it from a leaf dir's files)
    if (!fs.exists(new HPath(path)) && fs.exists(new HPath(bakPath))) {
      require(fs.rename(new HPath(bakPath), new HPath(path)),
        s"compactBatchBucketed: crash recovery rename $bakPath -> $path failed")
    }
    require(ensureBatchTable(spark, table, path, bucketCol, nBuckets),
      s"compactBatchBucketed: neither table $table nor data at $path exists")
    spark.catalog.refreshTable(table)
    val ids = fs.listStatus(new HPath(path))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .map(_.getPath.getName.stripPrefix("batch_id=").toLong)
    require(ids.nonEmpty, s"compactBatchBucketed: no batch partitions at $path")
    val maxId = ids.max
    if (ids.length == 1) return // one batch only: nothing to fold
    val schemaDdl = spark.table(table).schema.toDDL
    val folded = spark.table(table).where(col("batch_id") =!= maxId)
      .drop("batch_id")
      .repartition(nBuckets, col(bucketCol))
      .withColumn("batch_id", lit(-1L))
    fs.delete(new HPath(tmpPath), true)
    spark.sql(s"DROP TABLE IF EXISTS $tmpTable")
    folded.write.partitionBy("batch_id")
      .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
      .option("path", tmpPath).format("parquet").saveAsTable(tmpTable)
    spark.sql(s"DROP TABLE $tmpTable") // external: metadata only, files stay
    // the newest batch rides over as-is (copy, not move: the original dir
    // stays complete until the swap, so a crash anywhere recovers from _bak;
    // bucket file naming is preserved, so the join guarantee is too)
    FileUtil.copy(fs, new HPath(s"$path/batch_id=$maxId"),
      fs, new HPath(s"$tmpPath/batch_id=$maxId"), false, conf)
    // fold provenance (ADVICE r5): record every REAL batch partition this
    // fold absorbs — merged with what previous folds recorded (re-compaction
    // folds the old -1 partition too) — so ensureBatchTable can tell a
    // legitimate fold outcome from external partition loss. Staged with the
    // data: the marker lands inside the tmp dir before any destructive step.
    val absorbed = readFoldedIds(fs, path) ++
      ids.filter(i => i != maxId && i != -1L).map(i => s"batch_id=$i")
    writeFoldedIds(fs, tmpPath, absorbed)
    spark.sql(s"DROP TABLE $table")
    fs.delete(new HPath(bakPath), true)
    require(fs.rename(new HPath(path), new HPath(bakPath)),
      s"compactBatchBucketed: rename $path -> $bakPath failed")
    require(fs.rename(new HPath(tmpPath), new HPath(path)),
      s"compactBatchBucketed: rename $tmpPath -> $path failed (original at $bakPath)")
    fs.delete(new HPath(bakPath), true)
    createBatchTableEntry(spark, table, path, bucketCol, nBuckets, schemaDdl)
  }

  /** Compact a bucketed external table in place: every micro-batch append
    * (`IncrementalLink` / `IncrementalDedup` corpus tables) adds one file per
    * bucket per writing task, so a long-running stream accumulates thousands
    * of small files per bucket — eventually the FILE LISTING, not the data,
    * dominates every per-batch join. One compaction pass rewrites the table
    * to one file per bucket (same bucket spec, so joins stay exchange-free)
    * and re-registers it at the SAME path. Maintenance op: pause writers
    * while it runs (readers of the old files race the directory swap).
    *
    * Mechanics: rewrite through a temp bucketed table (bucket-id file naming
    * must come from a real bucketed write), then swap directories under the
    * UNCHANGED catalog entry (same schema, bucket spec and location, so no
    * drop/re-create) — renaming a dir preserves the bucket-id file suffixes
    * Spark maps buckets with. Crash safety: the original dir is renamed
    * aside to `<path>_compact_bak` before the compacted dir moves in, and
    * only deleted after — no window where the corpus exists nowhere. A crash
    * between the two renames leaves the data only in the _bak dir; the next
    * compaction auto-recovers by renaming it back into place before reading
    * (ADVICE r4), and a leftover _tmp dir is simply overwritten.
    */
  def compactBucketed(
      spark: SparkSession,
      table: String,
      path: String,
      bucketCol: String,
      nBuckets: Int): Unit = {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val tmpTable = table + "_compact_tmp"
    val tmpPath = path + "_compact_tmp"
    val bakPath = path + "_compact_bak"
    // auto-recovery from a crash between the two renames below: the live dir
    // is gone but the original survives at _bak — restore it before reading
    // (without this, the spark.read below fails and recovery is manual)
    locally {
      val fs0 = FileSystem.get(new java.net.URI(path), spark.sessionState.newHadoopConf())
      val (live, bak) = (new HPath(path), new HPath(bakPath))
      if (!fs0.exists(live) && fs0.exists(bak)) {
        require(fs0.rename(bak, live),
          s"compactBucketed: crash recovery rename $bakPath -> $path failed")
      }
    }
    spark.catalog.refreshTable(table)
    // read the FILES, not the catalog table: a bucketed-table scan carries
    // its own output partitioning, which let the planner produce one file
    // per (bucket × task) on rewrite; a plain scan + repartition on the
    // bucket column aligns tasks with bucket ids exactly
    val df = spark.read.parquet(path)
    df.repartition(nBuckets, df(bucketCol)) // one task per bucket -> one file per bucket
      .write.mode("overwrite")
      .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
      .option("path", tmpPath).format("parquet").saveAsTable(tmpTable)
    spark.sql(s"DROP TABLE $tmpTable") // external: metadata only, files stay
    val fs = FileSystem.get(new java.net.URI(path), spark.sessionState.newHadoopConf())
    fs.delete(new HPath(bakPath), true)
    require(fs.rename(new HPath(path), new HPath(bakPath)),
      s"compactBucketed: rename $path -> $bakPath failed")
    require(fs.rename(new HPath(tmpPath), new HPath(path)),
      s"compactBucketed: rename $tmpPath -> $path failed (original preserved at $bakPath)")
    fs.delete(new HPath(bakPath), true)
    spark.catalog.refreshTable(table)
  }
}

/** Checkpoint manifest for mid-pipeline resume (BASELINE north_rule
  * "resumable from checkpoint"). Each completed stage is one line of
  * `outDir/_graft_manifest.tsv`, appended atomically after the stage's
  * parquet lands:
  *
  * {{{
  *   name<TAB>path<TAB>rows[<TAB>k=v;k=v...]
  * }}}
  *
  * `rows` and the optional named counters (`k=v`, long values, `;`-joined)
  * are observed on the stage's write itself (`Dataset.observe`), so a stage
  * costs its write job and nothing else: no re-count, no schema inference.
  * Lines without the 4th field (outDirs written before counters existed, or
  * hand-recorded) parse with no counters. A later line for a stage
  * supersedes an earlier one. A rerun with the same outDir skips completed
  * stages by reading their parquet.
  */
class StageManifest(outDir: String) {
  import StageManifest.Entry

  private val p = Paths.get(outDir, "_graft_manifest.tsv")

  def entries: Map[String, Entry] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty).map { l =>
        val a = l.split('\t')
        val counters =
          if (a.length < 4) Map.empty[String, Long]
          else a(3).split(';').filter(_.nonEmpty).map { kv =>
            val i = kv.indexOf('=')
            kv.take(i) -> kv.drop(i + 1).toLong
          }.toMap
        a(0) -> Entry(a(1), a(2).toLong, counters)
      }.toMap

  def completed: Map[String, String] = entries.map { case (k, e) => k -> e.path }

  /** Row counts recorded when each stage landed — summary epilogues read
    * these instead of re-running count jobs over stage parquet (every
    * driver-side action is serial fixed cost; VERDICT r3 #8).
    */
  def completedRows: Map[String, Long] = entries.map { case (k, e) => k -> e.rows }

  /** The counters a completed stage recorded (see [[stage]]). */
  def counters(stage: String): Map[String, Long] = entries(stage).counters

  def record(stage: String, path: String, rows: Long,
      counters: Map[String, Long] = Map.empty): Unit = {
    Files.createDirectories(p.getParent)
    val extra =
      if (counters.isEmpty) ""
      else counters.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("\t", ";", "")
    val line = s"$stage\t$path\t$rows$extra\n"
    Files.writeString(p, line, StandardCharsets.UTF_8,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }

  /** Run-or-resume one stage: compute + persist once, then always serve from
    * parquet (also truncates lineage at every stage boundary).
    *
    * `counters` are named aggregates (e.g. `count(when(cond, 1))`) observed
    * on the same write as the row count and recorded with it; a null result
    * (a `sum` over no rows) records 0. A completed stage whose line lacks
    * one of them is recomputed — stage outputs are deterministic — so the
    * caller can always read [[counters]] afterwards. The fresh frame is read
    * back with the written schema, made nullable the way a parquet
    * round-trip makes it; only a resumed stage infers its schema.
    */
  def stage(spark: SparkSession, name: String, counters: (String, Column)*)(
      compute: => DataFrame): DataFrame = {
    val path = s"$outDir/$name"
    entries.get(name) match {
      case Some(e) if counters.forall(c => e.counters.contains(c._1)) =>
        spark.read.parquet(e.path)
      case _ =>
        require(!counters.exists(_._1 == "rows") && counters.forall(c =>
          c._1.nonEmpty && !c._1.exists(";=\t\n".contains(_))),
          s"stage $name: counter names must be non-empty, not 'rows', without ;=TAB")
        val df = compute
        val obs = Observation()
        val named = (("rows" -> count(lit(1))) +: counters).map { case (k, c) => c.as(k) }
        df.observe(obs, named.head, named.tail: _*).write.mode("overwrite").parquet(path)
        val got = obs.get.map { case (k, v) =>
          k -> Option(v).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
        }
        record(name, path, got("rows"), got - "rows")
        spark.read.schema(StageManifest.readBackSchema(df.schema)).parquet(path)
    }
  }
}

object StageManifest {
  final case class Entry(path: String, rows: Long, counters: Map[String, Long])

  /** The schema a parquet round-trip gives `s`: every field, array element
    * and map value becomes nullable, at every depth.
    */
  private[io] def readBackSchema(s: StructType): StructType = {
    def nullable(t: DataType): DataType = t match {
      case st: StructType => readBackSchema(st)
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
      case other => other
    }
    StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
  }
}
