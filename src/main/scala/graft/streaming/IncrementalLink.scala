package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.io.Tables
import graft.model.{Doc, MatchConfig}
import graft.pipeline.ErPipeline

/** Structured-Streaming re-expression of the reference's incremental behavior
  * (SURVEY.md §2.9): ES scores at query time — index a doc, the next query sees
  * it; Duke's incremental dedup is repeated `Processor.deduplicate(batch)`
  * against a growing Database. Here:
  *
  *  - `dedupStream`: stateful exact-dedup keyed on content fingerprint via
  *    `flatMapGroupsWithState` (first-seen vs duplicate decisions, the
  *    KeyValueGroupedDataset custom-state path);
  *  - `linkStream`: micro-batch incremental record linkage via `foreachBatch` —
  *    each batch extracts + blocks the new docs, scores them against the
  *    accumulated corpus (new-vs-all + new-vs-new), and appends match edges;
  *    the corpus itself grows by the batch (Duke's Database.index analog).
  */
/** Per-micro-batch metrics row, shared by both streaming jobs (the streaming
  * twin of the batch jobs' metrics stage). Each batch OVERWRITES its own
  * `batch_id=<k>` partition dir, so foreachBatch's at-least-once replay
  * rewrites the same row instead of appending a duplicate — the same
  * idempotence discipline as `LabelCommit`. Read the parent dir to get
  * (docs, edges, ts, batch_id) with batch_id inferred from the layout.
  * One tiny dir per batch is the floor for per-batch observability; the
  * growth is on the METRICS read path only (never the hot path), and a
  * long-lived stream can aggregate old rows offline if the listing ever
  * matters.
  */
private[streaming] object BatchMetrics {
  def write(spark: SparkSession, dir: String, batchId: Long,
      docs: Long, edges: Long): Unit = {
    import spark.implicits._
    Seq((docs, edges, System.currentTimeMillis()))
      .toDF("docs", "edges", "ts")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/batch_id=$batchId")
  }
}

/** Trickle-batch probe pruning: when a micro-batch touches few distinct
  * block keys, append a semantically-REDUNDANT `key IN (...)` filter to the
  * accumulated corpus-blocks read. The downstream equi-join on `key` already
  * restricts the probe to exactly these keys, so the filter cannot change
  * any result — it exists purely as an access-path hint. The blocks tables
  * are bucketed AND sorted by `key` (`Tables.writeBatchBucketed`), so a
  * literal IN-list lets Spark prune bucket FILES (SelectedBucketsCount —
  * engaged whenever the plan keeps the bucketed scan, which the per-batch
  * groupBy/join on `key` does; probed on 4.1.2) and parquet row groups
  * (pushed In filter against sorted column stats), turning the per-batch
  * probe from an O(accumulated-corpus) scan into an O(affected-buckets)
  * read — the same affected-partitions discipline as `LabelCommit`,
  * applied to the read side. Skipped beyond `maxKeys`
  * distinct keys (the `limit(maxKeys + 1)` bounds the driver collect to a
  * constant, keeping the no-unbounded-collect rule): a batch touching most
  * buckets prunes nothing, and the exchange-free full scan is the better
  * plan there anyway.
  */
private[streaming] object ProbePrune {
  val MaxKeys = 1024

  /** The bounded key list behind the hint, exposed so callers can CHAIN
    * prunes without paying for hopeless ones: `None` means the source holds
    * more than `maxKeys` distinct values — no filter is worth building (and
    * for the records/fps b-side, not even the key collect: a batch that
    * touches most buckets makes the derived id set unbounded too, so the
    * full exchange-free scan is the right plan and the extra driver action
    * pure regression — measured on StreamScale local[2]).
    */
  def keyList(source: DataFrame, keyCol: String,
      maxKeys: Int = MaxKeys): Option[Seq[Any]] = {
    val ks = source.select(keyCol).distinct()
      .limit(maxKeys + 1).collect().map(_.get(0))
    if (ks.length > maxKeys) None else Some(ks.toIndexedSeq)
  }

  def apply(oldBlocks: DataFrame, batchBlocks: DataFrame, keyCol: String,
      maxKeys: Int = MaxKeys): DataFrame =
    keyList(batchBlocks, keyCol, maxKeys) match {
      case None     => oldBlocks
      case Some(ks) => oldBlocks.where(col(keyCol).isin(ks: _*))
    }
}


/** Per-micro-batch incremental cluster-label maintenance, shared by
  * `IncrementalLink.linkStream` (match-edge clusters) and
  * `IncrementalDedup.nearDupStream` (near-dup clusters): fold one batch's
  * edges into the standing (doc_id, cluster_id) labeling via
  * `Cluster.mergeDelta` and commit through a dual-layout [[graft.io.LabelStore]]
  * — cluster-partitioned for the write (O(affected clusters), never
  * O(corpus); VERDICT r3 #2), doc-partitioned for the per-batch lookups
  * (VERDICT r4 #2: both the endpoint-label lookup and the new-doc existence
  * check previously scanned the FULL label table per batch; they now share
  * ONE read pruned to the batch's doc partitions). Every batch lands as an
  * atomic, time-travelable snapshot covering both layouts. Labels stay equal
  * to a full CC over all edges so far, with edge-free docs as their own
  * singleton clusters.
  *
  * Replay safety (foreachBatch is at-least-once): both layouts commit under
  * one manifest pointer, so a replayed committed batch reads post-batch
  * labels, derives an empty delta (endpoints already merged, new docs
  * already present), and writes nothing — no ordering argument against the
  * other per-batch artifacts needed (they are each replay-idempotent on
  * their own).
  */
private[streaming] object LabelCommit {

  /** Per-commit observability (also the hook the partition-pruning tests
    * use): which doc partitions the shared lookup read, which cluster/doc
    * partitions the commit rewrote, and the snapshot id (None when the
    * delta was empty — e.g. a replayed batch — and nothing was written).
    */
  case class CommitStats(
      snapshot: Option[Long],
      lookupDocParts: Set[Int],
      clusterParts: Set[Int],
      docParts: Set[Int])

  /** @param batchEdges (a_id, b_id) match edges, pinned by the caller
    * @param newDocIds  one `doc_id` column: every doc in this batch
    * @param keepSnapshots when set, expire label snapshots to the newest N
    */
  def commit(
      spark: SparkSession,
      dir: String,
      nBuckets: Int,
      batchEdges: DataFrame,
      newDocIds: DataFrame,
      keepSnapshots: Option[Int]): CommitStats = {
    val store = new graft.io.LabelStore(dir, nBuckets)
    val stats = store.currentSnapshot match {
      case None =>
        // first batch: full labeling = CC over the batch's edges, plus this
        // batch's edge-free docs as their own singleton clusters
        val labeled = graft.pipeline.Cluster.connectedComponents(batchEdges)
          .select(col("doc_id"), col("cluster_id"))
        val singles = newDocIds.select(col("doc_id"))
          .join(labeled.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("doc_id").as("cluster_id"))
        val k = store.overwrite(labeled.unionByName(singles))
        CommitStats(Some(k), Set.empty, (0 until nBuckets).toSet, (0 until nBuckets).toSet)
      case Some(_) =>
        // ONE pruned read of the doc layout serves BOTH per-batch lookups
        // (VERDICT r4 #5): every edge endpoint and every new doc hashes into
        // `lookupParts`, so `lookup` contains the label row of every doc the
        // batch can touch — mergeDelta only joins `labels` on endpoints, and
        // the singles check only probes new docs, so the pruned superset is
        // exact for both
        // LAZY pins throughout this commit (optimization r6 / VERDICT r5 #2):
        // each pinned frame's first consumer is one of the bounded
        // partition-set collects (or the delta CC's star-forest test), so
        // the frame materializes inside that job — the old eager pins
        // serialized one dedicated materialization job per frame onto the
        // per-trigger driver floor
        val probeIds = graft.io.Persist.pinLazy(
          batchEdges.select(col(batchEdges.columns(0)).as("doc_id"))
            .union(batchEdges.select(col(batchEdges.columns(1)).as("doc_id")))
            .union(newDocIds.select(col("doc_id")))
            .distinct())
        val lookupParts = probeIds.select(store.docPart(col("doc_id")).as("p"))
          .distinct().collect().map(_.getInt(0)).toSet
        val lookup = graft.io.Persist.pinLazy(
          store.readDocPartitions(spark, lookupParts)
            .select(col("doc_id"), col("cluster_id")))
        val delta = graft.pipeline.Cluster.mergeDelta(lookup, batchEdges)
        val relabel = graft.io.Persist.pinLazy(delta.relabel)
        val added = graft.io.Persist.pinLazy(delta.added)
        // edge-free new docs enter as singletons labeled by their own id;
        // presence is checked against the pruned doc-layout lookup — exact,
        // because both layouts committed atomically last batch (a replayed
        // doc is already present whatever cluster's partition it lives in)
        val singles = graft.io.Persist.pinLazy(
          newDocIds.select(col("doc_id"))
            .join(lookup.select(col("doc_id")), Seq("doc_id"), "left_anti")
            .join(added.select(col("doc_id")), Seq("doc_id"), "left_anti")
            .select(col("doc_id"), col("doc_id").as("cluster_id")))
        // affected cluster partitions: every relabeled cluster's source and
        // target labels, plus the new docs' own labels — a cluster's members
        // all live in hash(cluster_id)'s partition, so this driver-side set
        // (≤ nBuckets ints) is exact
        val affected = relabel.select(store.clusterPart(col("lab")).as("p"))
          .union(relabel.select(store.clusterPart(col("new_lab")).as("p")))
          .union(added.select(store.clusterPart(col("cluster_id")).as("p")))
          .union(singles.select(store.clusterPart(col("cluster_id")).as("p")))
          .distinct().collect().map(_.getInt(0)).toSet
        if (affected.isEmpty) CommitStats(None, lookupParts, Set.empty, Set.empty)
        else {
          val joined = store.readClusterPartitions(spark, affected)
            .withColumnRenamed("cluster_id", "lab")
            .join(relabel, Seq("lab"), "left")
          val updated = joined.select(col("doc_id"),
            coalesce(col("new_lab"), col("lab")).as("cluster_id"))
          // doc-layout delta: exactly the rows whose (doc -> label) mapping
          // is new or changed — relabeled members (old label ≠ new), plus
          // the batch's added and singleton docs. Complete: every label
          // change goes through `relabel`, and every changed row lives in an
          // affected cluster partition (its OLD label's hash), so `joined`
          // saw it.
          val movedMembers = joined
            .where(col("new_lab").isNotNull && col("new_lab") =!= col("lab"))
            .select(col("doc_id"), col("new_lab").as("cluster_id"))
          val byDocChanged = graft.io.Persist.pinLazy(
            movedMembers.unionByName(added).unionByName(singles))
          val docParts = byDocChanged.select(store.docPart(col("doc_id")).as("p"))
            .distinct().collect().map(_.getInt(0)).toSet
          val byDocRows = store.readDocPartitions(spark, docParts)
            .join(byDocChanged.select(col("doc_id")), Seq("doc_id"), "left_anti")
            .unionByName(byDocChanged)
          val k = store.commitPartitions(
            updated.unionByName(added).unionByName(singles), affected,
            byDocRows, docParts)
          CommitStats(Some(k), lookupParts, affected, docParts)
        }
    }
    keepSnapshots.foreach(store.expireSnapshots)
    stats
  }
}

object IncrementalLink {

  case class DedupDecision(doc_id: String, fingerprint: Long, duplicate_of: Option[String])

  /** Content fingerprint of a doc's text spans (same rolling hash as the batch
    * fingerprint op).
    */
  def fingerprint(doc: Doc): Long = {
    var h = 0L
    doc.spans.foreach { s =>
      if (s.text != null) {
        var i = 0
        while (i < s.text.length) { h = (h * 31 + s.text.charAt(i)) % 1000000007L; i += 1 }
        h = (h * 31 + 7) % 1000000007L // span separator
      }
    }
    h
  }

  /** Stateful exact dedup: state = first doc_id seen per fingerprint; later
    * arrivals emit `duplicate_of = Some(first)`.
    *
    * @param idleTimeout when set, fingerprint state idle past this horizon is
    *                    evicted (ProcessingTimeTimeout) so the store is
    *                    bounded by the ACTIVE fingerprint set, not stream
    *                    history — the standard trade for unbounded streams: a
    *                    duplicate arriving after the horizon re-registers as
    *                    first-seen. None (default) keeps exact global dedup.
    */
  def dedupStream(
      docs: Dataset[Doc],
      idleTimeout: Option[scala.concurrent.duration.Duration] = None): Dataset[DedupDecision] = {
    import docs.sparkSession.implicits._
    val timeoutConf = idleTimeout
      .map(_ => GroupStateTimeout.ProcessingTimeTimeout())
      .getOrElse(GroupStateTimeout.NoTimeout())
    docs.map(d => (fingerprint(d), d.doc_id))
      .groupByKey(_._1)
      .flatMapGroupsWithState[String, DedupDecision](
        OutputMode.Append(), timeoutConf) {
        case (fp, rows, state: GroupState[String]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.map(_._2).toSeq.sorted // deterministic within batch
            var first = state.getOption
            val out = sorted.map { id =>
              first match {
                case None =>
                  first = Some(id); state.update(id)
                  DedupDecision(id, fp, None)
                case Some(f) =>
                  DedupDecision(id, fp, Some(f))
              }
            }
            idleTimeout.foreach(t => state.setTimeoutDuration(t.toMillis))
            out.iterator
          }
      }
  }

  /** Watermarked per-window classification counts over a scored stream —
    * the streaming metrics face of P4 (SURVEY.md §2.9: watermark + windowed
    * aggregation). Input needs an event-time column and a `bucket` column
    * (`ErPipeline.classify` output); state is bounded by the watermark: a
    * window finalizes (appends) once event time passes window end + delay,
    * and later-than-watermark rows are dropped, so the state store never
    * grows with stream length.
    */
  def bucketCountsByWindow(
      classified: DataFrame,
      eventTimeCol: String,
      windowDuration: String,
      watermarkDelay: String): DataFrame =
    classified
      .withWatermark(eventTimeCol, watermarkDelay)
      .groupBy(window(col(eventTimeCol), windowDuration), col("bucket"))
      .agg(count("*").as("n"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("bucket"), col("n"))

  /** Incremental linkage: every micro-batch links its docs against the corpus
    * accumulated so far (the Duke Database analog) and appends edges.
    * Returns the started query; caller owns lifecycle.
    *
    * Scale shape: only the NEW docs are extracted and blocked each batch; a
    * persistent blocks table stands in for the inverted index, so per-batch
    * work is new-vs-new (triangular self-join) + new-vs-corpus (A-vs-B
    * linkPairs against stored blocks) — never a re-block or re-scan of the
    * whole corpus' pair space.
    *
    * @param corpusDir   the corpus lives here as two batch-partitioned
    *                    bucketed tables ([[graft.io.Tables.writeBatchBucketed]]):
    *                    `records` bucketed on doc_id and `blocks` bucketed on
    *                    key, each into `nBuckets`, so the per-batch score join
    *                    and key join leave the accumulated corpus in place
    * @param corpusTable catalog name of the records table (the blocks table
    *                    is `<name>_blocks`); None derives one from `corpusDir`
    *                    ([[graft.io.Tables.corpusTableName]])
    * @param clustersDir when set, a complete (doc_id, cluster_id) labeling is
    *                     maintained under this path across micro-batches via
    *                     `Cluster.mergeDelta` — each batch's match edges fold
    *                     into the existing labels at DELTA cost (contracted
    *                     CC over affected clusters only), and the commit
    *                     rewrites ONLY the label partitions holding affected
    *                     clusters (`LabelStore.commitPartitions`, labels
    *                     hash-partitioned on cluster_id into
    *                     `nClusterBuckets`, with a doc-partitioned twin
    *                     layout serving the per-batch lookups pruned) —
    *                     never the whole labeling. Labels
    *                     equal the batch pipeline's CC over all edges so far
    *                     (BucketedCorpusSpec).
    * @param labelSnapshotsToKeep when set, expire label snapshots after each
    *                     commit keeping the newest N (bounded storage for
    *                     unbounded streams; time travel limited to the
    *                     retained window — shared partition dirs survive as
    *                     long as any retained snapshot references them).
    *                     None (default) keeps every batch's labeling.
    * @param onBatchComplete called with the batch id as the LAST step of each
    *                     micro-batch, after every artifact (edges, labels,
    *                     metrics, corpus) has landed but BEFORE the engine
    *                     commits the batch to the checkpoint — observability
    *                     hook, and the failure-injection point the
    *                     kill/restart recovery test uses (throwing here
    *                     forces a full at-least-once replay of a batch whose
    *                     writes all completed).
    */
  def linkStream(
      stream: Dataset[Doc],
      config: MatchConfig,
      corpusDir: String,
      edgesDir: String,
      checkpointDir: String,
      corpusTable: Option[String] = None,
      nBuckets: Int = 8,
      clustersDir: Option[String] = None,
      nClusterBuckets: Int = 8,
      labelSnapshotsToKeep: Option[Int] = None,
      onBatchComplete: Long => Unit = _ => ()): StreamingQuery = {
    val spark = stream.sparkSession
    import spark.implicits._

    // Read-gate catalog state cached across micro-batches (VERDICT r5 #2 —
    // the per-trigger driver floor): ensureBatchTable's reconcile costs a
    // SHOW PARTITIONS collect + a listStatus EVERY batch, yet this stream is
    // the table's only writer — once the gate has reconciled/recreated the
    // entry in this JVM it stays valid for the stream's lifetime. The cache
    // lives in the foreachBatch closure, so a restart (fresh closure, the
    // cross-JVM-maintenance window) re-runs the full gate; stale state that
    // could only arise from a concurrent external writer (disallowed by the
    // compaction contract) fails loudly at the read instead of silently.
    val gateSeen = scala.collection.mutable.Set[String]()
    def gated(key: String)(check: => Boolean): Boolean =
      gateSeen.contains(key) || { val ok = check; if (ok) gateSeen += key; ok }
    val recordsDir = s"$corpusDir/records"
    val blocksDir = s"$corpusDir/blocks"
    val recordsTable = corpusTable.getOrElse(Tables.corpusTableName(corpusDir))
    val blocksTable = recordsTable + "_blocks"

    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Doc], batchId: Long) =>
        // lazy pin: the emptiness-gate count right below materializes it
        val newRecords = graft.io.Persist.pinLazy(
          ErPipeline.extract(batch, config).toDF()).as[ErPipeline.CleanRecord]
        // ONE count over the pinned batch (cached-block scan) doubles as the
        // emptiness gate and the metrics doc count (VERDICT r5 #2: the
        // isEmpty probe + a separate metrics count were two driver actions)
        val nDocs = newRecords.toDF().count()
        if (nDocs > 0) {
          // blocking scheme = the config's lookup flags, SAME as batch
          // LinkJob stage ② (ADVICE r3: a lookup-flagged config must stream
          // the same candidate set it links in batch)
          val keyers = graft.pipeline.Blocking.fromConfig(config)
          // lazy pin: materialized by the pair generation's skew-stats job
          val newBlocks = graft.io.Persist.pinLazy(
            ErPipeline.block(newRecords, keyers).toDF()).as[ErPipeline.BlockRow]
          // ensureBatchTable, not tableExists: the catalog is per-JVM, so a
          // restart in a fresh JVM must rebuild the entries from the on-disk
          // layout rather than score against a falsely "empty" corpus. BOTH
          // tables must have a committed batch: a crash between the records
          // write and the blocks write must not leave the blocks read failing
          val hasCorpus =
            gated(recordsTable)(Tables.ensureBatchTable(spark, recordsTable, recordsDir, "doc_id", nBuckets)) &&
              gated(blocksTable)(Tables.ensureBatchTable(spark, blocksTable, blocksDir, "key", nBuckets))
          // the accumulated corpus records: scoring's b-side, previous
          // batches only (see Tables.readBatchesBefore). doc_id-bucketed, so
          // the score join leaves it in place (buckets span the batch
          // partitions).
          val corpusRecs: Option[Dataset[ErPipeline.CleanRecord]] =
            if (!hasCorpus) None
            else Some(Tables.readBatchesBefore(spark, recordsTable, batchId)
              .as[ErPipeline.CleanRecord])

          // new-vs-new pairs score against the (small, pinned) batch records;
          // new-vs-old pairs score with the a-side = batch, b-side = corpus —
          // the corpus is only ever the BUILD side of one join, never unioned
          // into the probe (a union would both re-shuffle the corpus each
          // micro-batch and discard its bucketed distribution)
          val (nnPairs, _) = ErPipeline.pairs(newBlocks)
          val scoredNew = ErPipeline.score(nnPairs, newRecords, config)
          val scored = corpusRecs match {
            case None => scoredNew
            case Some(corpus) =>
              // blocks bucketed on key: the per-batch linkPairs groupBy and
              // key-join read the corpus blocks pre-clustered
              val rawOldBlocks = Tables.readBatchesBefore(spark, blocksTable, batchId)
              val keyHint = ProbePrune.keyList(newBlocks.toDF(), "key")
              val oldBlocks = keyHint.fold(rawOldBlocks)(ks =>
                rawOldBlocks.where(col("key").isin(ks: _*))).as[ErPipeline.BlockRow]
              val (noPairs, _) = ErPipeline.linkPairs(newBlocks, oldBlocks)
              // prune the score join's b-side the same way (VERDICT r5 #1 —
              // the last O(accumulated-corpus) read in the loop): every
              // candidate b_id is an old-block doc under one of the batch's
              // keys, so a redundant `doc_id IN (...)` over the bounded
              // old-block id set lets the doc_id-bucketed records table
              // prune bucket files + row groups instead of scanning every
              // accumulated record (and its fat props) per trigger. Only
              // attempted when the BLOCKS probe pruned (a genuine trickle
              // batch): with most buckets touched, the id set is unbounded
              // and the full exchange-free scan is the better plan — the
              // extra collect there was a measured per-batch regression.
              val corpusB =
                if (keyHint.isEmpty) corpus
                else ProbePrune(corpus.toDF(), oldBlocks.toDF(), "doc_id")
                  .as[ErPipeline.CleanRecord]
              scoredNew.unionByName(
                ErPipeline.score(noPairs, newRecords, corpusB, config))
          }
          // linkPairs keeps (new, old) orientation; normalize to (min, max)
          // so streamed edges equal the batch pipeline's bit-for-bit
          // lazy pin: the EdgeLog write right below materializes it; the
          // label commit and the metrics count then read the pinned blocks
          val batchEdges = graft.io.Persist.pinLazy(
            ErPipeline.matchEdges(scored, config)
              .select(least(col("a_id"), col("b_id")).as("a_id"),
                greatest(col("a_id"), col("b_id")).as("b_id")))
          // replay-idempotent: overwrites the batch's own partition dir
          graft.io.EdgeLog.write(batchEdges, edgesDir, batchId)

          // incremental transitive clusters: fold this batch's edges into the
          // standing labels, rewriting only affected partitions (LabelCommit)
          clustersDir.foreach { dir =>
            LabelCommit.commit(spark, dir, nClusterBuckets, batchEdges,
              newRecords.toDF().select(col("doc_id")), labelSnapshotsToKeep)
          }

          // per-batch metrics beside the corpus (north rule "metric'd");
          // the doc count rides the emptiness gate above, the edge count is
          // one cached-block scan of the pinned edges
          BatchMetrics.write(spark, s"$corpusDir/metrics", batchId,
            nDocs, batchEdges.count())
          // grow the corpus + its blocks table (Database.index analog). Each
          // batch lands in its own batch_id partition, which a replay
          // OVERWRITES instead of appending duplicate rows (VERDICT r4 #1)
          Tables.writeBatchBucketed(
            newRecords.toDF(), recordsTable, recordsDir, "doc_id", nBuckets, batchId)
          Tables.writeBatchBucketed(
            newBlocks.toDF(), blocksTable, blocksDir, "key", nBuckets, batchId)
        }
        onBatchComplete(batchId)
      }
      .start()
  }
}
