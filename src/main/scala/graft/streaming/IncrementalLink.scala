package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.io.Tables
import graft.model.{Doc, MatchConfig}
import graft.pipeline.{Blocking, ErPipeline}

/** Structured-Streaming re-expression of the reference's incremental behavior
  * (SURVEY.md §2.9): ES scores at query time — index a doc, the next query sees
  * it; Duke's incremental dedup is repeated `Processor.deduplicate(batch)`
  * against a growing Database. Here:
  *
  *  - `dedupStream`: stateful exact-dedup keyed on content fingerprint via
  *    `flatMapGroupsWithState` (first-seen vs duplicate decisions, the
  *    KeyValueGroupedDataset custom-state path);
  *  - `linkStream`: micro-batch incremental record linkage through the
  *    shared [[CorpusStream]] trigger — each batch extracts + blocks the new
  *    docs, Duke-scores them against the accumulated corpus (new-vs-all +
  *    new-vs-new), and appends match edges; the corpus itself grows by the
  *    batch (Duke's Database.index analog).
  */
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
    * accumulated so far (the Duke Database analog) and appends (a_id, b_id)
    * match edges — the [[CorpusStream]] trigger with `ErPipeline.extract`,
    * the config's blocking scheme (`Blocking.fromConfig`, the same one batch
    * LinkJob derives) and Duke scoring + `matchEdges` as the edge function.
    * Returns the started query; caller owns lifecycle.
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
    *                     maintained under this path across micro-batches as a
    *                     [[graft.io.LabelStore]]: each batch's match edges fold
    *                     into the existing labels at DELTA cost
    *                     (`Cluster.mergeDelta`, a contracted CC over affected
    *                     clusters only), and the batch writes only its new
    *                     docs' `(doc_id, lab)` rows plus one forwarding map of
    *                     the roots merged away so far — never the whole
    *                     labeling. Labels equal the batch pipeline's CC over
    *                     all edges so far (BucketedCorpusSpec).
    * @param nClusterBuckets bucket count of the label store's doc table
    *                     (bucketed on doc_id)
    * @param labelSnapshotsToKeep when set, drop the forwarding maps after each
    *                     commit but the newest N, which bounds their storage
    *                     on an unbounded stream; `readSnapshot` then reaches
    *                     only the retained batches. None (default) keeps
    *                     every batch's labeling readable.
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
    import stream.sparkSession.implicits._
    val keyers = Blocking.fromConfig(config)
    val recordsTable = corpusTable.getOrElse(Tables.corpusTableName(corpusDir))
    CorpusStream.start[Doc](stream,
      extract = batch => ErPipeline.extract(batch, config).toDF(),
      blocks = recs => ErPipeline.block(recs.as[ErPipeline.CleanRecord], config, keyers).toDF(),
      payload = Seq("doc_id", "props"),
      pairCfg = ErPipeline.PairConfig(),
      edges = (cand, a, b) => ErPipeline.matchEdges(ErPipeline.score(cand.as[ErPipeline.PairIds],
        a.as[ErPipeline.CleanRecord], b.as[ErPipeline.CleanRecord], config), config),
      payloadAt = (recordsTable, "records"), blocksAt = (recordsTable + "_blocks", "blocks"),
      corpusDir = corpusDir, edgesDir = edgesDir, checkpointDir = checkpointDir,
      nBuckets = nBuckets, clustersDir = clustersDir, nClusterBuckets = nClusterBuckets,
      labelSnapshotsToKeep = labelSnapshotsToKeep, onBatchComplete = onBatchComplete)
  }
}
