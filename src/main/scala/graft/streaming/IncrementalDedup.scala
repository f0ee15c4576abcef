package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.TrainingOps
import graft.io.Tables

/** Streaming near-duplicate detection over a `documents(doc_id, text)` stream
  * — the incremental face of `jobs.DedupJob`, built on the observation that
  * MinHash band keys ARE blocking keys: a band value is a candidate-retrieval
  * key exactly like a surname soundex, so the shared [[CorpusStream]] trigger
  * applies unchanged. Its extract is one fingerprint + band kernel pass, its
  * blocks are the `<band>:<value>` keys, the corpus keeps `(doc_id, fps)`,
  * and the edge function verifies candidates with exact shingle-set Jaccard
  * at `jaccardMinMicro`.
  *
  * The union of streamed edges over all batches equals the batch pipeline's
  * verified candidate set over the same documents; IncrementalDedupSpec
  * asserts set equality against the batch path.
  */
object IncrementalDedup {

  /** @param corpusTable catalog name prefix of the corpus tables
    *                     (`<name>_bands` bucketed on key, `<name>_fps` on
    *                     doc_id, under `corpusDir/bandblocks` and
    *                     `corpusDir/fps`); None derives one from `corpusDir`
    *                     ([[graft.io.Tables.corpusTableName]])
    * @param clustersDir when set, a complete (doc_id, cluster_id) near-dup
    *                     cluster labeling is maintained across micro-batches —
    *                     the streaming analog of `DedupJob`'s decisions stage:
    *                     keep = (doc_id == cluster_id). The same label
    *                     store and delta commit as `linkStream` (LabelCommit);
    *                     labels equal full CC over all streamed edges, with
    *                     edge-free docs as singletons (IncrementalDedupSpec).
    *                     `nClusterBuckets` and `labelSnapshotsToKeep` as in
    *                     `IncrementalLink.linkStream`.
    * @param onBatchComplete see `IncrementalLink.linkStream` — the same
    *                     end-of-batch observability / failure-injection hook.
    */
  def nearDupStream(
      stream: DataFrame, // streaming (doc_id: bigint, text: string)
      corpusDir: String,
      edgesDir: String,
      checkpointDir: String,
      corpusTable: Option[String] = None,
      nBuckets: Int = 8,
      cfg: TrainingOps.Config = TrainingOps.config,
      clustersDir: Option[String] = None,
      nClusterBuckets: Int = 8,
      labelSnapshotsToKeep: Option[Int] = None,
      onBatchComplete: Long => Unit = _ => ()): StreamingQuery = {
    def bandBlocks(b: DataFrame): DataFrame =
      b.selectExpr("doc_id", s"posexplode(${TrainingOps.bandArray(cfg.minhashBands)}) AS (bix, bval)")
        .selectExpr("CAST(doc_id AS STRING) AS doc_id", "concat(bix, ':', bval) AS key")
    def verified(cand: DataFrame, a: DataFrame, b: DataFrame): DataFrame = TrainingOps.jaccardVerify(
      cand.select(col("a_id").cast("long").as("a_id"), col("b_id").cast("long").as("b_id")),
      a, b, cfg.jaccardMinMicro)
    val tn = corpusTable.getOrElse(Tables.corpusTableName(corpusDir))
    CorpusStream.start(stream,
      extract = TrainingOps.bandedFps(_, cfg.minhashBands), blocks = bandBlocks, payload = Seq("doc_id", "fps"),
      pairCfg = cfg.pairCfg, edges = verified,
      payloadAt = (tn + "_fps", "fps"), blocksAt = (tn + "_bands", "bandblocks"),
      corpusDir = corpusDir, edgesDir = edgesDir, checkpointDir = checkpointDir,
      nBuckets = nBuckets, clustersDir = clustersDir, nClusterBuckets = nClusterBuckets,
      labelSnapshotsToKeep = labelSnapshotsToKeep, onBatchComplete = onBatchComplete)
  }
}
