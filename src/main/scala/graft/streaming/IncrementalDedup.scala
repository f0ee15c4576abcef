package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.TrainingOps
import graft.io.Tables
import graft.pipeline.ErPipeline

/** Streaming near-duplicate detection over a `documents(doc_id, text)` stream
  * — the incremental face of `jobs.DedupJob`, built on the observation that
  * MinHash band keys ARE blocking keys: a band value is a candidate-retrieval
  * key exactly like a surname soundex, so the ER pair machinery applies
  * unchanged.
  *
  * Per micro-batch:
  *  - fingerprint + band the NEW docs (one kernel pass, pinned);
  *  - new-vs-new candidates = `ErPipeline.pairs` over the batch's band rows
  *    (salted triangular self-join, capped);
  *  - new-vs-corpus candidates = `ErPipeline.linkPairs` against the stored
  *    band table (2-D grid-salted, capped — a hot band bucket in the corpus
  *    cannot go quadratic against a hot batch);
  *  - verify with exact shingle-set Jaccard at `jaccardMinMicro`, append
  *    edges, then grow the corpus band + fingerprint tables (batch-partitioned
  *    and bucketed on key / doc_id, so the per-batch join and verify reads
  *    leave the corpus in place).
  *
  * The union of streamed edges over all batches equals the batch pipeline's
  * verified candidate set over the same documents (every pair lands in the
  * later doc's batch — new-vs-new if same batch, new-vs-corpus otherwise);
  * IncrementalDedupSpec asserts set equality against the batch path.
  */
object IncrementalDedup {

  private def banded(docs: DataFrame): DataFrame =
    TrainingOps.shingleFps(docs.select(col("doc_id"), col("text")))
      .selectExpr(Seq("doc_id", "fps") ++
        (0 until TrainingOps.config.minhashBands).map(j =>
          s"${TrainingOps.minhashBandSpark(j)} AS band$j"): _*)

  private def bandBlocks(b: DataFrame): DataFrame =
    b.selectExpr("doc_id",
      s"posexplode(array(${(0 until TrainingOps.config.minhashBands)
        .map(j => s"band$j").mkString(",")})) AS (bix, bval)")
      .selectExpr("CAST(doc_id AS STRING) AS doc_id", "concat(bix, ':', bval) AS key")

  /** @param corpusTable catalog name prefix of the corpus tables
    *                     (`<name>_bands` bucketed on key, `<name>_fps` on
    *                     doc_id, under `corpusDir/bandblocks` and
    *                     `corpusDir/fps`); None derives one from `corpusDir`
    *                     ([[graft.io.Tables.corpusTableName]])
    * @param clustersDir when set, a complete (doc_id, cluster_id) near-dup
    *                     cluster labeling is maintained across micro-batches —
    *                     the streaming analog of `DedupJob`'s decisions stage:
    *                     keep = (doc_id == cluster_id). Same partitioned
    *                     delta-commit machinery as `linkStream` (LabelCommit);
    *                     labels equal full CC over all streamed edges, with
    *                     edge-free docs as singletons (IncrementalDedupSpec).
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

    // read-gate catalog state cached across micro-batches — see
    // IncrementalLink.linkStream (VERDICT r5 #2); fresh closure on restart
    // re-runs the full gate
    val gateSeen = scala.collection.mutable.Set[String]()
    def gated(key: String)(check: => Boolean): Boolean =
      gateSeen.contains(key) || { val ok = check; if (ok) gateSeen += key; ok }
    val fpsDir = s"$corpusDir/fps"
    val blocksDir = s"$corpusDir/bandblocks"
    val tn = corpusTable.getOrElse(Tables.corpusTableName(corpusDir))
    val (bandsTable, fpsTable) = (tn + "_bands", tn + "_fps")

    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        // lazy pin: the emptiness-gate count right below materializes it
        val newBanded = graft.io.Persist.pinLazy(banded(batch))
        // ONE count doubles as the emptiness gate and the metrics doc count
        // (VERDICT r5 #2)
        val nDocs = newBanded.count()
        if (nDocs > 0) {
          // ensureBatchTable, not tableExists: the catalog is per-JVM, so a
          // restart in a fresh JVM must rebuild the entries from the on-disk
          // layout rather than verify against a falsely "empty" corpus. BOTH
          // tables must have a committed batch: a crash between the bands
          // write and the fps write must not leave one of the reads failing
          val hasCorpus =
            gated(bandsTable)(Tables.ensureBatchTable(spark, bandsTable, blocksDir, "key", nBuckets)) &&
              gated(fpsTable)(Tables.ensureBatchTable(spark, fpsTable, fpsDir, "doc_id", nBuckets))
          // previous batches' fps (verify b-side + seen-id set for singleton
          // detection), doc_id-bucketed; previous batches only — a replay
          // must not verify the batch's own half-written twin rows
          val oldFps: Option[DataFrame] =
            if (!hasCorpus) None
            else Some(Tables.readBatchesBefore(spark, fpsTable, batchId))

          val newBlocks = bandBlocks(newBanded).as[ErPipeline.BlockRow]
          val (nnPairs, _) = ErPipeline.pairs(newBlocks, cfg.pairCfg)

          // verify a candidate set against an explicit b-side fps source:
          // both pair legs of a new-new candidate live in the batch pin;
          // only the b leg of a new-corpus candidate reads the stored table —
          // the corpus is never unioned into the probe side (a union would
          // re-shuffle the accumulated fps arrays every micro-batch and
          // discard the table's bucketing)
          def verified(cand: DataFrame, bFps: DataFrame): DataFrame = cand
            .select($"a_id".cast("long").as("a_id"), $"b_id".cast("long").as("b_id"))
            .join(newBanded.select($"doc_id".as("a_id"), $"fps".as("fa")), "a_id")
            .join(bFps.select($"doc_id".as("b_id"), $"fps".as("fb")), "b_id")
            .withColumn("inter", size(array_intersect($"fa", $"fb")).cast("long"))
            .withColumn("jacc_micro", expr(
              "CAST(FLOOR(CAST(inter AS DOUBLE) / (size(fa) + size(fb) - inter) * 1e6 + 0.5) AS BIGINT)"))
            .where($"jacc_micro" >= cfg.jaccardMinMicro)
            .select(least($"a_id", $"b_id").as("a_id"),
              greatest($"a_id", $"b_id").as("b_id"), $"jacc_micro")

          val newEdges = verified(nnPairs.toDF(), newBanded.select($"doc_id", $"fps"))
          // lazy pin: the EdgeLog write below materializes it
          val edges = graft.io.Persist.pinLazy(oldFps match {
            case None => newEdges
            case Some(corpusFps) =>
              // trickle-batch probe pruning: redundant key IN (...) hint so
              // bucket files / row groups outside the batch's bands are
              // skipped (see graft.streaming.ProbePrune)
              val rawOldBlocks = Tables.readBatchesBefore(spark, bandsTable, batchId)
              val keyHint = ProbePrune.keyList(newBlocks.toDF(), "key")
              val oldBlocks = keyHint.fold(rawOldBlocks)(ks =>
                rawOldBlocks.where($"key".isin(ks: _*))).as[ErPipeline.BlockRow]
              val (noPairs, _) = ErPipeline.linkPairs(newBlocks, oldBlocks, cfg.pairCfg)
              // prune the verify b-side fps read the same way (VERDICT r5
              // #1): candidate b_ids ⊆ old-block doc ids under the batch's
              // band keys, so a redundant `doc_id IN (...)` (cast to the fps
              // table's long ids) prunes bucket files + row groups of the
              // accumulated fps table — including its fat fps arrays —
              // instead of scanning the whole corpus per trigger. Trickle
              // batches only (blocks probe pruned — see ProbePrune.keyList)
              val prunedFps =
                if (keyHint.isEmpty) corpusFps
                else ProbePrune(corpusFps,
                  oldBlocks.toDF().select($"doc_id".cast("long").as("doc_id")), "doc_id")
              newEdges.unionByName(verified(noPairs.toDF(), prunedFps))
          })
          // replay-idempotent: overwrites the batch's own partition dir
          graft.io.EdgeLog.write(edges, edgesDir, batchId)

          // incremental near-dup clusters (keep = doc_id == cluster_id)
          clustersDir.foreach { dir =>
            LabelCommit.commit(spark, dir, nClusterBuckets,
              edges.select($"a_id", $"b_id"),
              newBanded.select($"doc_id"), labelSnapshotsToKeep)
          }

          // per-batch metrics beside the corpus (replay-idempotent — see
          // BatchMetrics); doc count rides the emptiness gate above
          BatchMetrics.write(spark, s"$corpusDir/metrics", batchId,
            nDocs, edges.count())

          // grow the corpus (band rows keyed for linkPairs; fps for verify);
          // per-batch partitions, replay overwrites its own (VERDICT r4 #1)
          Tables.writeBatchBucketed(
            newBlocks.toDF(), bandsTable, blocksDir, "key", nBuckets, batchId)
          Tables.writeBatchBucketed(
            newBanded.select($"doc_id", $"fps"), fpsTable, fpsDir, "doc_id", nBuckets, batchId)
        }
        onBatchComplete(batchId)
      }
      .start()
  }
}
