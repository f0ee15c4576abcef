package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.IncrementalDedup

/** Streaming near-dup detection must find, over all micro-batches, EXACTLY
  * the batch pipeline's verified candidate set on the same documents: every
  * pair surfaces in the later doc's batch (new-vs-new if same batch, else
  * new-vs-corpus against the stored band table).
  */
class IncrementalDedupSpec extends SparkSpec {

  private val base = (1 to 20).map(i => s"tok$i").mkString(" ")
  private def variant(last: String) = base.split(' ').dropRight(1).mkString(" ") + " " + last

  /** Batch oracle: naive band-share candidates + exact Jaccard verify. */
  private def batchEdges(docs: Seq[(Long, String)]): Set[(Long, Long)] = {
    import spark.implicits._
    val n = TrainingOps.config.minhashBands
    val rows = TrainingOps.bandedFps(docs.toDF("doc_id", "text"), n)
      .selectExpr("doc_id", "fps", s"${TrainingOps.bandArray(n)} AS bands")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSet, r.getSeq[Long](2)))
    (for {
      (ia, fa, ba) <- rows; (ib, fb, bb) <- rows
      if ia < ib && ba.indices.exists(k => ba(k) == bb(k))
      j = fa.intersect(fb).size.toDouble / (fa ++ fb).size
      if math.floor(j * 1e6 + 0.5).toLong >= TrainingOps.config.jaccardMinMicro
    } yield (ia, ib)).toSet
  }

  /** Streams `docs` in `nBatches` micro-batches through nearDupStream with a
    * cluster labeling; returns the final (doc_id -> cluster_id) labels.
    */
  private def streamLabels(docs: Seq[(Long, String)], baseDir: String, nBatches: Int,
      cfg: TrainingOps.Config = TrainingOps.config): Map[Long, Long] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = IncrementalDedup.nearDupStream(
      mem.toDS().toDF("doc_id", "text"),
      s"$baseDir/corpus", s"$baseDir/edges", s"$baseDir/ckpt",
      cfg = cfg, clustersDir = Some(s"$baseDir/clusters"))
    try {
      docs.grouped((docs.size + nBatches - 1) / nBatches).foreach { b =>
        mem.addData(b: _*); q.processAllAvailable()
      }
    } finally q.stop()
    new graft.io.LabelStore(s"$baseDir/clusters", 8)
      .read(spark).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
  }

  /** DedupJob over `docs`: its summary and (doc_id -> cluster_id) decisions. */
  private def batchLabels(docs: Seq[(Long, String)], out: String,
      cfg: TrainingOps.Config = TrainingOps.config): (graft.jobs.DedupJob.Summary, Map[Long, Long]) = {
    import spark.implicits._
    val summary = graft.jobs.DedupJob.run(spark, docs.toDF("doc_id", "text"), out, cfg)
    (summary, spark.read.parquet(s"$out/decisions")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap)
  }

  test("streamed near-dup edges over batches == batch pipeline's verified set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val baseDir = Files.createTempDirectory("graft-neardup-stream").toString

    val b1 = Seq(1L -> base, 2L -> base, 30L -> (1 to 20).map(i => s"other$i").mkString(" "))
    val b2 = Seq(10L -> variant("aaa"), 31L -> (1 to 20).map(i => s"unrelated$i").mkString(" "))
    val b3 = Seq(11L -> variant("bbb"), 3L -> base)

    val mem = MemoryStream[(Long, String)]
    val q = IncrementalDedup.nearDupStream(
      mem.toDS().toDF("doc_id", "text"),
      s"$baseDir/corpus", s"$baseDir/edges", s"$baseDir/ckpt",
      corpusTable = Some("graft_neardup_corpus"),
      clustersDir = Some(s"$baseDir/clusters"))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b3: _*); q.processAllAvailable()
      val streamed = spark.read.parquet(s"$baseDir/edges").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = batchEdges(b1 ++ b2 ++ b3)
      assert(streamed === expected)
      // sanity on the planted structure: exact dups 1-2-3 all pair (Jaccard
      // 1), near variants pair with base, the two 'other' docs pair nothing
      assert(Set((1L, 2L), (1L, 3L), (2L, 3L), (1L, 10L), (1L, 11L), (10L, 11L))
        .subsetOf(streamed))
      assert(!streamed.exists(e => e._1 == 30L || e._2 == 30L || e._1 == 31L || e._2 == 31L))
      // corpus tables are bucketed and grew with every batch
      spark.catalog.refreshTable("graft_neardup_corpus_fps")
      assert(spark.table("graft_neardup_corpus_fps").count() === 7L)

      // per-batch metrics landed beside the corpus: one row per batch, doc
      // counts summing to the corpus, edge counts summing to the edge set
      val m = spark.read.parquet(s"$baseDir/corpus/metrics")
      assert(m.count() === 3L)
      val sums = m.agg(sum("docs"), sum("edges")).collect()(0)
      assert(sums.getLong(0) === 7L && sums.getLong(1) === streamed.size.toLong)

      // incrementally maintained near-dup clusters == full CC over all
      // streamed edges, edge-free docs as singletons; keep = min member.
      // This is DedupJob's decisions contract, maintained per micro-batch
      // at delta write cost (LabelCommit)
      val ctbl = new graft.io.LabelStore(s"$baseDir/clusters", 8)
      assert(ctbl.currentSnapshot === Some(2L))
      val gotLabels = ctbl.read(spark).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val full = graft.pipeline.Cluster.connectedComponents(
        spark.read.parquet(s"$baseDir/edges").select(col("a_id"), col("b_id")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val allIds = (b1 ++ b2 ++ b3).map(_._1).toSet
      assert(gotLabels === allIds.map(d => d -> full.getOrElse(d, d)).toMap)
      // the dup family 1,2,3,10,11 keeps exactly doc 1; others keep themselves
      assert(gotLabels.count { case (d, c) => d == c } === 3) // 1, 30, 31
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS graft_neardup_corpus_bands")
      spark.sql("DROP TABLE IF EXISTS graft_neardup_corpus_fps")
    }
  }

  test("streamed dup clusters == batch DedupJob decisions on the driver corpus") {
    // the unification contract between the two dedup faces: DedupJob verifies
    // REP pairs (exact groups contracted first) and members inherit by
    // membership; the stream verifies MEMBER pairs batch-by-batch. Exact-dup
    // members always connect (Jaccard 1) and member-pair similarity equals
    // the rep pair's, so both graphs have identical components — the
    // labelings (and therefore keep/drop decisions) must match exactly.
    // Two null-text docs, streamed in different batches, are no duplicates
    // of each other: each is its own kept cluster on both sides.
    val baseDir = Files.createTempDirectory("graft-neardup-unify").toString
    val sf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val docs = (1000L -> (null: String)) +: sf :+ (1001L -> (null: String))

    val streamed = streamLabels(docs, baseDir, 3)
    val (summary, batch) = batchLabels(docs, s"$baseDir/batchjob")

    assert(streamed === batch)
    assert(streamed.count { case (d, c) => d == c } === summary.kept.toInt)
    assert(batch(1000L) === 1000L && batch(1001L) === 1001L)
    val cands = spark.read.parquet(s"$baseDir/batchjob/candidates")
    assert(cands.where(col("a_id").isin(1000L, 1001L) || col("b_id").isin(1000L, 1001L)).isEmpty)
  }

  test("nearDupStream bands with its cfg.minhashBands, like DedupJob") {
    val baseDir = Files.createTempDirectory("graft-neardup-bands").toString
    val cfg = TrainingOps.config.copy(minhashBands = 1)
    val docs = Seq(1L -> base, 2L -> base, 10L -> variant("aaa"), 11L -> variant("bbb"),
      30L -> (1 to 20).map(i => s"other$i").mkString(" "), 3L -> base)

    val streamed = streamLabels(docs, baseDir, 2, cfg)
    val keys = spark.read.parquet(s"$baseDir/corpus/bandblocks")
      .select(col("key")).collect().map(_.getString(0))
    assert(keys.length === docs.size)
    assert(keys.forall(_.startsWith("0:")), keys.mkString(","))
    assert(streamed === batchLabels(docs, s"$baseDir/batchjob", cfg)._2)
  }
}
