package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.model.{Doc, MatchConfig, Span}
import graft.pipeline.ErPipeline
import graft.streaming.IncrementalLink

/** The bucketed corpus actually pays off in a pipeline path (VERDICT r2 next-3):
  * the incremental-link score join must leave the doc_id-bucketed corpus in
  * place — no shuffle exchange over the corpus scan, across every batch
  * partition and after compaction — and the streamed edges must equal the
  * batch LinkJob's.
  */
class BucketedCorpusSpec extends SparkSpec {

  private def doc(id: String, name: String, phone: String): Doc =
    Doc(id, Seq(
      Span("name", name, null, 0),
      Span("address", "12 oak street salem", null, 3),
      Span("phone", phone, null, 5)))

  test("two-sided score against a bucketed corpus: no shuffle over the corpus scan") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-bcorpus").toString
    val corpusDocs = (1 to 2000).map(i =>
      doc(f"c$i%05d", s"person $i", f"555${i % 97}%04d"))
    val newDocs = (1 to 50).map(i => doc(f"n$i%03d", s"person $i", f"555${i % 97}%04d"))
    val cfg = MatchConfig.fixture

    val corpusRecs = ErPipeline.extract(corpusDocs.toDS(), cfg)
    // the stream's layout: one batch partition per micro-batch, 3 of them
    val thirds = corpusRecs.toDF().randomSplit(Array(1.0, 1.0, 1.0), seed = 7)
    thirds.zipWithIndex.foreach { case (part, b) =>
      Tables.writeBatchBucketed(part, "graft_corpus_b", s"$base/rec", "doc_id", 8, b.toLong)
    }
    val newRecs = ErPipeline.extract(newDocs.toDS(), cfg).toDF()
      .localCheckpoint(true).as[ErPipeline.CleanRecord]

    val (pairIds, _) = ErPipeline.linkPairs(
      ErPipeline.block(newRecs, cfg), ErPipeline.block(corpusRecs, cfg))
    val pinnedPairs = pairIds.toDF().localCheckpoint(true).as[ErPipeline.PairIds]
    // the plain (unbucketed) corpus run every bucketed read must reproduce
    val plainScores = ErPipeline.score(pinnedPairs, newRecs, corpusRecs, cfg)
      .collect().map(s => (s.a_id, s.b_id) -> s.score).toMap

    def assertExchangeFreeAndExact(): Unit = {
      // the stream's read: every batch before the next one
      val bucketed = Tables.readBatchesBefore(spark, "graft_corpus_b", 3L)
        .as[ErPipeline.CleanRecord]
      val scored = ErPipeline.score(pinnedPairs, newRecs, bucketed, cfg)
      val plan = scored.toDF().queryExecution.executedPlan
      // the corpus scan must be bucket-pruned-joinable: NO exchange anywhere
      // above the bucketed FileSourceScan
      val shufflesOverCorpus = plan.collect {
        case e: ShuffleExchangeExec if e.exists {
          case s: FileSourceScanExec => s.relation.bucketSpec.isDefined
          case _ => false
        } => e
      }
      assert(shufflesOverCorpus.isEmpty,
        s"corpus side re-shuffled: ${shufflesOverCorpus.map(_.nodeName)}")
      val bucketedScores = scored.collect().map(s => (s.a_id, s.b_id) -> s.score).toMap
      assert(bucketedScores === plainScores && plainScores.nonEmpty)
    }

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ: no trivial broadcast
    try {
      assertExchangeFreeAndExact()
      // after compaction: the folded batch_id=-1 partition plus the newest batch
      Tables.compactBatchBucketed(spark, "graft_corpus_b", s"$base/rec", "doc_id", 8)
      val parts = new java.io.File(s"$base/rec").list().filter(_.startsWith("batch_id=")).toSet
      assert(parts === Set("batch_id=-1", "batch_id=2"), parts)
      assertExchangeFreeAndExact()
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_corpus_b")
    }
  }

  test("default corpus table name: a stable identifier derived from the normalized corpusDir") {
    val name = Tables.corpusTableName("/data/streams/corpus")
    assert(name.matches("[a-z][a-z0-9_]*"), name)
    // the same directory, however spelled, names the same table
    assert(Tables.corpusTableName("/data/streams/corpus/") === name)
    assert(Tables.corpusTableName("/data//streams/./corpus") === name)
    assert(Tables.corpusTableName("/data/streams/x/../corpus") === name)
    assert(Tables.corpusTableName("/data/streams/corpus2") !== name)
    // a pure function of the path: pinned, so every JVM derives the same name
    assert(name === "graft_corpus_" + java.security.MessageDigest.getInstance("SHA-256")
      .digest("/data/streams/corpus".getBytes("UTF-8")).take(8).map(b => f"${b & 0xff}%02x").mkString)
    // the label store's doc table takes the name of clustersDir, so the two
    // directories must differ: refused before the stream starts
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-samedir").toString
    val same = intercept[IllegalArgumentException](IncrementalLink.linkStream(
      MemoryStream[Doc].toDS(), MatchConfig.fixture, s"$base/c", s"$base/e", s"$base/k",
      clustersDir = Some(s"$base/c")))
    assert(same.getMessage.contains("names the catalog table of a corpus table"), same.getMessage)
  }

  test("lookup-flagged config: streamed edges equal batch LinkJob's (ADVICE r3)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // phone as the only lookup property: linkStream must derive the SAME
    // blocking scheme batch LinkJob stage ② derives (Blocking.fromConfig) —
    // before the fix, streaming silently used the default soundex+digits
    // scheme and generated a different candidate set
    val cfg = MatchConfig.fixture.copy(properties =
      MatchConfig.fixture.properties.map(p =>
        if (p.name == "phone") p.copy(lookup = "required") else p))
    val docs = Seq(
      doc("d1", "john smith", "5551234"), doc("x1", "maria garcia", "9990000"),
      doc("d2", "jon smith", "5551234"), doc("d3", "john smyth", "5551234"),
      doc("x2", "maria garcia", "9990000"))

    val out = Files.createTempDirectory("graft-lkbatch").toString
    graft.jobs.LinkJob.run(spark, docs.toDS(), cfg, out)
    val batchSet = spark.read.parquet(s"$out/edges").collect()
      .map { r =>
        val (a, b) = (r.getString(0), r.getString(1))
        (if (a < b) a else b, if (a < b) b else a)
      }.toSet

    val base = Files.createTempDirectory("graft-lkstream").toString
    val mem = MemoryStream[Doc]
    val q = IncrementalLink.linkStream(mem.toDS(), cfg,
      s"$base/corpus", s"$base/edges", s"$base/ckpt")
    try {
      mem.addData(docs(0), docs(1)); q.processAllAvailable()
      mem.addData(docs(2), docs(3), docs(4)); q.processAllAvailable()
      val streamedSet = spark.read.parquet(s"$base/edges").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(streamedSet === batchSet && streamedSet.nonEmpty)
    } finally q.stop()
  }

  test("linkStream with a bucketed corpus table: edges bit-equal to batch LinkJob's") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val baseB = Files.createTempDirectory("graft-stream-b").toString
    val baseP = Files.createTempDirectory("graft-stream-p").toString
    val batches = Seq(
      Seq(doc("d1", "john smith", "5551234"), doc("x1", "maria garcia", "9990000")),
      Seq(doc("d2", "jon smith", "5551234"), doc("x2", "maria garcia", "9990000")),
      Seq(doc("d3", "john smyth", "5551234")))

    def run(base: String, table: Option[String]): Set[(String, String)] = {
      val mem = MemoryStream[Doc]
      // the run on the default table name also exercises per-batch
      // label-snapshot expiry
      val q = IncrementalLink.linkStream(
        mem.toDS(), MatchConfig.fixture,
        s"$base/corpus", s"$base/edges", s"$base/ckpt", corpusTable = table,
        clustersDir = Some(s"$base/clusters"), nClusterBuckets = 8,
        labelSnapshotsToKeep = if (table.isEmpty) Some(1) else None)
      try {
        batches.foreach { b => mem.addData(b); q.processAllAvailable() }
        spark.read.parquet(s"$base/edges").collect()
          .map(r => (r.getString(0), r.getString(1))).toSet
      } finally q.stop()
    }

    val out = Files.createTempDirectory("graft-stream-batch").toString
    graft.jobs.LinkJob.run(spark, batches.flatten.toDS(), MatchConfig.fixture, out)
    val batchEdges = spark.read.parquet(s"$out/edges").collect()
      .map { r =>
        val (a, b) = (r.getString(0), r.getString(1))
        (if (a < b) a else b, if (a < b) b else a)
      }.toSet

    try {
      val bucketedEdges = run(baseB, Some("graft_stream_corpus"))
      val defaultEdges = run(baseP, None)
      assert(bucketedEdges === batchEdges && bucketedEdges.nonEmpty)
      assert(defaultEdges === batchEdges)
      assert(bucketedEdges.contains(("d1", "d2")))
      // incrementally maintained clusters == full CC over all edges, with
      // edge-free docs as singletons; every batch's labeling is
      // time-travelable through the label store
      val ctbl = new graft.io.LabelStore(s"$baseB/clusters", 8)
      assert(ctbl.currentSnapshot === Some(2L)) // one commit per batch, by batch id
      val got = ctbl.read(spark).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val full = graft.pipeline.Cluster.connectedComponents(
        spark.read.parquet(s"$baseB/edges"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val allDocs = Set("d1", "d2", "d3", "x1", "x2")
      val want = allDocs.map(d => d -> full.getOrElse(d, d)).toMap
      assert(got === want)
      assert(ctbl.readSnapshot(spark, 0L).count() === 2L) // batch-0 labeling kept

      // a delta-sized write (VERDICT r3 #2): batch 2 merges d3 into d1's
      // cluster and writes exactly d3's doc row and a map without entries;
      // the x1/x2 rows and every earlier row stay where they were written
      val b2rows = spark.read.parquet(s"$baseB/clusters/docs/batch_id=2").collect()
        .map(r => r.getString(0) -> r.getString(1)).toSeq
      assert(b2rows === Seq("d3" -> "d1"), s"batch 2 should write d3's row only: $b2rows")
      assert(spark.read.parquet(s"$baseB/clusters/fwd/batch_id=2").count() === 0L)

      // the default-name run streamed with labelSnapshotsToKeep=1: only the
      // final batch's map remains, and its labeling still equals `want`
      val ptbl = new graft.io.LabelStore(s"$baseP/clusters", 8)
      assert(ptbl.currentSnapshot === Some(2L))
      assert(new java.io.File(s"$baseP/clusters/fwd").list().toSet === Set("batch_id=2"))
      val gotP = ptbl.read(spark).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(gotP === want)

      // per-batch streaming metrics: one row per batch, docs sum to the corpus
      val met = spark.read.parquet(s"$baseB/corpus/metrics")
      assert(met.count() === 3L)
      assert(met.agg(sum("docs")).collect()(0).getLong(0) === 5L)
      assertMetricsMatchEdgeLog(s"$baseB/corpus/metrics", s"$baseB/edges")
      assertMetricsMatchEdgeLog(s"$baseP/corpus/metrics", s"$baseP/edges")

      // the table really is bucketed and accumulated across batches
      // (refresh: the catalog's cached file listing predates the last append)
      spark.catalog.refreshTable("graft_stream_corpus")
      val tbl = spark.table("graft_stream_corpus")
      assert(tbl.count() === 5L)
      val cat = spark.sql("DESCRIBE TABLE EXTENDED graft_stream_corpus")
        .collect().map(r => r.getString(0) + " " + r.getString(1)).mkString("\n")
      assert(cat.contains("doc_id") && cat.toLowerCase.contains("bucket"), cat)
      // the corpus BLOCKS table is bucketed on the blocking key as well
      spark.catalog.refreshTable("graft_stream_corpus_blocks")
      val catB = spark.sql("DESCRIBE TABLE EXTENDED graft_stream_corpus_blocks")
        .collect().map(r => r.getString(0) + " " + r.getString(1)).mkString("\n")
      assert(catB.contains("key") && catB.toLowerCase.contains("bucket"), catB)
      assert(spark.table("graft_stream_corpus_blocks").count() > 0)
      // the default run kept its corpus in the same layout, under the
      // table name derived from its corpusDir
      val derived = Tables.corpusTableName(s"$baseP/corpus")
      assert(spark.catalog.tableExists(derived) && spark.catalog.tableExists(derived + "_blocks"))
    } finally {
      for (t <- Seq("graft_stream_corpus", Tables.corpusTableName(s"$baseP/corpus"));
           suffix <- Seq("", "_blocks"))
        spark.sql(s"DROP TABLE IF EXISTS $t$suffix")
      for (b <- Seq(baseB, baseP))
        spark.sql(s"DROP TABLE IF EXISTS ${Tables.corpusTableName(s"$b/clusters")}")
    }
  }
}
