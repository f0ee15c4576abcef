package graft.pipeline

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.model.{Doc, MatchConfig}
import graft.streaming.IncrementalLink

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("stateful exact-dedup stream: first-seen vs duplicate across micro-batches") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Doc]
    val decisions = IncrementalLink.dedupStream(input.toDS())
    val q = decisions.writeStream
      .format("memory").queryName("dedup_out")
      .outputMode("append")
      .start()
    try {
      val all = Fixtures.docs(spark, 40).collect().sortBy(_.doc_id)
      // duplicate payload: re-send the first doc under a new id in batch 2
      val dupDoc = all.head.copy(doc_id = "zz_dup_of_first")
      input.addData(all.take(20).toSeq)
      q.processAllAvailable()
      input.addData(all.drop(20).toSeq :+ dupDoc)
      q.processAllAvailable()
      val out = spark.table("dedup_out").as[IncrementalLink.DedupDecision].collect()
      assert(out.length == all.length + 1)
      val dup = out.find(_.doc_id == "zz_dup_of_first").get
      assert(dup.duplicate_of.contains(all.head.doc_id),
        s"expected duplicate_of=${all.head.doc_id}, got $dup")
      // every original doc with unique content is first-seen
      assert(out.count(_.duplicate_of.isEmpty) == out.map(_.fingerprint).distinct.length)
    } finally q.stop()
  }

  test("incremental linkage via foreachBatch matches the batch pipeline's edges") {
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val config = MatchConfig.fixture
    val input = MemoryStream[Doc]
    val q = IncrementalLink.linkStream(
      input.toDS(), config, s"$dir/corpus", s"$dir/edges", s"$dir/ckpt")
    try {
      val all = Fixtures.docs(spark, 150).collect().sortBy(_.doc_id)
      val (b1, b2) = all.splitAt(75)
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()

      val streamed = spark.read.parquet(s"$dir/edges")
        .select("a_id", "b_id").as[(String, String)].collect().toSet
      // batch oracle on the same docs
      val docs = Fixtures.docs(spark, 150)
      val records = ErPipeline.extract(docs, config)
      val (pairIds, _) = ErPipeline.pairs(ErPipeline.block(records, config))
      val batch = ErPipeline.matchEdges(ErPipeline.score(pairIds, records, config), config)
        .as[(String, String)].collect().toSet
      assert(streamed == batch,
        s"streamed-only=${streamed -- batch}, batch-only=${batch -- streamed}")
    } finally q.stop()
  }
}
