package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.model.{Doc, MatchConfig, Span}
import graft.streaming.IncrementalLink

/** Structured Streaming incremental linkage (SURVEY.md §2.9 optional
  * mapping): exact-dedup state, windowed counts and corpus growth.
  */
class StreamingMediaSpec extends SparkSpec {

  private def doc(id: String, name: String, phone: String): Doc =
    Doc(id, Seq(
      Span("name", name, null, 0),
      Span("address", "12 oak street salem", null, 3),
      Span("phone", phone, null, 5)))

  test("dedupStream: first-seen wins, later fingerprints marked duplicates across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val out = IncrementalLink.dedupStream(mem.toDS())
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      mem.addData(doc("a1", "john smith", "555"), doc("a2", "john smith", "555"))
      q.processAllAvailable()
      mem.addData(doc("a3", "john smith", "555"), doc("b1", "other person", "111"))
      q.processAllAvailable()
      val rows = spark.table("dedup_out").collect()
        .map(r => r.getString(0) -> Option(r.getAs[String]("duplicate_of"))).toMap
      assert(rows("a1") === None)
      assert(rows("a2") === Some("a1"))
      assert(rows("a3") === Some("a1")) // state carried across micro-batches
      assert(rows("b1") === None)
    } finally q.stop()
  }

  test("dedupStream with idle timeout: within the horizon, identical to exact dedup") {
    // a wall-clock eviction test is inherently racy (processing-time timeouts
    // fire on the trigger clock); this exercises the ProcessingTimeTimeout
    // wiring — setTimeoutDuration throws unless the timeout conf is set — and
    // pins that decisions inside the horizon equal the exact path
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import scala.concurrent.duration._
    val mem = MemoryStream[Doc]
    val out = IncrementalLink.dedupStream(mem.toDS(), idleTimeout = Some(10.minutes))
    val q = out.writeStream.format("memory").queryName("dedup_ttl_out")
      .outputMode("append").start()
    // processAllAvailable never settles while timeouts are armed (the engine
    // keeps scheduling deadline-check batches — normal under
    // awaitTermination, fatal for the test helper): poll the sink instead
    def awaitRows(n: Int): Unit = {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (spark.table("dedup_ttl_out").count() < n) {
        assert(System.nanoTime() < deadline, s"sink never reached $n rows")
        Thread.sleep(100)
      }
    }
    try {
      mem.addData(doc("t1", "john smith", "555"), doc("t2", "john smith", "555"))
      awaitRows(2)
      mem.addData(doc("t3", "john smith", "555"), doc("u1", "other person", "111"))
      awaitRows(4)
      val rows = spark.table("dedup_ttl_out").collect()
        .map(r => r.getString(0) -> Option(r.getAs[String]("duplicate_of"))).toMap
      assert(rows === Map(
        "t1" -> None, "t2" -> Some("t1"), "t3" -> Some("t1"), "u1" -> None))
    } finally q.stop()
  }

  test("bucketCountsByWindow: watermarked windowed agg finalizes windows, drops late rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int, s: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:$s%02d")
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val classified = mem.toDS().toDF("event_time", "bucket")
    val out = IncrementalLink.bucketCountsByWindow(
      classified, "event_time", "1 minute", "30 seconds")
    val q = out.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      // window [10:00,10:01): 2 matches, 1 maybe
      mem.addData(ts(0, 10) -> "match", ts(0, 40) -> "match", ts(0, 50) -> "maybe")
      q.processAllAvailable()
      // advance the watermark past 10:01 + 30s -> first window finalizes
      mem.addData(ts(2, 0) -> "match")
      q.processAllAvailable()
      // a LATE row for the finalized window: must be dropped, not re-counted
      mem.addData(ts(0, 20) -> "match")
      q.processAllAvailable()
      mem.addData(ts(5, 0) -> "no-match") // push watermark so window 2 closes too
      q.processAllAvailable()
      val rows = spark.table("win_out").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("window_start").toString.substring(11, 16),
          r.getAs[String]("bucket")) -> r.getAs[Long]("n")).toMap
      assert(rows(("10:00", "match")) === 2L) // late row excluded
      assert(rows(("10:00", "maybe")) === 1L)
      assert(rows(("10:02", "match")) === 1L)
    } finally q.stop()
  }

  test("linkStream: edges accumulate across micro-batches (new-vs-corpus scoring)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-stream").toString
    val mem = MemoryStream[Doc]
    val q = IncrementalLink.linkStream(
      mem.toDS(), MatchConfig.fixture,
      s"$base/corpus", s"$base/edges", s"$base/ckpt")
    try {
      mem.addData(doc("d1", "john smith", "5551234"), doc("x1", "maria garcia", "9990000"))
      q.processAllAvailable()
      // second batch: a duplicate of d1 arrives later — must link against corpus
      mem.addData(doc("d2", "jon smith", "5551234"))
      q.processAllAvailable()
      val edges = spark.read.parquet(s"$base/edges").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(edges.contains(("d1", "d2")) || edges.contains(("d2", "d1")),
        s"cross-batch duplicate not linked: $edges")
      assert(!edges.exists(e => e._1.startsWith("x") || e._2.startsWith("x")))
      val corpus = spark.read.parquet(s"$base/corpus/records")
      assert(corpus.count() === 3) // grows by each batch exactly once
      val blocks = spark.read.parquet(s"$base/corpus/blocks")
      assert(blocks.count() > 0) // persistent blocks table grows alongside
    } finally q.stop()
  }
}
