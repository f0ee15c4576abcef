package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Bucketing for co-located joins (builder mandate; SURVEY.md §4): a join of
  * two tables bucketed on the join key must run with ZERO shuffle exchanges —
  * the physical proof that a pre-bucketed 100 TB corpus joins without moving.
  * The tables are in the layout the streams write
  * ([[Tables.writeBatchBucketed]]): buckets span the batch partitions, so the
  * guarantee must hold across the whole accumulated table, before and after
  * `compactBatchBucketed` folds the older batches.
  */
class BucketedJoinSpec extends SparkSpec {

  /** Join of two batch-bucketed tables over every batch written so far. */
  private def joinAll(left: String, right: String) = {
    spark.catalog.refreshTable(left)
    spark.catalog.refreshTable(right)
    spark.table(left).drop("batch_id").join(spark.table(right).drop("batch_id"), "doc_id")
  }

  private def shuffles(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e.nodeName }

  private def withoutBroadcast[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("join of two doc_id-bucketed tables has no ShuffleExchange and is exact") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-buckets").toString
    def records(lo: Int, hi: Int) = (lo to hi).map(i => (f"d$i%05d", s"name$i")).toDF("doc_id", "name")
    def scores(lo: Int, hi: Int) = (lo to hi).map(i => (f"d$i%05d", i * 0.001)).toDF("doc_id", "score")
    // records in 2 batch partitions, scores in 3: rows of one doc_id bucket
    // are spread over several partitions on each side
    Tables.writeBatchBucketed(records(1, 2500), "graft_rec_b", s"$base/rec", "doc_id", 8, 0L)
    Tables.writeBatchBucketed(records(2501, 4000), "graft_rec_b", s"$base/rec", "doc_id", 8, 1L)
    for ((lo, hi, b) <- Seq((1, 1000, 0L), (1001, 3000, 1L), (3001, 4000, 2L)))
      Tables.writeBatchBucketed(scores(lo, hi), "graft_sco_b", s"$base/sco", "doc_id", 8, b)
    try withoutBroadcast {
      val joined = joinAll("graft_rec_b", "graft_sco_b")
      assert(shuffles(joined).isEmpty,
        s"bucketed join should be exchange-free, found: ${shuffles(joined)}")
      assert(joined.count() === 4000)
      val r = joined.where($"doc_id" === "d00042").collect()(0)
      assert(r.getAs[String]("name") === "name42" && r.getAs[Double]("score") === 0.042)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_rec_b")
      spark.sql("DROP TABLE IF EXISTS graft_sco_b")
    }
  }

  test("compactBatchBucketed: older batches fold to one file per bucket, joins stay exchange-free") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-compact").toString
    val path = s"$base/rec"
    def batch(lo: Int, hi: Int) = (lo to hi).map(i => (f"d$i%05d", s"name$i")).toDF("doc_id", "name")
    // simulate a stream: 3 per-batch bucketed appends
    for ((lo, hi, b) <- Seq((1, 1000, 0L), (1001, 2000, 1L), (2001, 3000, 2L)))
      Tables.writeBatchBucketed(batch(lo, hi), "graft_cmp_b", path, "doc_id", 4, b)
    Tables.writeBatchBucketed(
      (1 to 3000).map(i => (f"d$i%05d", i * 0.001)).toDF("doc_id", "score"),
      "graft_cmp_s", s"$base/sco", "doc_id", 4, 0L)
    def dataFiles(part: String) = new java.io.File(s"$path/$part").listFiles()
      .count(_.getName.startsWith("part-"))
    val before = Seq("batch_id=0", "batch_id=1").map(dataFiles).sum
    assert(before >= 8, s"expected several files per bucket before compaction, got $before")
    val newest = new java.io.File(s"$path/batch_id=2").list().toSet
    try {
      Tables.compactBatchBucketed(spark, "graft_cmp_b", path, "doc_id", 4)
      // the folded partition plus the untouched newest batch
      val parts = new java.io.File(path).list().filter(_.startsWith("batch_id=")).toSet
      assert(parts === Set("batch_id=-1", "batch_id=2"), parts)
      assert(dataFiles("batch_id=-1") === 4, "one file per bucket after compaction")
      assert(new java.io.File(s"$path/batch_id=2").list().toSet === newest)
      withoutBroadcast {
        // the re-registered table still joins exchange-free on the bucket key
        val joined = joinAll("graft_cmp_b", "graft_cmp_s")
        assert(shuffles(joined).isEmpty, shuffles(joined).toString)
        assert(joined.count() === 3000)
      }
      // and the stream can keep appending to the re-created table
      Tables.writeBatchBucketed(batch(3001, 3100), "graft_cmp_b", path, "doc_id", 4, 3L)
      spark.catalog.refreshTable("graft_cmp_b")
      assert(spark.table("graft_cmp_b").count() === 3100)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_cmp_b")
      spark.sql("DROP TABLE IF EXISTS graft_cmp_s")
      spark.sql("DROP TABLE IF EXISTS graft_cmp_b_compact_tmp")
    }
  }

  test("partitionBy write + predicate reads only the matching partition (pruning)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-partitions").toString + "/docs"
    (1 to 3000).map(i => (f"d$i%05d", s"lang${i % 5}", s"text $i"))
      .toDF("doc_id", "lang", "text")
      .write.partitionBy("lang").parquet(dir)
    val q = spark.read.parquet(dir).where($"lang" === "lang3")
    // physical proof: the scan carries a partition filter...
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang3"), plan.take(800))
    // ...and only lang=lang3 files are actually read
    val filesRead = q.select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(filesRead.nonEmpty && filesRead.forall(_.contains("lang=lang3")), filesRead.take(3).toSeq)
    assert(q.count() === 600)
  }
}
