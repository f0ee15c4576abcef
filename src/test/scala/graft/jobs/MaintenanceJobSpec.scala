package graft.jobs

import java.io.File
import java.nio.file.Files

import graft.SparkSpec
import graft.io.Tables

/** The operations CLI and the bucket-spec contract its corpus compaction
  * relies on: a batch-partitioned bucketed table is only ever read, written
  * or compacted under the `(bucketCol, nBuckets)` it was written with.
  */
class MaintenanceJobSpec extends SparkSpec {

  /** Every file under `dir` with its size, relative to `dir`. */
  private def listing(dir: String): Map[String, Long] = {
    val root = new File(dir).toPath
    val walk = Files.walk(root)
    try walk.filter(p => Files.isRegularFile(p)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .map(p => root.relativize(p).toString -> Files.size(p)).toMap
    finally walk.close()
  }

  test("compact-corpus with another bucket spec throws and leaves files and rows unchanged") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-mj").toString + "/t"
    val t = "graft_mj_t"
    def docs() = spark.table(t).select("doc_id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    def rows() = spark.table(t).select("doc_id", "v", "batch_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
    try {
      for (b <- 0L to 2L)
        Tables.writeBatchBucketed(
          (1 to 40).map(i => (b * 100 + i, s"v$i")).toDF("doc_id", "v"), t, path, "doc_id", 8, b)
      val files = listing(path)
      val before = rows()

      // the catalog entry says 8 buckets on doc_id: another count, or another
      // column, is refused before anything is read or written
      val wrongCount = intercept[IllegalArgumentException] {
        MaintenanceJob.run(spark, Seq("compact-corpus", t, path, "doc_id", "4"))
      }
      assert(wrongCount.getMessage.contains("(doc_id) INTO 8 BUCKETS") &&
        wrongCount.getMessage.contains("(doc_id) INTO 4 BUCKETS"), wrongCount.getMessage)
      val wrongCol = intercept[IllegalArgumentException] {
        MaintenanceJob.run(spark, Seq("compact-corpus", t, path, "v", "8"))
      }
      assert(wrongCol.getMessage.contains("(v) INTO 8 BUCKETS"), wrongCol.getMessage)
      assert(listing(path) === files)
      assert(rows() === before)

      // a fresh JVM has no catalog entry: the entry is rebuilt from disk, and
      // the writer's recorded spec refuses a 4-bucket spec
      spark.sql(s"DROP TABLE $t")
      val fromDisk = intercept[IllegalArgumentException] {
        MaintenanceJob.run(spark, Seq("compact-corpus", t, path, "doc_id", "4"))
      }
      assert(fromDisk.getMessage.contains("(doc_id) INTO 4 BUCKETS") &&
        fromDisk.getMessage.contains("written as (doc_id) INTO 8 BUCKETS"), fromDisk.getMessage)
      assert(!spark.catalog.tableExists(t))
      assert(listing(path) === files)

      // the right spec still compacts, and keeps every row
      val beforeDocs = before.map { case (d, v, _) => (d, v) }
      MaintenanceJob.run(spark, Seq("compact-corpus", t, path, "doc_id", "8"))
      assert(docs() === beforeDocs)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("a table rebuilt from disk is adopted only under its writer's exact bucket spec") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-mj-spec").toString + "/t"
    val t = "graft_mj_spec"
    def docs() = spark.table(t).select("doc_id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    def readopt(n: Int) = {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      Tables.ensureBatchTable(spark, t, path, "doc_id", n)
    }
    try {
      for (b <- 0L to 2L)
        Tables.writeBatchBucketed(
          (1 to 40).map(i => (b * 100 + i, s"v$i")).toDF("doc_id", "v"), t, path, "doc_id", 8, b)
      val before = docs()

      // a LARGER count passes a bucket-id bound (ids stay below 16), but the
      // files were hashed into 8 buckets: adopting them under 16 would plan
      // exchange-free joins that miss rows
      val larger = intercept[IllegalArgumentException](readopt(16))
      assert(larger.getMessage.contains("written as (doc_id) INTO 8 BUCKETS") &&
        larger.getMessage.contains("(doc_id) INTO 16 BUCKETS"), larger.getMessage)
      assert(!spark.catalog.tableExists(t))

      // compaction carries the record over
      assert(readopt(8))
      MaintenanceJob.run(spark, Seq("compact-corpus", t, path, "doc_id", "8"))
      intercept[IllegalArgumentException](readopt(16))
      assert(readopt(8))
      assert(docs() === before)

      // a table written before the record existed keeps the bucket-id check
      java.nio.file.Files.delete(java.nio.file.Paths.get(path, "_bucket_spec"))
      val legacy = intercept[IllegalArgumentException](readopt(4))
      assert(legacy.getMessage.contains("bucket ids up to 7"), legacy.getMessage)
      assert(readopt(8))
      assert(docs() === before)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("expire-snapshots keeps the newest label maps, one by default") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-mj-labels").toString
    for (k <- 0L to 3L)
      graft.streaming.LabelCommit.commit(spark, root, 4, k,
        Seq(s"d$k" -> s"d${k + 1}").toDF("a_id", "b_id"), Seq(s"d${k + 1}").toDF("doc_id"), None)
    val store = new graft.io.LabelStore(root, 4)
    val labels = store.read(spark).collect().toSet
    def maps = new File(s"$root/fwd").list().toSet

    MaintenanceJob.run(spark, Seq("expire-snapshots", root, "2"))
    assert(maps === Set("batch_id=2", "batch_id=3"))
    MaintenanceJob.run(spark, Seq("expire-snapshots", root))
    assert(maps === Set("batch_id=3"))
    assert(store.currentSnapshot === Some(3L))
    assert(store.read(spark).collect().toSet === labels)
    assert(labels.size === 5)
  }

  test("the CLI has three subcommands; compact-bucketed is rejected") {
    val e = intercept[IllegalArgumentException] {
      MaintenanceJob.run(spark, Seq("compact-bucketed", "t", "/nowhere", "doc_id", "4"))
    }
    assert(e.getMessage ===
      "unknown maintenance command: compact-bucketed t /nowhere doc_id 4 " +
        "(expected compact-edges | compact-corpus | expire-snapshots)")
  }
}
