package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.Neighborhood

/** Distributed sorted-neighborhood blocking (J4): the range-partitioned
  * two-pass global rank must equal a single-partition window rank, and the
  * equi-ized neighborhood join must produce exactly the naive w-window pairs.
  */
class NeighborhoodSpec extends SparkSpec {

  test("globalRank == single-partition row_number, any partitioning") {
    import spark.implicits._
    val r = new scala.util.Random(53)
    val rows = (1 to 500).map(i => (f"id$i%04d", s"k${r.nextInt(40)}%02d"))
    val df = rows.toDF("id", "k").repartition(11)
    val got = Neighborhood.globalRank(df, col("k"), col("id"), partitions = 7)
      .select("id", "rank").collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val want = rows.sortBy { case (id, k) => (k, id) }.zipWithIndex
      .map { case ((id, _), ix) => id -> (ix + 1L) }.toMap
    assert(got === want)
  }

  test("globalRank survives partition counts far above the data (codegen-safe offsets)") {
    import spark.implicits._
    // 200 requested range partitions over 150 rows: many empty partitions, the
    // broadcast-join offset path must still produce a contiguous 1..n rank
    val rows = (1 to 150).map(i => (f"id$i%04d", s"k${i % 13}%02d"))
    val df = rows.toDF("id", "k").repartition(17)
    val got = Neighborhood.globalRank(df, col("k"), col("id"), partitions = 200)
      .select("id", "rank").collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val want = rows.sortBy { case (id, k) => (k, id) }.zipWithIndex
      .map { case ((id, _), ix) => id -> (ix + 1L) }.toMap
    assert(got === want)
  }

  test("globalRank under a reliable checkpoint dir (cluster-mode pin path)") {
    import spark.implicits._
    // with a checkpoint dir configured, Persist.truncate upgrades the
    // range-partition pin to a reliable checkpoint (survives executor loss);
    // ranks must be identical to the local-pin path
    val dir = java.nio.file.Files.createTempDirectory("graft-nb-ckpt")
    dir.toFile.deleteOnExit()
    val sc = spark.sparkContext
    sc.setCheckpointDir(dir.toString)
    try {
      val rows = (1 to 200).map(i => (f"id$i%04d", s"k${i % 9}%02d"))
      val got = Neighborhood.globalRank(
        rows.toDF("id", "k").repartition(13), col("k"), col("id"), partitions = 6)
        .select("id", "rank").collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      val want = rows.sortBy { case (id, k) => (k, id) }.zipWithIndex
        .map { case ((id, _), ix) => id -> (ix + 1L) }.toMap
      assert(got === want)
    } finally sc.setCheckpointDir(null)
  }

  test("pairs: boundary-spanning successors with near-empty partitions (w=3)") {
    import spark.implicits._
    // 60 requested range partitions over 25 rows: most partitions hold 0-1
    // rows, so nearly every pair crosses a partition boundary and many span
    // SEVERAL — the r6 sliding-pass + boundary-frame split must still
    // produce exactly the naive w-window pair set
    val rows = (1 to 25).map(i => (f"d$i%03d", s"k${i % 4}"))
    val got = Neighborhood.pairs(rows.toDF("id", "k"), col("k"), col("id"),
      w = 3, partitions = 60)
      .collect().map(x => (x.getString(0), x.getString(1))).toSet
    val sorted = rows.sortBy { case (id, k) => (k, id) }.map(_._1)
    val want = (for {
      i <- sorted.indices; j <- (i + 1) to math.min(i + 3, sorted.size - 1)
    } yield (sorted(i), sorted(j))).toSet
    assert(got === want)
    // multiset check: no pair may arise from both the local and the
    // boundary path
    val cnt = Neighborhood.pairs(rows.toDF("id", "k"), col("k"), col("id"),
      w = 3, partitions = 60)
      .groupBy("a_id", "b_id").count().where(col("count") > 1).count()
    assert(cnt === 0)
  }

  test("pairs == naive window pairs (w=3)") {
    import spark.implicits._
    val r = new scala.util.Random(59)
    val rows = (1 to 300).map(i => (f"d$i%04d", s"key${r.nextInt(25)}%02d"))
    val df = rows.toDF("id", "k").repartition(9)
    val got = Neighborhood.pairs(df, col("k"), col("id"), w = 3, partitions = 5)
      .collect().map(x => (x.getString(0), x.getString(1))).toSet
    val sorted = rows.sortBy { case (id, k) => (k, id) }.map(_._1)
    val want = (for {
      i <- sorted.indices; j <- (i + 1) to math.min(i + 3, sorted.size - 1)
    } yield (sorted(i), sorted(j))).toSet
    assert(got === want)
  }

  test("pairs: a non-atomic id is rejected; atomic non-string ids pair exactly") {
    import spark.implicits._
    // the sliding pass buffers ids out of reused scan rows; an array id came
    // out as a view into that buffer, so buffered predecessors silently
    // aliased the current row
    val arr = (1 to 20).map(i => (Seq(i, i + 1), s"k${i % 3}")).toDF("id", "k")
    val e = intercept[IllegalArgumentException] {
      Neighborhood.pairs(arr, col("k"), col("id"), w = 2, partitions = 2)
    }
    assert(e.getMessage.contains("atomic type") && e.getMessage.contains("array<int>"))

    val rows = (1L to 60L).map(i => (i * 7 % 61, s"k${i % 4}"))
    val got = Neighborhood.pairs(rows.toDF("id", "k"), col("k"), col("id"), w = 2, partitions = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val sorted = rows.sortBy { case (id, k) => (k, id) }.map(_._1)
    val want = (for {
      i <- sorted.indices; j <- (i + 1) to math.min(i + 2, sorted.size - 1)
    } yield (sorted(i), sorted(j))).toSet
    assert(got === want)
  }
}
