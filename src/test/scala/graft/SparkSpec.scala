package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for Spark-backed suites (one JVM per `sbt test` fork). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Simulate a stage-manifest job killed after the `keep` stages: strip the
    * manifest and every other stage dir of `out`, so a resume must recompute
    * them.
    */
  protected def cutManifestTo(out: String, keep: Set[String]): Unit = {
    val manifest = java.nio.file.Paths.get(out, "_graft_manifest.tsv")
    val kept = new java.util.ArrayList[String]()
    java.nio.file.Files.readAllLines(manifest).forEach { l =>
      if (keep.contains(l.split('\t')(0))) kept.add(l)
    }
    java.nio.file.Files.write(manifest, kept)
    new java.io.File(out).listFiles().foreach { f =>
      if (f.isDirectory && !keep.contains(f.getName)) graft.io.LocalFs.deleteTree(f.toPath)
    }
  }

  /** Each streamed batch's `metrics` row counts exactly the edge-log rows of
    * its `batch_id`; the batches a compaction folded into `batch_id=-1` match
    * that fold by their sum.
    */
  protected def assertMetricsMatchEdgeLog(metricsDir: String, edgesDir: String): Unit = {
    def byBatch(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue).toMap
    val logged = byBatch(spark.read.parquet(edgesDir).groupBy("batch_id").count())
      .withDefaultValue(0L)
    val dirs = new java.io.File(edgesDir).list().filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong).toSet
    val (live, folded) = byBatch(spark.read.parquet(metricsDir).select("batch_id", "edges"))
      .partition { case (k, _) => dirs(k) }
    assert(live.nonEmpty)
    live.foreach { case (k, n) => assert(n === logged(k), s"metrics edges of batch $k") }
    assert(folded.values.sum === logged(-1L), "metrics edges of the folded batches")
  }
}
