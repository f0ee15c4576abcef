package graft.jobs

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.model.{Doc, MatchConfig}
import graft.pipeline.Fixtures
import graft.streaming.IncrementalLink

/** Streaming-path twin of [[ScalingBench]]: the north rule's two-cluster-size
  * scaling criterion, evidenced on `linkStream` end-to-end (extract, block,
  * score-vs-corpus, edge log, incremental labels — the full per-batch body)
  * instead of the isolated scoring stage. Same sandbox proxy as ScalingBench:
  * the SAME prepared input driven at two `local[N]` core counts, reporting
  * docs/sec at each plus the (T_small / T_big) / (big/small) efficiency in
  * BASELINE.md.
  *
  * Streaming adds per-batch serial floors a batch job does not have (query
  * planning, checkpoint commits, label-map commits — all
  * driver-side, a few hundred ms per micro-batch regardless of core count),
  * so efficiency is expected BELOW the batch job's ~1.0; the measurement's
  * point is to quantify that floor honestly, not to hide it.
  *
  * Protocol:
  *   1. `prepare <dir> <nEntities> <nBatches>`: the fixture generator's
  *      docs for `nEntities` entities (~2–3 records per entity, same as
  *      ScalingBench's knob) split into `nBatches` single-file parquet
  *      drops under `<dir>/in`, written in batch order (the file stream's
  *      `maxFilesPerTrigger=1` then replays the same batch sequence every
  *      run).
  *   2. `run <dir> [reps]` with SPARK_GRAFT_CPUS=N: for each rep, a FRESH
  *      corpus/edges/labels/checkpoint tree, stream all batches, wall =
  *      start-to-drained. Prints min wall, docs/sec, and the decision
  *      fingerprint (edges count) — which must be identical across core
  *      counts for the comparison to be valid.
  */
object StreamScale {

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("run")
    val dir = args.lift(1).getOrElse("/tmp/graft-streamscale")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-streamscale-$mode")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    mode match {
      case "prepare" =>
        val nEntities = args.lift(2).map(_.toInt).getOrElse(40000)
        val nBatches = args.lift(3).map(_.toInt).getOrElse(8)
        val gen = Fixtures.GenConfig(hotKeyFraction = 0.001, surnameSpace = 30000)
        val docs = Fixtures.docs(spark, nEntities.toLong, gen).collect()
        val inDir = Paths.get(dir, "in")
        deleteTree(inDir)
        Files.createDirectories(inDir)
        val perBatch = (docs.length + nBatches - 1) / nBatches
        docs.grouped(perBatch).zipWithIndex.foreach { case (chunk, k) =>
          chunk.toSeq.toDS().coalesce(1).write.mode("overwrite")
            .parquet(s"$dir/in_stage")
          val listing = Files.list(Paths.get(dir, "in_stage"))
          val moved =
            try {
              val f = listing.iterator()
              var m = false
              while (f.hasNext) {
                val p = f.next()
                if (p.toString.endsWith(".parquet")) {
                  Files.move(p, inDir.resolve(f"b$k%03d.parquet"))
                  m = true
                }
              }
              m
            } finally listing.close()
          require(moved, s"no parquet produced for batch $k")
        }
        deleteTree(Paths.get(dir, "in_stage"))
        println(s"[streamscale] prepared ${docs.length} docs in $nBatches files at $inDir")

      case "run" =>
        val reps = args.lift(2).map(_.toInt).getOrElse(3)
        val inDir = s"$dir/in"
        val schema = spark.read.parquet(inDir).schema
        val nDocs = spark.read.parquet(inDir).count()
        val walls = (1 to reps).map { r =>
          val work = Files.createTempDirectory(s"streamscale-c$cpus-r$r").toString
          spark.catalog.clearCache()
          val stream = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(inDir).as[Doc]
          val t0 = System.nanoTime()
          val q = IncrementalLink.linkStream(
            stream, MatchConfig.fixture,
            corpusDir = s"$work/corpus", edgesDir = s"$work/edges",
            checkpointDir = s"$work/ckpt",
            corpusTable = Some(s"streamscale_c${cpus}_r$r"),
            nBuckets = 16,
            clustersDir = Some(s"$work/labels"), nClusterBuckets = 16)
          q.processAllAvailable()
          q.stop()
          val wall = (System.nanoTime() - t0) / 1e9
          val edges = graft.io.EdgeLog.read(spark, s"$work/edges").count()
          val store = new graft.io.LabelStore(s"$work/labels", 16)
          val labels = store.read(spark).count()
          println(f"[streamscale] cpus=$cpus rep=$r wall=$wall%.2f s edges=$edges labels=$labels")
          spark.sql(s"DROP TABLE IF EXISTS streamscale_c${cpus}_r$r")
          spark.sql(s"DROP TABLE IF EXISTS streamscale_c${cpus}_r${r}_blocks")
          spark.sql(s"DROP TABLE IF EXISTS ${store.table}")
          deleteTree(Paths.get(work))
          wall
        }
        val best = walls.min
        println(f"[streamscale] RESULT cpus=$cpus docs=$nDocs best=$best%.2f s " +
          f"throughput=${nDocs / best}%.0f docs/sec reps=${walls.map(w => f"$w%.1f").mkString(",")}")

      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    spark.stop()
  }

  private def deleteTree(p: Path): Unit = graft.io.LocalFs.deleteTree(p)
}
