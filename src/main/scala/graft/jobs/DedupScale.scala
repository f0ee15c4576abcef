package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-efficiency evidence for the DEDUP family (extends the north-rule
  * measurement beyond ER scoring — ScalingBench covers that path): the same
  * `DedupJob.run` at N vs 4N cores over the SAME materialized dup-heavy
  * corpus, sandbox proxy for two cluster sizes per the driver instruction.
  *
  * The corpus is synthesized deterministically from the driver's documents
  * table (no external data): each base text expands 50x with a fixed
  * per-replica role — 40% exact copies (exercises the exact-group pre-pass),
  * 30% near copies (exactly ONE token swapped, at index `role mod |tokens|` —
  * always in range, so short docs mutate too; one swap kills ≤ shingleK
  * shingles, keeping shingle-Jaccard above the 0.80 verify threshold for
  * typical doc lengths; exercises banding + verify), 30% distinct-ified
  * (unique salt token appended). `doc_id = base_ord * 50 + role`; every
  * mutation is a pure
  * function of (base_ord, role), so the corpus is byte-identical across runs
  * and core counts.
  *
  * Run:
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.jobs.DedupScale prepare /tmp/ds /root/testdata/sf0.1/documents.parquet"
  *   SPARK_GRAFT_CPUS=2 sbt "runMain graft.jobs.DedupScale run /tmp/ds"
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.jobs.DedupScale run /tmp/ds"
  */
object DedupScale {

  private val Partitions = 32 // fixed task granularity across core counts

  /** Deterministic 50x dup-heavy expansion of a (doc_id, text) table.
    * `baseReps > 1` first multiplies the base into that many INDEPENDENT
    * families (every token prefixed with a replica tag — zero shingle
    * overlap across replicas), so the whole workload scales linearly with
    * the knob instead of collapsing into cross-replica exact groups.
    */
  def expand(base: DataFrame, baseReps: Int = 1): DataFrame =
    // base_ord must not depend on the input's partition layout (a
    // monotonically_increasing_id encodes partition ids, so regenerating
    // under a different core count would silently change every derived
    // text); rank over the base key is layout-independent. The one-row
    // window frame runs once at corpus-prepare time, never in the
    // measured job.
    base.select(col("doc_id"), col("text"))
      .withColumn("base_ord0",
        // text as tie-break makes the ordering total even if the base
        // table carries duplicate doc_ids
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("doc_id"), col("text"))).cast("long") - 1)
      .select(col("base_ord0"), col("text"))
      .withColumn("r", explode(sequence(lit(0), lit(baseReps - 1))))
      .withColumn("base_ord", col("base_ord0") * baseReps + col("r"))
      .withColumn("text", when(col("r") === 0, col("text"))
        .otherwise(concat_ws(" ", expr(
          "transform(split(text, ' '), t -> concat('r', CAST(r AS STRING), t))"))))
      .withColumn("role", explode(sequence(lit(0), lit(49))))
      .withColumn("doc_id", col("base_ord") * 50 + col("role"))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("text2",
        when(col("role") < 20, col("text"))
          .when(col("role") < 35, concat_ws(" ", expr(
            "transform(toks, (t, i) -> IF(i = pmod(role, size(toks)), concat('nd', CAST(role AS STRING), t), t))")))
          .otherwise(concat(col("text"), lit(" uniq"), col("doc_id"))))
      .select(col("doc_id"), col("text2").as("text"))

  case class Recall(
      truePairs: Long, coClustered: Long,
      subThresholdPairs: Long, subThresholdCoClustered: Long) {
    def recall: Double = coClustered.toDouble / truePairs
  }

  /** Planted-structure recall of the banded dedup pipeline: every replica's
    * ground truth vs ITS OWN base (role 0 of its family) is computable
    * exactly — shingle-fps Jaccard >= the verify threshold means the pair
    * MUST co-cluster in a perfect-recall run. Banding is the only lossy
    * stage (the Jaccard verify is exact), so 1 - recall measures what the
    * band scheme misses at this design point. Sub-threshold co-clustering
    * is reported too: that is transitive CC merging, not an error.
    */
  /** (jacc_micro, same) for every replica-vs-its-base pair — the one truth
    * construction shared by the scalar recall and the calibration buckets.
    */
  private def truthPairs(corpus: DataFrame, decisions: DataFrame): DataFrame = {
    val fps = graft.TrainingOps.shingleFps(corpus)
      .withColumn("fam", expr("CAST(doc_id / 50 AS BIGINT)"))
    val baseFps = fps.where(col("doc_id") % 50 === 0)
      .select(col("fam"), col("doc_id").as("base_id"), col("fps").as("base_fps"))
    val dec = decisions.select(col("doc_id"), col("cluster_id"))
    graft.TrainingOps.withJaccardMicro(
        fps.where(col("doc_id") % 50 =!= 0).join(baseFps, "fam"), "fps", "base_fps")
      .join(dec.select(col("doc_id"), col("cluster_id").as("ca")), "doc_id")
      .join(dec.select(col("doc_id").as("base_id"), col("cluster_id").as("cb")), "base_id")
      .select(col("jacc_micro"), (col("ca") === col("cb")).as("same"))
  }

  def recall(corpus: DataFrame, decisions: DataFrame): Recall = {
    val thr = graft.TrainingOps.config.jaccardMinMicro
    val r = truthPairs(corpus, decisions).agg(
      count(when(col("jacc_micro") >= thr, 1)),
      count(when(col("jacc_micro") >= thr && col("same"), 1)),
      count(when(col("jacc_micro") < thr, 1)),
      count(when(col("jacc_micro") < thr && col("same"), 1))).collect()(0)
    Recall(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** Measured recall per exact-Jaccard bucket beside the MinHash-banding
    * theory curve: a pair at Jaccard J agrees on one 2-minhash band with
    * probability ~J², so P(candidate) ~ 1 - (1-J²)^B — the measured
    * per-bucket recall should track it (exact duplicates recall 1.0 by the
    * exact-group pre-pass, which the theory column ignores).
    */
  def recallByBucket(corpus: DataFrame, decisions: DataFrame, bands: Int): DataFrame =
    truthPairs(corpus, decisions)
      .where(col("jacc_micro") >= graft.TrainingOps.config.jaccardMinMicro)
      .withColumn("bucket", floor(col("jacc_micro") / 20000L) * 20000L)
      .groupBy(col("bucket"))
      .agg(count("*").as("n"), count(when(col("same"), 1)).as("co"))
      .withColumn("measured_recall", col("co") / col("n"))
      // midpoint clamped to J=1: the top bucket's midpoint would otherwise
      // exceed 1, making 1-J² negative (impossible probabilities for odd B)
      .withColumn("theory_band_hit", lit(1.0) - pow(
        lit(1.0) - pow(least(col("bucket") + 10000L, lit(1000000L)) / 1e6, 2.0), bands))
      .orderBy(col("bucket"))

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("run")
    val dir = args.lift(1).getOrElse("/tmp/graft-dedup-scale")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-dedup-scale-$mode")
      .config("spark.sql.shuffle.partitions", Partitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    mode match {
      case "prepare" =>
        val basePath = args.lift(2)
          .getOrElse("/root/testdata/sf0.1/documents.parquet")
        val baseReps = args.lift(3).map(_.toInt).getOrElse(1)
        expand(spark.read.parquet(basePath), baseReps)
          .repartition(Partitions).write.mode("overwrite")
          .parquet(s"$dir/corpus")
        println(s"""{"prepared":{"docs":${spark.read.parquet(s"$dir/corpus").count()}}}""")

      case "run" =>
        val docs = spark.read.parquet(s"$dir/corpus")
        val nDocs = docs.count() // also warms the page cache + JIT
        val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
        require(reps >= 1, s"SPARK_GRAFT_BENCH_REPS must be >= 1, got $reps")
        // band-count override for recall-vs-cost sweeps (design-point curve)
        val cfg = sys.env.get("SPARK_GRAFT_MINHASH_BANDS")
          .map(b => graft.TrainingOps.config.copy(minhashBands = b.toInt))
          .getOrElse(graft.TrainingOps.config)
        var last: DedupJob.Summary = null
        // fresh outDir per rep — DedupJob's manifest makes a reused dir a
        // resume no-op, which would time nothing
        val times = (1 to reps).map { i =>
          val out = s"$dir/out-$cpus-$i"
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
          val t0 = System.nanoTime()
          last = DedupJob.run(spark, docs, out, cfg)
          (System.nanoTime() - t0) / 1e9
        }
        val best = times.min
        val runsJson = times.map(t => math.round(t * 1000) / 1000.0).mkString("[", ",", "]")
        println(s"""{"metric":"dedup_docs_per_sec","value":${(nDocs / best).round},""" +
          s""""unit":"docs/sec","cores":$cpus,"docs":$nDocs,"bands":${cfg.minhashBands},""" +
          s""""clusters":${last.clusters},"kept":${last.kept},"edges":${last.edges},""" +
          s""""candidates":${last.candidates},""" +
          s""""best_seconds":${math.round(best * 1000) / 1000.0},""" +
          s""""runs_seconds":$runsJson,"partitions":$Partitions}""")

      case "recall" =>
        val decisionsPath = args.lift(2)
          .getOrElse(s"$dir/out-8-1/decisions")
        val r = recall(spark.read.parquet(s"$dir/corpus"),
          spark.read.parquet(decisionsPath))
        println(s"""{"metric":"dedup_recall","value":${r.recall},""" +
          s""""true_pairs":${r.truePairs},"co_clustered":${r.coClustered},""" +
          s""""sub_threshold_pairs":${r.subThresholdPairs},""" +
          s""""sub_threshold_co_clustered":${r.subThresholdCoClustered},""" +
          s""""threshold_micro":${graft.TrainingOps.config.jaccardMinMicro}}""")
        // the theory column must use the band count OF THE RUN that wrote
        // the decisions — pass it explicitly when it differed from the
        // default (recall <dir> <decisionsPath> [bands])
        val bands = args.lift(3).map(_.toInt)
          .orElse(sys.env.get("SPARK_GRAFT_MINHASH_BANDS").map(_.toInt))
          .getOrElse(graft.TrainingOps.config.minhashBands)
        recallByBucket(spark.read.parquet(s"$dir/corpus"),
          spark.read.parquet(decisionsPath), bands).collect().foreach { b =>
          println(s"""{"metric":"dedup_recall_bucket","jacc_lo":${b.getLong(0)},""" +
            s""""n":${b.getLong(1)},"co_clustered":${b.getLong(2)},""" +
            s""""measured_recall":${b.getDouble(3)},"theory_band_hit":${b.getDouble(4)}}""")
        }

      case other => sys.error(s"unknown mode $other (prepare|run|recall)")
    }
    spark.stop()
  }
}
