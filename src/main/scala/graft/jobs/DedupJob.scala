package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.TrainingOps
import graft.io.StageManifest
import graft.pipeline.{BandedPairs, Cluster}

/** End-to-end near-duplicate deduplication over a `documents(doc_id, text)`
  * corpus — the training-data-pipeline counterpart of `LinkJob` (builder
  * mandate: dedup as a first-class component), stitched from the library's
  * own operators so every stage keeps its proven scale shape:
  *
  *   text -> shingle fingerprints (codegen kernel, one char pass per doc)
  *        -> EXACT pre-pass: identical fingerprint sets group linearly
  *           (identical docs are duplicates BY CONSTRUCTION — Jaccard 1 —
  *           so they never enter the pair space; 10⁶ copies of one
  *           boilerplate page cost one groupBy row, not 5·10¹¹ pairs, and
  *           can never be lost to a block-size cap)
  *        -> MinHash band keys over group REPRESENTATIVES only
  *           (TrainingOps.minhashBandCols, shared with the oracle-checked
  *           `q_lsh_near_dup_pairs` and the near-dup stream)
  *        -> candidate rep pairs (BandedPairs: salted/capped band buckets —
  *           hot buckets of DISTINCT docs cannot go quadratic; dropped mass
  *           is REPORTED in metrics, never silent)
  *        -> exact shingle-Jaccard verify at `jaccardMinMicro`
  *           (TrainingOps.jaccardVerify, shared likewise)
  *        -> large-star/small-star connected components over rep edges
  *           (transitive: A≈B≈C collapses even when A,C never pair)
  *        -> keep/drop decisions: every doc's cluster = its representative's
  *           component; keep = cluster minimum (which IS the smallest doc_id
  *           in the cluster: rep = min of its exact group, CC label = min
  *           rep).
  *
  * Every stage lands as parquet under `outDir` via the same StageManifest as
  * LinkJob, so a killed run resumes mid-pipeline and a completed outDir is a
  * pure no-op read (north rule: resumable, lineage'd, metric'd).
  */
object DedupJob {

  case class Summary(
      docs: Long, exactGroups: Long, candidates: Long, edges: Long,
      clusters: Long, kept: Long, dropped: Long, droppedPairsMass: Double)

  def run(
      spark: SparkSession,
      documents: DataFrame, // (doc_id: bigint, text: string, ...)
      outDir: String,
      cfg: TrainingOps.Config = TrainingOps.config): Summary = {
    import spark.implicits._
    val m = new StageManifest(outDir)
    val metrics = scala.collection.mutable.ArrayBuffer[(String, String, Double)]()

    // ① shingle fingerprints (one kernel pass) + exact-group representative:
    //    identical fp sequences share a group; rep = min doc_id. The window
    //    keys on md5 of the fp sequence, NOT the concatenated string — the
    //    shuffle then carries fps + 16 bytes instead of fps + an equally
    //    large key per row (at corpus scale the key would double the
    //    exchange). A 128-bit collision wrongly merging two groups needs
    //    ~2⁻¹²⁸ per pair — ~10⁻¹⁵ cumulative even at 10¹² docs. A null-text
    //    doc has null fps, which concat_ws would map to the empty doc's key:
    //    it is its own group instead, as in the stream and the catalog query.
    val grouped = m.stage(spark, "grouped",
        "exact_groups" -> count(when($"doc_id" === $"rep", 1))) {
      val fps = TrainingOps.shingleFps(documents.select($"doc_id", $"text"))
      val withRep = fps.withColumn("rep", when($"fps".isNull, $"doc_id")
        .otherwise(min($"doc_id").over(Window.partitionBy(md5(concat_ws(",", $"fps"))))))
      // ② band keys ride along on REPRESENTATIVE rows in the same pass: both
      // bands and rep flags are narrow projections of this very scan, so no
      // separate stage re-writes the reps' fps arrays (manifest stages are
      // serial fixed cost at any corpus size)
      withRep.select(Seq($"doc_id", $"fps", $"rep") ++
        TrainingOps.minhashBandCols(cfg.minhashBands, Some($"doc_id" === $"rep")): _*)
    }
    val banded = grouped.where($"doc_id" === $"rep")

    // ③ candidate rep pairs through the skew discipline; the stats ride the
    //    stage's manifest line (the dropped mass is integral), so resumed and
    //    no-op runs report them too. Null-fps reps have no bands and pair
    //    with nothing.
    val skew = Seq("dropped_pairs_mass", "salted_blocks")
    val candDf = m.stageWithStats(spark, "candidates", skew) {
      val items = banded.where($"fps".isNotNull)
        .selectExpr("doc_id AS id", s"${TrainingOps.bandArray(cfg.minhashBands)} AS bands")
      val (pairs, st) = BandedPairs.candidates(items, cfg.pairCfg)
      (pairs, skew.zip(Seq(st.droppedPairsMass.toLong, st.saltedBlocks)).toMap)
    }
    val candStats = m.counters("candidates")
    skew.foreach(k => metrics += (("candidates", k, candStats(k).toDouble)))

    // ④ verify candidates with exact shingle-set Jaccard
    val edges = m.stage(spark, "edges") {
      TrainingOps.jaccardVerify(candDf, banded, banded, cfg.jaccardMinMicro)
    }

    // ⑤ transitive dup clusters over reps, expanded to every doc through its
    //    exact group; keep = the cluster's minimum doc_id (= the CC label)
    m.stage(spark, "decisions",
        "kept" -> count(when($"keep", 1)), "dropped" -> count(when(!$"keep", 1))) {
      val labeled = Cluster.connectedComponents(edges.select($"a_id", $"b_id"))
        .select($"doc_id".cast("long").as("rep"), $"cluster_id".cast("long").as("cc"))
      grouped.select($"doc_id", $"rep")
        .join(labeled, Seq("rep"), "left")
        .select($"doc_id",
          coalesce($"cc", $"rep").as("cluster_id"),
          ($"doc_id" === coalesce($"cc", $"rep")).as("keep"))
    }

    // summary counts come from the manifest, with no action: rows recorded
    // and counters observed when each stage was written, on fresh and
    // resumed runs alike. Each cluster keeps exactly one doc, its label (the
    // cluster minimum; doc_id is the corpus key), so clusters = kept.
    val stageRows = m.completedRows
    val d = m.counters("decisions")
    val counts = Map(
      "docs" -> stageRows("grouped"),
      "exact_groups" -> m.counters("grouped")("exact_groups"),
      "candidates" -> stageRows("candidates"),
      "edges" -> stageRows("edges"),
      "clusters" -> d("kept"),
      "kept" -> d("kept"),
      "dropped" -> d("dropped"))
    counts.foreach { case (k, v) => metrics += (("job", k, v.toDouble)) }
    m.stage(spark, "metrics") { metrics.toSeq.toDF("stage", "metric", "value") }

    Summary(
      docs = counts("docs"), exactGroups = counts("exact_groups"),
      candidates = counts("candidates"), edges = counts("edges"),
      clusters = counts("clusters"), kept = counts("kept"),
      dropped = counts("dropped"), droppedPairsMass = candStats("dropped_pairs_mass").toDouble)
  }

  /** spark-submit entry: DedupJob <documentsParquet> <outDir> */
  def main(args: Array[String]): Unit = {
    val docsPath = args.headOption.getOrElse("/root/testdata/sf0.01/documents.parquet")
    val outDir = args.lift(1).getOrElse("/tmp/graft-dedup")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]"))
      .appName("graft-dedup")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s = run(spark, spark.read.parquet(docsPath), outDir)
    println(s"[dedup] $s")
    spark.stop()
  }
}
