package graft.jobs

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.io.StageManifest
import graft.model.{Doc, MatchConfig}
import graft.pipeline.{Blocking, Cluster, ErPipeline, Fixtures}

/** The end-to-end record-linkage job (SURVEY.md §3.3 pipeline):
  *
  *   docs -> extract(+invariant) -> block -> salted self-join -> mapPartitions
  *   score -> threshold -> large-star/small-star CC -> clusters
  *
  * Every stage lands as parquet under `outDir` and is recorded in the stage
  * manifest: `records`, `blocks`, `scored` (the candidate pairs with their
  * score and `bucket`, written where they are generated), `edges`,
  * `clusters`, `lineage` and `metrics`. A killed run resumes mid-pipeline
  * (including per-iteration CC checkpoints `cc_iter_<i>` — none when the
  * contraction already yields the star forest) and produces byte-identical
  * outputs (BASELINE north_rule). An outDir from an older run that also
  * staged `pairs` and `classified` resumes too: its counter-less `scored`
  * line is recomputed, and the two old dirs are never read.
  * Lineage rows (stage, partition, row count) and stage metrics are persisted
  * alongside the data (BASELINE.json:6).
  */
object LinkJob {

  case class Summary(
      docs: Long, records: Long, blocks: Long, pairs: Long,
      matches: Long, maybes: Long, clusters: Long,
      droppedBlocks: Long, saltedBlocks: Long)

  /** `Summary.docs` is the `records` stage's row total: extract is 1:1 (its
    * invariant gate throws, never filters), so the docs get no scan of their own.
    *
    * @param overrides Duke LinkDatabase analog (`[D Link.java, LinkDatabase
    *                   .java]`, SURVEY §2.1 S7): human link decisions that
    *                   override inference — rows (a_id, b_id, status) with
    *                   status `verified` (forced edge, Duke ASSERTED/OWNSAME)
    *                   or `retracted` (edge suppressed even above threshold,
    *                   Duke RETRACTED/DIFFERENT). Applied at the edges stage,
    *                   so clustering and resume see the overridden graph —
    *                   which also means overrides are FROZEN into a completed
    *                   outDir: re-running with a changed overrides table
    *                   serves the old edge set from the resume manifest. New
    *                   decisions need a fresh outDir (or deleting the
    *                   edges, cc_iter_*, clusters, lineage and metrics
    *                   manifest lines). Ids that are not in `docs` join the
    *                   graph but get no `clusters` row; a cluster whose
    *                   minimum id is such an id is not counted in
    *                   `Summary.clusters`.
    */
  def run(
      spark: SparkSession,
      docs: Dataset[Doc],
      config: MatchConfig,
      outDir: String,
      pairCfg: ErPipeline.PairConfig = ErPipeline.PairConfig(),
      overrides: Option[DataFrame] = None): Summary = {
    import spark.implicits._
    val m = new StageManifest(outDir)
    val metrics = scala.collection.mutable.ArrayBuffer[(String, String, Double)]()

    // ① extract + clean (invariant asserted per row)
    val recordsDf = m.stage(spark, "records") {
      ErPipeline.extract(docs, config).toDF()
    }
    val records = recordsDf.as[ErPipeline.CleanRecord]

    // ② blocking keys — derived from the config's lookup flags
    //    (`[D Property.java#getLookupBehaviour]`): properties marked
    //    lookup=required/true drive candidate retrieval; a config without
    //    flags falls back to the default scheme (Blocking.fromConfig)
    val blocksDf = m.stage(spark, "blocks") {
      ErPipeline.block(records, Blocking.fromConfig(config)).toDF()
    }
    val blocks = blocksDf.as[ErPipeline.BlockRow]

    // ③ candidate pairs (salted triangular self-join, skew-capped), scored
    //    (mapPartitions) and classified where they are generated: the pair
    //    set is written once, with its score and bucket, and the match/maybe
    //    counts are observed on that write
    var pairStats = ErPipeline.PairStats(0, 0, 0)
    val scored = m.stage(spark, "scored",
        "matches" -> count(when($"bucket" === "match", 1)),
        "maybes" -> count(when($"bucket" === "maybe", 1))) {
      val (p, st) = ErPipeline.pairs(blocks, pairCfg)
      pairStats = st
      metrics += (("pairs", "dropped_blocks", st.droppedBlocks.toDouble))
      metrics += (("pairs", "dropped_pairs_mass", st.droppedPairsMass))
      metrics += (("pairs", "salted_blocks", st.saltedBlocks.toDouble))
      ErPipeline.classify(ErPipeline.score(p, records, config), config)
    }

    // ④ match edges: a pushed-down `bucket = 'match'` filter of `scored`,
    //    with the overrides applied. Their orientation is normalized once
    //    (cached for its two reads inside the edges stage, released right
    //    after the stage materializes — ADVICE r3: a leaked cache entry pins
    //    executor memory for the whole job)
    val normOverrides = overrides.map(ov => ov.select(
      least($"a_id", $"b_id").as("a_id"),
      greatest($"a_id", $"b_id").as("b_id"),
      lower($"status").as("status")).cache())
    val edges = m.stage(spark, "edges") {
      val inferred = scored.where($"bucket" === "match").select($"a_id", $"b_id")
      normOverrides match {
        case None => inferred
        case Some(norm) =>
          // verified edges join the graph even if never scored, retracted
          // pairs leave it even above threshold (human decisions outrank the
          // model — Duke LinkDatabase)
          val verified = norm.where($"status" === "verified").select($"a_id", $"b_id")
          val retracted = norm.where($"status" === "retracted").select($"a_id", $"b_id")
          inferred.unionByName(verified).distinct()
            .join(retracted.withColumn("__r", lit(true)), Seq("a_id", "b_id"), "left")
            .where($"__r".isNull).select($"a_id", $"b_id")
      }
    }
    normOverrides.foreach(_.unpersist())

    // ⑤ connected components with per-iteration parquet checkpoints:
    //    resume continues from the latest cc_iter_<i> present in the manifest.
    val ccDone = m.completed.keys.filter(_.startsWith("cc_iter_"))
      .map(_.stripPrefix("cc_iter_").toInt)
    val (startEdges, startIter) =
      if (ccDone.isEmpty) (edges, 0)
      else {
        val last = ccDone.max
        (spark.read.parquet(s"$outDir/cc_iter_$last"), last)
      }
    // a component's label is its minimum id, so each cluster has exactly one
    // row whose doc_id is its label
    m.stage(spark, "clusters", "clusters" -> count(when($"doc_id" === $"cluster_id", 1))) {
      val labeled = Cluster.connectedComponents(
        startEdges,
        onIteration = (i, df) => m.stage(spark, s"cc_iter_${startIter + i}")(df))
      // singletons keep their own id as cluster label
      val allIds = records.select($"doc_id")
      allIds.join(labeled, Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("cluster_id"))
    }

    // ⑥ lineage: per written FILE row counts of every persisted stage. Each
    //    writer task emits exactly one part file, so file-level counts ARE
    //    writer-side provenance — reader-side spark_partition_id() would
    //    reflect the re-read split, not the task that wrote the data. All
    //    five stage dirs are read in one column-less scan (a file's stage is
    //    its parent dir), and the summary's stage totals are observed on the
    //    lineage write; the `pairs` total is the `scored` row count. An empty
    //    stage has no lineage rows; its total is 0.
    val stages = Seq("records", "blocks", "scored", "edges", "clusters")
    val totals = Seq("records" -> "records", "blocks" -> "blocks", "pairs" -> "scored")
      .map { case (k, s) => k -> sum(when($"stage" === s, $"rows")) }
    m.stage(spark, "lineage", totals: _*) {
      spark.read.schema(new StructType()).parquet(stages.map(s => s"$outDir/$s"): _*)
        .groupBy(input_file_name().as("file"))
        .agg(count("*").as("rows"))
        .select(regexp_extract($"file", "([^/]+)/[^/]+$", 1).as("stage"), $"file", $"rows")
    }

    // every summary count was observed on a stage write and is read back
    // from the manifest, on fresh and resumed runs alike (docs = records)
    val observed = Seq("lineage", "scored", "clusters").map(m.counters).reduce(_ ++ _)
    val counts = observed + ("docs" -> observed("records"))
    counts.foreach { case (k, v) => metrics += (("job", k, v.toDouble)) }

    m.stage(spark, "metrics") {
      metrics.toSeq.toDF("stage", "metric", "value")
    }

    Summary(
      docs = counts("docs"), records = counts("records"), blocks = counts("blocks"),
      pairs = counts("pairs"), matches = counts("matches"), maybes = counts("maybes"),
      clusters = counts("clusters"),
      droppedBlocks = pairStats.droppedBlocks, saltedBlocks = pairStats.saltedBlocks)
  }

  /** spark-submit entry: LinkJob <outDir> [nEntities=1000] [configJson]
    * — configJson is a plugin-style query-params file (SURVEY.md §1.2),
    * defaulting to the fixture configuration.
    */
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft-link")
    val nEntities = args.lift(1).map(_.toLong).getOrElse(1000L)
    val config = args.lift(2) match {
      case Some(path) => MatchConfig.fromJson(
        new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
          java.nio.charset.StandardCharsets.UTF_8))
      case None => MatchConfig.fixture
    }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]"))
      .appName("graft-link")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = Fixtures.docs(spark, nEntities)
    val s = run(spark, docs, config, outDir)
    println(s"[link] $s")
    spark.stop()
  }
}
