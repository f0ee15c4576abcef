package graft

import org.apache.spark.sql.functions._

import graft.model.MatchConfig
import graft.pipeline.{Cluster, ErPipeline, Eval, Fixtures}

/** End-to-end correctness gates (SURVEY.md §5.2 #4-5, BASELINE.json:2):
  * pairwise F1 >= 0.99 vs labeled pairs at the same blocking key, cluster
  * equality vs the brute-force O(n²) oracle at fix-unit scale, and
  * partitioning-independence of the full pipeline.
  */
class PipelineF1Spec extends SparkSpec {

  private val config = MatchConfig.fixture

  private def pipeline(nEntities: Long) = {
    val docs = Fixtures.docs(spark, nEntities)
    val records = ErPipeline.extract(docs, config)
    val blocks = ErPipeline.block(records, config)
    val (pairIds, _) = ErPipeline.pairs(blocks)
    val scored = ErPipeline.score(pairIds, records, config)
    (records, blocks, scored)
  }

  test("pairwise F1 >= 0.99 vs labeled pairs at the same blocking key (Eval path)") {
    // the fix-e2e-scale gate lives in ErEndToEndSpec; this covers the Eval
    // module itself at a lighter scale
    val n = 600L
    val (_, blocks, scored) = pipeline(n)
    val predicted = ErPipeline.matchEdges(scored, config)
    val labeled = Eval.labeledPairs(blocks, Fixtures.goldClusters(spark, n))
    val f1 = Eval.pairwiseF1(predicted, labeled)
    info(s"tp=${f1.tp} fp=${f1.fp} fn=${f1.fn} precision=${f1.precision} recall=${f1.recall} f1=${f1.f1}")
    assert(f1.tp > 300, "fixture should plant co-blocked duplicate pairs")
    assert(f1.f1 >= 0.99, s"F1 gate failed: $f1")
  }

  test("cluster partition equals brute-force O(n²) oracle at fix-unit scale") {
    import spark.implicits._
    val n = 150L
    val docsLocal = Fixtures.docs(spark, n).collect().toSeq
    val oracle = Eval.bruteForceClusters(docsLocal, config)

    val (records, _, scored) = pipeline(n)
    val edges = ErPipeline.matchEdges(scored, config)
    val labeled = Cluster.connectedComponents(edges)
    val singletons = records.select($"doc_id")
      .join(labeled, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"doc_id".as("cluster_id"))
    val ours = labeled.union(singletons)

    val oracleDf = oracle.toSeq.toDF("doc_id", "cluster_id")
    // identical partitions up to label choice; labels are both component minima
    assert(Eval.partitionDiff(ours, oracleDf) === 0)
    assert(ours.count() === docsLocal.size.toLong)
    // exact label equality too (both use min doc_id)
    val gotMap = ours.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val mismatches = oracle.count { case (d, c) => gotMap(d) != c }
    assert(mismatches === 0)
  }

  test("brute-force oracle blocks like LinkJob under a lookup-flagged config") {
    import spark.implicits._
    // phone as the only lookup property: LinkJob blocks on exact phone
    // values (Blocking.fromConfig), and so must the oracle
    val cfg = config.copy(properties = config.properties.map(p =>
      if (p.name == "phone") p.copy(lookup = "required") else p))
    val docs = Fixtures.docs(spark, 150L)
    val out = java.nio.file.Files.createTempDirectory("graft-f1-lookup").toString
    graft.jobs.LinkJob.run(spark, docs, cfg, out)
    val oracle = Eval.bruteForceClusters(docs.collect().toSeq, cfg)
    assert(Eval.partitionDiff(spark.read.parquet(s"$out/clusters"),
      oracle.toSeq.toDF("doc_id", "cluster_id")) === 0)
  }

  test("pipeline output independent of partitioning (determinism, SURVEY.md §5.2 #5)") {
    import spark.implicits._
    val n = 300L
    def run(parts: Int): Set[(String, String, Long)] = {
      val docs = Fixtures.docs(spark, n).repartition(parts)
      val records = ErPipeline.extract(docs, config)
      val (pairIds, _) = ErPipeline.pairs(ErPipeline.block(records, config))
      val scored = ErPipeline.score(pairIds, records, config)
      scored.collect().map(p => (p.a_id, p.b_id, math.round(p.score * 1e12))).toSet
    }
    val a = run(3)
    val b = run(17)
    assert(a === b)
  }

  test("maybe bucket: classify splits match/maybe/no-match by thresholds") {
    import spark.implicits._
    val (_, _, scored) = pipeline(200L)
    val buckets = ErPipeline.classify(scored, config)
      .groupBy($"bucket").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(buckets.getOrElse("match", 0L) > 0)
    assert(buckets.values.sum === scored.count())
    val bad = ErPipeline.classify(scored, config).where(
      ($"bucket" === "match" && $"score" < config.threshold) ||
        ($"bucket" === "maybe" && ($"score" >= config.threshold || $"score" < config.maybeThreshold)) ||
        ($"bucket" === "no-match" && $"score" >= config.maybeThreshold)).count()
    assert(bad === 0)
  }
}
