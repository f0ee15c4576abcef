package graft.pipeline

import graft.SparkSpec
import graft.model.MatchConfig

/** Genetic config tuning (Duke genetic.GeneticAlgorithm analog): starting
  * from a deliberately detuned configuration, the GA must recover a
  * high-F1 config against the fixture's labeled pairs — deterministically
  * for a fixed seed, with one Spark job per generation.
  */
class ConfigTunerSpec extends SparkSpec {

  test("recovers F1 from a detuned config; elitism keeps best monotone; deterministic") {
    val docs = Fixtures.docs(spark, 150)
    val config = MatchConfig.fixture
    val records = ErPipeline.extract(docs, config)
    val blocks = ErPipeline.block(records, config)
    val labeled = Eval.labeledPairs(blocks, Fixtures.goldClusters(spark, 150))

    // detuned: near-uninformative probabilities + overtight threshold
    val detuned = config.copy(
      threshold = 0.93,
      properties = config.properties.map(_.copy(low = 0.45, high = 0.55)))

    val r = ConfigTuner.tune(records, labeled, detuned,
      populationSize = 12, generations = 6, seed = 7L)

    assert(r.initial.f1 < 0.5, s"detuned start unexpectedly good: ${r.initial}")
    assert(r.best.f1 > r.initial.f1)
    assert(r.best.f1 >= 0.9, s"GA did not recover: ${r.best}")
    // elitism: per-generation best is nondecreasing
    val h = r.history.map(_._2)
    assert(h.zip(h.tail).forall { case (x, y) => y >= x - 1e-12 }, h)
    // bounds respected
    r.best.config.properties.foreach { p =>
      assert(p.low >= 0.0 && p.low <= 0.49 && p.high >= 0.51 && p.high <= 1.0)
    }
    assert(r.best.config.threshold >= 0.55 && r.best.config.threshold <= 0.95)

    // determinism: same seed, same data -> identical best config and F1
    val r2 = ConfigTuner.tune(records, labeled, detuned,
      populationSize = 12, generations = 6, seed = 7L)
    assert(r2.best.config === r.best.config && r2.best.f1 === r.best.f1)
  }
}
