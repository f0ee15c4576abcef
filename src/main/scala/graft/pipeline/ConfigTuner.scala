package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.model.{MatchConfig, PropertySpec}

/** Genetic configuration tuning against labeled pairs — the Spark-first
  * re-expression of Duke's `genetic.GeneticAlgorithm` (public Duke surface:
  * evolve per-property low/high probabilities, the accept threshold, and
  * optionally the comparator choice, scored by F1 on a labeled test set).
  *
  * The distributed shape is the point: Duke evaluates candidate configs one
  * at a time over the whole test set; here ONE Spark job evaluates the WHOLE
  * generation — every candidate contributes one fused `DukeScoreExpr` column
  * over the pinned (labeled pair × records) join, and a single aggregate row
  * returns tp/fp/fn for all of them. A generation costs one pass over the
  * pairs regardless of population size, so population width is free
  * parallelism (the classic train-many-models-in-one-scan pattern).
  *
  * Determinism: genome operations run driver-side on a seeded Random;
  * fitness is exact integer counts from Spark aggregates — same seed, same
  * data, same result, any partitioning.
  */
object ConfigTuner {

  case class Candidate(config: MatchConfig, f1: Double, precision: Double, recall: Double)
  case class TuneResult(best: Candidate, initial: Candidate, history: Seq[(Int, Double)])

  /** @param records        cleaned records (ErPipeline.extract output)
    * @param labeled        (a_id, b_id, is_match) — Eval.labeledPairs output
    * @param base           starting configuration (defines the property set,
    *                       cleaners, params; probabilities/threshold evolve)
    * @param comparatorPool per property, alternative comparators the GA may
    *                       select (absent = comparator stays fixed)
    */
  def tune(
      records: Dataset[ErPipeline.CleanRecord],
      labeled: DataFrame,
      base: MatchConfig,
      populationSize: Int = 16,
      generations: Int = 8,
      elite: Int = 2,
      seed: Long = 42L,
      comparatorPool: Map[String, Seq[String]] = Map.empty): TuneResult = {
    val spark = records.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.graftshim

    require(populationSize >= 4 && elite >= 1 && elite < populationSize)
    val rnd = new scala.util.Random(seed)

    // the evaluation corpus is pinned ONCE; every generation reads it
    val a = records.toDF("a_id", "a_props")
    val b = records.toDF("b_id", "b_props")
    val joined = graft.io.Persist.truncate(
      labeled.select($"a_id", $"b_id", $"is_match").join(a, "a_id").join(b, "b_id"))
    // fail fast with a real message: on an empty evaluation set the fitness
    // sums would return NULL and every candidate would NPE at getLong
    // (ADVICE r3); the pin above makes this check one cheap cached read
    require(!joined.isEmpty,
      "ConfigTuner needs a non-empty evaluation set: every labeled (a_id, b_id) " +
        "pair must join `records` on BOTH ids — got zero joined pairs")

    // `props` is positional in config order; every candidate keeps the base
    // config's property order (genome ops map/zip it in place)
    def scoreCol(cfg: MatchConfig) = {
      val kids = cfg.properties.indices.flatMap(i =>
        Seq(col("a_props").getItem(i), col("b_props").getItem(i)))
      graftshim.column(graft.expr.DukeScoreExpr(kids.map(graftshim.expression), cfg))
    }

    /** One Spark job: tp/fp/fn for every candidate in the generation. */
    def evaluate(pop: Seq[MatchConfig]): Seq[Candidate] = {
      val scored = joined.select(
        col("is_match") +: pop.zipWithIndex.map { case (c, i) => scoreCol(c).as(s"s$i") }: _*)
      val aggs = pop.zipWithIndex.flatMap { case (c, i) =>
        Seq(
          sum(when(col("is_match") && col(s"s$i") >= c.threshold, 1L).otherwise(0L)).as(s"tp$i"),
          sum(when(!col("is_match") && col(s"s$i") >= c.threshold, 1L).otherwise(0L)).as(s"fp$i"),
          sum(when(col("is_match") && col(s"s$i") < c.threshold, 1L).otherwise(0L)).as(s"fn$i"))
      }
      val r = scored.agg(aggs.head, aggs.tail: _*).collect()(0)
      pop.zipWithIndex.map { case (c, i) =>
        val f1 = Eval.F1(r.getLong(3 * i), r.getLong(3 * i + 1), r.getLong(3 * i + 2))
        Candidate(c, f1.f1, f1.precision, f1.recall)
      }
    }

    // ---- genome ops (driver-side, seeded) ----
    def clip(x: Double, lo: Double, hi: Double) = math.max(lo, math.min(hi, x))

    def mutateProp(p: PropertySpec): PropertySpec = {
      var q = p
      if (rnd.nextDouble() < 0.4)
        q = q.copy(low = clip(q.low + (rnd.nextDouble() - 0.5) * 0.2, 0.0, 0.49))
      if (rnd.nextDouble() < 0.4)
        q = q.copy(high = clip(q.high + (rnd.nextDouble() - 0.5) * 0.2, 0.51, 1.0))
      comparatorPool.get(p.name).filter(_.nonEmpty).foreach { pool =>
        if (rnd.nextDouble() < 0.2) q = q.copy(comparator = pool(rnd.nextInt(pool.size)))
      }
      q
    }
    def mutate(c: MatchConfig): MatchConfig = c.copy(
      threshold = clip(c.threshold + (rnd.nextDouble() - 0.5) * 0.1, 0.55, 0.95),
      properties = c.properties.map(mutateProp))
    def crossover(x: MatchConfig, y: MatchConfig): MatchConfig = x.copy(
      threshold = if (rnd.nextBoolean()) x.threshold else y.threshold,
      properties = x.properties.zip(y.properties).map { case (px, py) =>
        if (rnd.nextBoolean()) px else py
      })
    def tournament(ranked: Seq[Candidate]): MatchConfig = {
      val i = math.min(rnd.nextInt(ranked.size), rnd.nextInt(ranked.size)) // bias to fitter
      ranked(i).config
    }

    // initial population samples the WHOLE genome space uniformly (Duke's GA
    // randomizes its initial population the same way): a detuned base gives
    // zero selection gradient — every small mutation still scores F1 = 0 —
    // so refinement-only init can random-walk for generations before any
    // candidate crosses the threshold floor
    def randomize(c: MatchConfig): MatchConfig = c.copy(
      threshold = 0.55 + rnd.nextDouble() * 0.4,
      properties = c.properties.map { p =>
        val q = p.copy(low = rnd.nextDouble() * 0.49, high = 0.51 + rnd.nextDouble() * 0.49)
        comparatorPool.get(p.name).filter(_.nonEmpty)
          .map(pool => q.copy(comparator = pool(rnd.nextInt(pool.size))))
          .getOrElse(q)
      })

    // ---- evolution loop ----
    val initialPop = base +: Seq.fill(populationSize - 1)(randomize(base))
    var ranked = evaluate(initialPop).sortBy(c => (-c.f1, -c.precision))
    val initial = ranked.find(_.config == base).getOrElse(ranked.head)
    val history = scala.collection.mutable.ArrayBuffer(0 -> ranked.head.f1)

    for (gen <- 1 to generations) {
      val next = ranked.take(elite).map(_.config) ++
        Seq.fill(populationSize - elite)(
          mutate(crossover(tournament(ranked), tournament(ranked))))
      ranked = evaluate(next).sortBy(c => (-c.f1, -c.precision))
      history += gen -> ranked.head.f1
    }
    TuneResult(ranked.head, initial, history.toSeq)
  }
}
