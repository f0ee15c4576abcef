package graft.core

import graft.model.{MatchConfig, PropertySpec}

/** The Duke probability model — SURVEY.md §8 (the parity contract):
  * per-property similarity -> probability curve, naive-Bayes fold, multi-value
  * max, missing-value skip. This is the exact math the reference plugin runs per
  * candidate document (`[U EntityResolutionScript.java#runAsDouble]`,
  * `[D Processor.java#compare]`, `[D utils/Utils.java#computeBayes]`).
  *
  * Pure JVM, and the only copy of the fold. A record is positional, like
  * Duke's `Record`: one array of cleaned values per property, in config
  * order (`ErPipeline.CleanRecord.props`). The batched mapPartitions scorer
  * (`ErPipeline.score`) and the Catalyst `DukeScoreExpr` both call
  * `CompiledConfig.score` over such arrays; `CompiledConfig.clean` is the one
  * JVM path from raw values by property name to that form.
  */
object Duke {

  /** `CompiledProperty.factor` of a property with no evidence (P3). */
  final val NoEvidence = Double.NegativeInfinity

  /** bayes(a,b) = ab / (ab + (1-a)(1-b)) `[D utils/Utils.java#computeBayes]`. */
  def bayes(a: Double, b: Double): Double = {
    val n = a * b
    n / (n + (1.0 - a) * (1.0 - b))
  }

  /** Per-property probability `[D Property.java#compare]` (SURVEY.md §8.1):
    * sim >= 0.5 -> (high - 0.5)*sim^2 + 0.5, else low.
    */
  def propertyProbability(sim: Double, low: Double, high: Double): Double =
    if (sim >= 0.5) (high - 0.5) * sim * sim + 0.5 else low

  /** Compiled per-property scorer: cleaner chain + comparator resolved once (the
    * Spark analog of the plugin Factory parsing the query params once per query,
    * not once per doc — SURVEY.md §3.1/§4 "config parse once"). An evidence
    * property's unknown comparator name fails here, on the driver; id/ignore
    * properties are never compared, so their comparator is not looked up.
    */
  final class CompiledProperty(val spec: PropertySpec) extends Serializable {
    private val evidence = spec.isEvidence
    private val params: Array[Double] =
      if (!evidence) Array.emptyDoubleArray
      else Similarity.comparator(spec.comparator, s"property '${spec.name}': ")
        .params(spec.params).toArray
    @transient private var fn0: (String, String, Array[Double]) => Double = _
    @transient private var chain0: String => String = _
    private def fn: (String, String, Array[Double]) => Double = {
      if (fn0 == null) fn0 = Similarity.comparator(spec.comparator).fn
      fn0
    }
    // cleaner chain resolved once per task (compiled regexes / loaded dicts),
    // not once per value — Cleaners.compileChain handles parameterized specs
    private def cleanChain: String => String = {
      if (chain0 == null) chain0 = Cleaners.compileChain(spec.cleaners)
      chain0
    }
    def cleanedValues(raw: Seq[String]): Seq[String] =
      if (raw == null) Nil
      else raw.map(cleanChain).filter(v => v != null && v.nonEmpty)

    /** Best probability over the value cross product of already-cleaned
      * values (A2 multi-value max, `[D Processor.java#compare]`). Null and
      * empty values are skipped *before* the max (SURVEY.md §7.4 parity
      * pitfall); with none left on a side — or for an id/ignore property —
      * the result is `NoEvidence` (P3: the fold must not move).
      */
    def factor(a: Array[String], b: Array[String]): Double = {
      var best = NoEvidence
      if (evidence && a != null && b != null) {
        val compare = fn
        val low = spec.low
        val high = spec.high
        var i = 0
        while (i < a.length) {
          val x = a(i)
          if (x != null && !x.isEmpty) {
            var j = 0
            while (j < b.length) {
              val y = b(j)
              if (y != null && !y.isEmpty) {
                val p = propertyProbability(compare(x, y, params), low, high)
                if (p > best) best = p
              }
              j += 1
            }
          }
          i += 1
        }
      }
      best
    }
  }

  /** Compiled configuration — fixed property order for a deterministic fold. */
  final class CompiledConfig(val config: MatchConfig) extends Serializable {
    val properties: Array[CompiledProperty] =
      config.properties.map(new CompiledProperty(_)).toArray

    /** The Duke fold (prior 0.5, SURVEY.md §8.3): `a(i)` / `b(i)` hold the
      * cleaned values of property i in config order; a null or empty array is
      * a missing property.
      */
    def score(a: Array[Array[String]], b: Array[Array[String]]): Double = {
      var acc = 0.5
      var i = 0
      while (i < properties.length) {
        val f = properties(i).factor(a(i), b(i))
        if (f != NoEvidence) acc = bayes(acc, f)
        i += 1
      }
      acc
    }

    /** Clean a raw record, given by property name, into the positional form
      * `score` takes: property i's cleaned non-empty values at index i, an
      * empty array for a property with no value (as `ErPipeline.extract`).
      */
    def clean(raw: Map[String, Seq[String]]): Array[Array[String]] =
      properties.map(p => p.cleanedValues(raw.getOrElse(p.spec.name, Nil)).toArray)

    def classify(score: Double): String =
      if (score >= config.threshold) "match"
      else if (score >= config.maybeThreshold) "maybe"
      else "no-match"
  }

  def compile(config: MatchConfig): CompiledConfig = new CompiledConfig(config)
}
