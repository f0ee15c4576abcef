package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim

import graft.core.Cleaners
import graft.expr.DukeScoreExpr
import graft.expr.functions.clean_values
import graft.model.MatchConfig

/** The reference plugin's query surface, Spark-native (SURVEY.md §3.1):
  * an ordinary predicate selects candidate documents, and this API computes,
  * per candidate, the Duke probability that it denotes the same real-world
  * entity as the query record — returned as a `score` column / top-k list,
  * exactly the `function_score` + native-script contract of
  * `[U EntityResolutionScript.java#runAsDouble]`.
  *
  * Candidate columns are matched to config properties by name; each may be
  * `string` or `array<string>`. Cleaners run on BOTH sides per property
  * (`[U EntityResolutionScript.java#ctor]`), missing values skip (P3),
  * multi-values take the max (A2), factors fold from the 0.5 prior (A3).
  */
object EntityResolution {

  /** Add a `score` column: probability(candidate ≙ query record).
    *
    * Scoring is one `DukeScoreExpr`: the Duke fold runs in Scala
    * (`Duke.CompiledConfig.score`) over the evaluated child arrays, so the
    * expression tree is linear in property count. Query-side values are
    * cleaned once on the driver with the same kernel chain; candidate-side
    * values clean declaratively per row (`clean_values`).
    */
  def scored(
      candidates: DataFrame,
      query: Map[String, Seq[String]],
      config: MatchConfig): DataFrame = {
    val kids = config.properties.flatMap(propKids(candidates, query, _))
    val scoreCol = graftshim.column(DukeScoreExpr(kids.map(graftshim.expression), config))
    candidates.withColumn("score", scoreCol)
  }

  /** (query values, candidate values) column pair for one property: query
    * side cleaned once on the driver, candidate side declaratively per row.
    */
  private def propKids(
      candidates: DataFrame,
      query: Map[String, Seq[String]],
      spec: graft.model.PropertySpec): Seq[Column] = {
    val missing = lit(null).cast("array<string>")
    val qv = query.getOrElse(spec.name, Nil)
      .filter(v => v != null && v.nonEmpty)
      .map(v => Cleaners.chain(spec.cleaners, v))
      .filter(v => v != null && v.nonEmpty)
    val qCol = if (qv.isEmpty) missing else array(qv.map(lit): _*)
    val cCol =
      if (!candidates.columns.contains(spec.name)) missing
      else {
        val raw = candidates.schema(spec.name).dataType.typeName match {
          case "array" => col(spec.name)
          case _       => array(col(spec.name))
        }
        clean_values(spec.cleaners, raw)
      }
    Seq(qCol, cCol)
  }

  /** Score explanation — the plugin's ES-explain / Duke per-property debug
    * face: beside `score`, an `explain` map property -> probability factor.
    * A single-property Duke fold from the 0.5 prior returns exactly that
    * property's probability (bayes(0.5, p) = p), so each factor is a
    * one-property `DukeScoreExpr`; missing evidence reads 0.5 (Duke: no evidence
    * moves nothing). Bayes-folding the factors in config order reproduces
    * `score` bit-for-bit (spec-asserted).
    */
  def explained(
      candidates: DataFrame,
      query: Map[String, Seq[String]],
      config: MatchConfig): DataFrame = {
    val entries = config.properties.flatMap { spec =>
      val kids = propKids(candidates, query, spec)
      Seq(lit(spec.name), graftshim.column(
        DukeScoreExpr(kids.map(graftshim.expression), config.copy(properties = Seq(spec)))))
    }
    scored(candidates, query, config).withColumn("explain", map(entries: _*))
  }

  /** Scored search: predicate (the "ES query") -> score -> global top-k —
    * the shard-heap + coordinator-merge of the reference collapses into
    * Spark's TakeOrderedAndProject.
    *
    * Deterministic: score ties break on `tieBreak` when given, else on every
    * candidate column in schema order (callers with non-orderable columns —
    * maps — must pass an explicit tieBreak).
    */
  def topK(
      candidates: DataFrame,
      query: Map[String, Seq[String]],
      config: MatchConfig,
      k: Int,
      predicate: Column = lit(true),
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val s = scored(candidates.where(predicate), query, config)
    val ties =
      if (tieBreak.nonEmpty) tieBreak
      else candidates.columns.toSeq.map(c => col(c).asc)
    s.orderBy(col("score").desc +: ties: _*).limit(k)
  }

  /** Threshold classification of a scored frame (match / maybe / no-match). */
  def classify(scoredDf: DataFrame, config: MatchConfig): DataFrame =
    scoredDf.withColumn("bucket",
      when(col("score") >= config.threshold, "match")
        .when(col("score") >= config.maybeThreshold, "maybe")
        .otherwise("no-match"))
}
