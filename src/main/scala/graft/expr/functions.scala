package graft.expr

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.functions._

import graft.core.{Cleaners, Similarity}
import graft.model.MatchConfig

/** Column-level API over the custom expressions — the engine's `functions._`
  * (SURVEY.md §2.3/§2.4/§2.5). Everything composes as ordinary Columns, so
  * Catalyst prunes/pushes/constant-folds around them.
  */
object functions {

  private def col2(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    graftshim.column(e)
  private def x(c: Column) = graftshim.expression(c)

  // -------- comparators (K1-K14) --------
  def sim_exact(a: Column, b: Column): Column = col2(SimExpr(x(a), x(b), "exact"))
  def sim_jaro(a: Column, b: Column): Column = col2(SimExpr(x(a), x(b), "jaro"))
  def sim_jaro_winkler(a: Column, b: Column): Column = col2(SimExpr(x(a), x(b), "jaroWinkler"))
  def sim_jaro_winkler_tokenized(a: Column, b: Column): Column =
    col2(SimExpr(x(a), x(b), "jaroWinklerTokenized"))
  def sim_levenshtein(a: Column, b: Column): Column = col2(SimExpr(x(a), x(b), "levenshteinSim"))
  def sim_levenshtein_cutoff(a: Column, b: Column): Column =
    col2(SimExpr(x(a), x(b), "levenshteinSimCutoff"))
  def sim_weighted_levenshtein(a: Column, b: Column, digitWeight: Double = 2.0): Column =
    col2(SimExpr(x(a), x(b), "weightedLevenshteinSimD", Seq(digitWeight)))
  def sim_qgram(a: Column, b: Column, q: Int = 2, formula: Int = 1): Column =
    col2(SimExpr(x(a), x(b), "qgramSimD", Seq(q.toDouble, formula.toDouble)))
  def sim_dice(a: Column, b: Column): Column = col2(SimExpr(x(a), x(b), "diceToken"))
  def sim_jaccard(a: Column, b: Column): Column = col2(SimExpr(x(a), x(b), "jaccardToken"))
  def sim_numeric(a: Column, b: Column): Column = col2(SimExpr(x(a), x(b), "numericSim"))
  def sim_geoposition(a: Column, b: Column, maxMeters: Double): Column =
    col2(SimExpr(x(a), x(b), "geoSimD", Seq(maxMeters)))
  def sim_soundex(a: Column, b: Column): Column = col2(SimExpr(x(a), x(b), "soundexEq"))
  def sim_metaphone(a: Column, b: Column): Column = col2(SimExpr(x(a), x(b), "metaphoneEq"))
  def sim_norphone(a: Column, b: Column): Column = col2(SimExpr(x(a), x(b), "norphoneEq"))
  def sim_person_name(a: Column, b: Column): Column = col2(SimExpr(x(a), x(b), "personNameSim"))
  def sim_lcs(a: Column, b: Column): Column = col2(SimExpr(x(a), x(b), "lcsSim"))

  /** Comparator by config name (short, Duke class, or bare class name —
    * SURVEY.md §1.2); missing trailing params take the table's defaults.
    */
  def sim(comparator: String, a: Column, b: Column, params: Seq[Double] = Nil): Column = {
    val c = Similarity.comparator(comparator)
    col2(SimExpr(x(a), x(b), c.method, c.params(params)))
  }

  // -------- cleaners (C1-C9) --------
  def clean(cleaner: String, c: Column): Column = col2(CleanExpr(x(c), Cleaners.canonical(cleaner)))
  def clean_chain(cleaners: Seq[String], c: Column): Column =
    cleaners.foldLeft(c)((acc, n) => clean(n, acc))

  /** Cleaned, non-empty values of an `array<string>` column: the chain on
    * every element, then null / empty results dropped (the form the Duke fold
    * takes — SURVEY.md §7.4).
    */
  def clean_values(cleaners: Seq[String], values: Column): Column =
    filter(transform(values, v => clean_chain(cleaners, v)), v => v.isNotNull && v =!= "")

  // -------- text-dedup kernels --------
  def vec_dot(a: Column, b: Column): Column = col2(VecDotExpr(x(a), x(b)))
  def vec_norm(c: Column): Column = col2(VecNormExpr(x(c)))
  def sign_lsh_bucket(c: Column, band: Int, planesPerBand: Int): Column =
    col2(SignLshExpr(x(c), band, planesPerBand))
  def rolling_fp(c: Column): Column = col2(RollingFpExpr(x(c)))
  def shingle_fps(c: Column, k: Int = 3): Column = col2(TokenShingleFpsExpr(x(c), k))
  def simhash64(c: Column): Column = col2(Simhash64Expr(x(c)))

  // -------- phonetics --------
  def soundex_code(c: Column): Column = col2(PhoneticExpr(x(c), "soundex"))
  def metaphone_code(c: Column): Column = col2(PhoneticExpr(x(c), "metaphone"))
  def norphone_code(c: Column): Column = col2(PhoneticExpr(x(c), "norphone"))

  // -------- Duke probability math as columns (A1, A3 — SURVEY.md §2.5) --------
  /** A1: per-property probability curve, constant-folds for literal low/high. */
  def duke_probability(simCol: Column, low: Double, high: Double): Column =
    when(simCol >= 0.5, lit(high - 0.5) * simCol * simCol + 0.5).otherwise(lit(low))

  /** A3 building block: bayes(a,b) = ab/(ab + (1-a)(1-b)). */
  def bayes_combine(p: Column, q: Column): Column =
    p * q / (p * q + (lit(1.0) - p) * (lit(1.0) - q))

  /** A4/§8.3: full record score as one `DukeScoreExpr` over cleaned value
    * arrays. `sides(name)` yields the (left, right) raw columns of an evidence
    * property; `multiValued` marks `array<string>` columns (the others are
    * single strings). Cleaning runs per row through `clean_values`.
    */
  def duke_score(
      config: MatchConfig,
      sides: String => (Column, Column),
      multiValued: Set[String] = Set.empty): Column = {
    val evidence = config.copy(properties = config.properties.filter(_.isEvidence))
    val kids = evidence.properties.flatMap { spec =>
      val (a, b) = sides(spec.name)
      def values(c: Column) =
        clean_values(spec.cleaners, if (multiValued(spec.name)) c else array(c))
      Seq(values(a), values(b))
    }
    col2(DukeScoreExpr(kids.map(x), evidence))
  }

  /** Register the SQL surface (`sim_*`, `clean_*`, phonetic codes) so
    * `spark.sql` queries reach the same expressions (SURVEY.md §2.10).
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def one(name: String, builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression): Unit =
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    Similarity.comparators.filter(_.sqlName.nonEmpty).foreach { c =>
      one(s"sim_${c.sqlName}", es => SimExpr(es(0), es(1), c.method))
    }
    Cleaners.registry.keys.foreach { c =>
      one(s"clean_${c.replace('-', '_')}", es => CleanExpr(es.head, c))
    }
    Seq("soundex_code" -> "soundex", "metaphone_code" -> "metaphone",
      "norphone_code" -> "norphone").foreach { case (n, a) =>
      one(n, es => PhoneticExpr(es.head, a))
    }
  }
}
