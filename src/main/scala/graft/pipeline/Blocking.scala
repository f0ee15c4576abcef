package graft.pipeline

import org.apache.spark.sql.Dataset

import graft.core.Phonetics
import graft.model.MatchConfig
import graft.pipeline.ErPipeline.{BlockRow, CleanRecord}

/** Configurable blocking-key generation — the Duke `KeyFunction` analog
  * (`[D KeyFunction.java]`, SURVEY.md §2.6 J3/J4): a `Keyer` maps the cleaned
  * values of one property to recall-oriented keys; several compose into a
  * multi-pass blocking scheme. Each keyer's property is resolved to its index
  * in `CleanRecord.props` once, on the driver, and the keys are applied in one
  * narrow flatMap — the salting/capping downstream (`ErPipeline.pairs`) is
  * keyer-agnostic.
  */
object Blocking {

  sealed trait Keyer extends Serializable {
    def prop: String
    def prefix: String
    def keys(values: Seq[String]): Seq[String]
  }

  /** Soundex of the last whitespace token (surname-style). */
  final case class SoundexLastToken(prop: String, prefix: String) extends Keyer {
    def keys(values: Seq[String]): Seq[String] =
      values.flatMap { v =>
        val toks = v.split(' ')
        if (toks.isEmpty || toks.last.isEmpty) Nil
        else Seq(prefix + Phonetics.soundex(toks.last))
      }
  }

  /** Exact value, gated on a minimum length (identifier-style: phones, refs). */
  final case class ExactValue(prop: String, prefix: String, minLen: Int = 1) extends Keyer {
    def keys(values: Seq[String]): Seq[String] =
      values.filter(_.length >= minLen).map(prefix + _)
  }

  /** Fixed-length prefix of each value (sorted-neighborhood-ish bucketing). */
  final case class ValuePrefix(prop: String, len: Int, prefix: String) extends Keyer {
    def keys(values: Seq[String]): Seq[String] =
      values.map(v => prefix + v.substring(0, math.min(len, v.length)))
  }

  /** Character q-grams of each value (high-recall fuzzy blocking; pair with a
    * tight `PairConfig.maxBlockSize` — gram keys are hot by construction).
    */
  final case class QGrams(prop: String, q: Int, prefix: String) extends Keyer {
    def keys(values: Seq[String]): Seq[String] =
      values.flatMap { v =>
        if (v.length < q) Seq(prefix + v)
        else (0 to v.length - q).map(i => prefix + v.substring(i, i + q)).distinct
      }
  }

  /** The distinct keys of a record under `keyers`, whose properties are looked
    * up in `config` here, once: one the config lacks throws instead of
    * silently blocking on nothing.
    */
  def keys(keyers: Seq[Keyer], config: MatchConfig): CleanRecord => Seq[String] = {
    val names = config.properties.map(_.name)
    val indexed = keyers.map { k =>
      require(names.contains(k.prop), s"blocking keyer $k reads property '${k.prop}', which " +
        s"the config does not have (config properties: ${names.mkString(", ")})")
      (k, names.indexOf(k.prop))
    }
    rec => indexed.flatMap { case (k, i) => k.keys(rec.props(i).toSeq) }.distinct
  }

  def block(records: Dataset[CleanRecord], config: MatchConfig, keyers: Seq[Keyer]): Dataset[BlockRow] = {
    import records.sparkSession.implicits._
    val keysOf = keys(keyers, config)
    records.flatMap(r => keysOf(r).map(k => BlockRow(r.doc_id, k)))
  }

  /** The fixture scheme: surname soundex + exact phone digits. */
  val default: Seq[Keyer] = Seq(
    SoundexLastToken("name", "n:"),
    ExactValue("phone", "p:", minLen = 5))

  /** Keyers derived from Duke lookup flags (`[D Property.java#getLookupBehaviour]`):
    * every non-id property marked lookup=required/true blocks on its exact
    * cleaned values. Falls back to `default` when no property is flagged (a
    * config without lookups still needs candidate retrieval).
    */
  def fromConfig(config: MatchConfig): Seq[Keyer] = {
    val flagged = config.properties
      .filter(p => !p.idProperty && (p.lookup == "required" || p.lookup == "true"))
      .map(p => ExactValue(p.name, p.name + ":"): Keyer)
    if (flagged.nonEmpty) flagged else default
  }
}
