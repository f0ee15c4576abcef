package graft

import graft.model.{MatchConfig, PropertySpec}
import graft.pipeline.{Blocking, ErPipeline}
import graft.pipeline.ErPipeline.CleanRecord

/** Configurable blocking keyers (Duke KeyFunction analog, J3/J4). */
class BlockingSpec extends SparkSpec {

  // values positionally in the order of `config`: name, phone, address
  private val config = MatchConfig(0.8, 0.6, Seq("name", "phone", "address")
    .map(PropertySpec(_, Nil, "exact", 0.1, 0.9)))
  private val rec = CleanRecord("d1", Array(
    Array("john smith", "j smyth"),
    Array("5551234", "123"),
    Array("12 oak street salem")))

  test("default scheme == historical ErPipeline.blockKeys behavior") {
    assert(Blocking.keys(Blocking.default, config)(rec).toSet === Set("n:S530", "p:5551234"))
  }

  test("keyers: soundex-last-token, exact, prefix, qgrams") {
    def keys(k: Blocking.Keyer) = Blocking.keys(Seq(k), config)(rec)
    assert(keys(Blocking.SoundexLastToken("name", "n:")).toSet
      === Set("n:S530")) // smith and smyth share S530 -> distinct via keys()
    assert(keys(Blocking.ExactValue("phone", "p:", minLen = 5)) === Seq("p:5551234"))
    assert(keys(Blocking.ValuePrefix("address", 6, "a:")) === Seq("a:12 oak"))
    val grams = keys(Blocking.QGrams("phone", 3, "g:"))
    assert(grams.contains("g:555") && grams.contains("g:123"))
    // short value falls back to whole-value key
    assert(Blocking.QGrams("phone", 4, "g:").keys(Seq("12")) === Seq("g:12"))
  }

  test("custom scheme flows through the pipeline block stage") {
    import spark.implicits._
    val records = Seq(
      CleanRecord("a", Array(Array("maria garcia"), Array(), Array())),
      CleanRecord("b", Array(Array("mario garcia"), Array(), Array())),
      CleanRecord("c", Array(Array("zoe lin"), Array(), Array()))).toDS()
    val keys = ErPipeline.block(records, config,
      Seq(Blocking.ValuePrefix("name", 4, "pfx:"))).collect()
    assert(keys.count(_.key == "pfx:mari") === 2)
    assert(keys.count(_.key == "pfx:zoe ") === 1)
  }

  test("a keyer on a property the config lacks fails on the driver") {
    import spark.implicits._
    val records = Seq(rec).toDS()
    val e = intercept[IllegalArgumentException](
      ErPipeline.block(records, config, Seq(Blocking.ExactValue("email", "e:"))))
    assert(e.getMessage.contains("'email'"), e.getMessage)
    assert(e.getMessage.contains("name, phone, address"), e.getMessage)
    // the default scheme needs name and phone: a config without phone is refused
    val noPhone = config.copy(properties = config.properties.filterNot(_.name == "phone"))
    intercept[IllegalArgumentException](Blocking.keys(Blocking.default, noPhone))
  }
}
