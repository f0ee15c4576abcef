package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.model.{MatchConfig, PropertySpec}

/** The Duke probability model (SURVEY.md §8) — golden + algebraic tests. */
class DukeSpec extends AnyFunSuite {
  private val eps = 1e-12

  test("bayes golden values") {
    assert(math.abs(Duke.bayes(0.5, 0.9) - 0.9) < eps) // 0.5 prior is neutral
    assert(math.abs(Duke.bayes(0.9, 0.9) - 0.81 / (0.81 + 0.01)) < eps)
    assert(math.abs(Duke.bayes(0.9, 0.1) - 0.5) < eps) // opposite evidence cancels
  }

  test("bayes is commutative and monotone") {
    val rnd = new scala.util.Random(5)
    (1 to 500).foreach { _ =>
      val a = 0.01 + rnd.nextDouble() * 0.98
      val b = 0.01 + rnd.nextDouble() * 0.98
      val c = 0.01 + rnd.nextDouble() * 0.98
      assert(math.abs(Duke.bayes(a, b) - Duke.bayes(b, a)) < eps)
      // associative within fp tolerance
      val l = Duke.bayes(Duke.bayes(a, b), c)
      val r = Duke.bayes(a, Duke.bayes(b, c))
      assert(math.abs(l - r) < 1e-9)
      // evidence > 0.5 raises, < 0.5 lowers
      assert(Duke.bayes(a, 0.7) >= a - eps)
      assert(Duke.bayes(a, 0.3) <= a + eps)
    }
  }

  test("propertyProbability curve (A1)") {
    assert(Duke.propertyProbability(0.4, low = 0.1, high = 0.95) == 0.1)
    assert(math.abs(Duke.propertyProbability(1.0, 0.1, 0.95) - 0.95) < eps)
    assert(math.abs(Duke.propertyProbability(0.5, 0.1, 0.95) - ((0.95 - 0.5) * 0.25 + 0.5)) < eps)
  }

  test("record score: exact duplicate scores near 1, unrelated scores low") {
    val cc = Duke.compile(MatchConfig.fixture)
    val ca = cc.clean(Map(
      "name" -> Seq("John Smith"), "address" -> Seq("12 Main Street"),
      "phone" -> Seq("555-1234"), "media" -> Seq("m://sha256/aa")))
    val cb = cc.clean(Map(
      "name" -> Seq("Jon  Smith"), "address" -> Seq("12 Main St."),
      "phone" -> Seq("5551234"), "media" -> Seq("m://sha256/aa")))
    val cu = cc.clean(Map(
      "name" -> Seq("Greta Jones"), "address" -> Seq("99 Ocean Ave"),
      "phone" -> Seq("777-0000"), "media" -> Seq("m://sha256/zz")))
    val dup = cc.score(ca, cb)
    val non = cc.score(ca, cu)
    assert(dup > 0.9, s"dup=$dup")
    assert(non < 0.3, s"non=$non")
    assert(cc.classify(dup) == "match")
    assert(cc.classify(non) == "no-match")
  }

  test("missing values are skipped, not scored (P3/A2 interaction)") {
    val cfg = MatchConfig(0.8, 0.6, Seq(
      PropertySpec("name", Seq("lowercase-normalize"), "jaro-winkler", 0.1, 0.95),
      PropertySpec("phone", Seq("digits-only"), "exact", 0.3, 0.98)))
    val cc = Duke.compile(cfg)
    val a = cc.clean(Map("name" -> Seq("John Smith"), "phone" -> Seq("no digits at all")))
    val b = cc.clean(Map("name" -> Seq("John Smith"), "phone" -> Seq("555")))
    // phone cleans to empty on side a -> property must contribute nothing
    val expected = Duke.bayes(0.5, Duke.propertyProbability(1.0, 0.1, 0.95))
    assert(math.abs(cc.score(a, b) - expected) < eps)
  }

  test("multi-value max (A2): best pair wins") {
    val cfg = MatchConfig(0.8, 0.6, Seq(
      PropertySpec("name", Nil, "exact", 0.2, 0.9)))
    val cc = Duke.compile(cfg)
    val a = Array(Array("x", "y")) // the one property, name
    val b = Array(Array("z", "y"))
    // exact match exists in the cross product -> factor = high prob at sim=1
    val expected = Duke.bayes(0.5, (0.9 - 0.5) * 1.0 + 0.5)
    assert(math.abs(cc.score(a, b) - expected) < eps)
  }

  test("config JSON round-trip (plugin-style params — SURVEY.md §1.2)") {
    val json =
      """{ "threshold": 0.85, "maybeThreshold": 0.7,
        |  "properties": [
        |    {"name": "name", "cleaners": ["trim", "lowercase-normalize"],
        |     "comparator": "no.priv.garshol.duke.comparators.JaroWinkler",
        |     "low": 0.1, "high": 0.95},
        |    {"name": "phone", "cleaners": ["digits-only"], "comparator": "exact",
        |     "low": 0.3, "high": 0.98, "params": [2.0]}
        |  ] }""".stripMargin
    val cfg = MatchConfig.fromJson(json)
    assert(cfg.threshold == 0.85 && cfg.maybeThreshold == 0.7)
    assert(cfg.properties.map(_.name) == Seq("name", "phone"))
    assert(cfg.properties.head.comparator.endsWith("JaroWinkler"))
    assert(cfg.properties(1).params == Seq(2.0))
  }
}
