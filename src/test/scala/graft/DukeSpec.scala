package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Duke, Similarity}
import graft.model.{MatchConfig, PropertySpec}

/** The Duke probability model — parity contract tests (SURVEY.md §8):
  * probability curve A1, bayes A3, multi-value max A2, missing-value skip P3,
  * deterministic fold §8.3, config JSON parsing §1.2.
  */
class DukeSpec extends AnyFunSuite {

  private val eps = 1e-12

  test("bayes: formula, commutativity, 0.5 identity, monotonicity") {
    assert(math.abs(Duke.bayes(0.8, 0.8) - 0.64 / (0.64 + 0.04)) < eps)
    assert(Duke.bayes(0.5, 0.7) === 0.7)            // 0.5 is the neutral prior
    assert(Duke.bayes(0.7, 0.5) === 0.7)
    val r = new scala.util.Random(5)
    for (_ <- 1 to 1000) {
      val a = 0.01 + r.nextDouble() * 0.98
      val b = 0.01 + r.nextDouble() * 0.98
      assert(math.abs(Duke.bayes(a, b) - Duke.bayes(b, a)) < eps)
      // evidence > 0.5 raises, < 0.5 lowers
      if (b > 0.5) assert(Duke.bayes(a, b) > a - eps)
      if (b < 0.5) assert(Duke.bayes(a, b) < a + eps)
      // associativity within fp tolerance
      val c = 0.01 + r.nextDouble() * 0.98
      assert(math.abs(
        Duke.bayes(Duke.bayes(a, b), c) - Duke.bayes(a, Duke.bayes(b, c))) < 1e-9)
    }
  }

  test("A1 probability curve: sim>=0.5 -> (high-0.5)sim²+0.5, else low") {
    assert(Duke.propertyProbability(1.0, 0.1, 0.95) === 0.95)
    assert(Duke.propertyProbability(0.49999, 0.1, 0.95) === 0.1)
    assert(Duke.propertyProbability(0.5, 0.1, 0.95) === (0.95 - 0.5) * 0.25 + 0.5)
    assert(Duke.propertyProbability(0.8, 0.2, 0.9) === (0.9 - 0.5) * 0.64 + 0.5)
    // continuity gap at 0.5 is intentional (Duke semantics): curve(0.5) != low
  }

  test("A2 multi-value max + P3 missing-value skip") {
    val p = Duke.compile(MatchConfig(0.8, 0.6, Seq(
      PropertySpec("name", Nil, "exact", 0.1, 0.9)))).properties(0)
    // best pair wins
    assert(p.factor(Array("a", "b"), Array("x", "b")) === 0.9)
    // all-mismatch -> low
    assert(p.factor(Array("a"), Array("x")) === 0.1)
    // empty or missing side -> no evidence (the fold must not move)
    assert(p.factor(Array.empty, Array("x")) === Duke.NoEvidence)
    assert(p.factor(null, Array("x")) === Duke.NoEvidence)
    // empty-after-cleaning values excluded BEFORE the max (§7.4 parity pitfall)
    assert(p.factor(Array("", "a"), Array("a")) === 0.9)
    assert(p.factor(Array(""), Array("a")) === Duke.NoEvidence)
    assert(p.factor(Array(null, "a"), Array("a")) === 0.9)
  }

  test("unknown comparator names fail on the driver, naming the property") {
    val bad = MatchConfig(0.8, 0.6, Seq(
      PropertySpec("name", Nil, "jaro-winklr", 0.1, 0.9)))
    for (build <- Seq[() => Any](
        () => Duke.compile(bad),
        () => graft.expr.DukeScoreExpr(Seq.fill(2)(
          org.apache.spark.sql.catalyst.expressions.Literal(null)), bad))) {
      val e = intercept[IllegalArgumentException](build())
      assert(e.getMessage.contains("property 'name'"), e.getMessage)
      assert(e.getMessage.contains("'jaro-winklr'"), e.getMessage)
      assert(e.getMessage.contains("jaro-winkler"), e.getMessage) // the known names
    }
    // an id property is never compared: its comparator is not looked up
    Duke.compile(bad.copy(properties = Seq(bad.properties(0).copy(idProperty = true))))
  }

  test("§8.3 record score: fold from 0.5 prior in fixed property order") {
    val config = MatchConfig(0.85, 0.7, Seq(
      PropertySpec("name", Seq("lowercase-normalize"), "jaro-winkler", 0.1, 0.95),
      PropertySpec("phone", Seq("digits-only"), "exact", 0.05, 0.98)))
    val cc = Duke.compile(config)
    val a = cc.clean(Map(
      "name" -> Seq("John Smith"), "phone" -> Seq("(555) 123-4567")))
    val b = cc.clean(Map(
      "name" -> Seq("Jon Smith"), "phone" -> Seq("5551234567")))
    val simName = Similarity.jaroWinkler("john smith", "jon smith")
    val pName = Duke.propertyProbability(simName, 0.1, 0.95)
    val expected = Duke.bayes(Duke.bayes(0.5, pName), 0.98)
    assert(math.abs(cc.score(a, b) - expected) < eps)

    // missing property on one side: only the other factor applies
    val c = cc.clean(Map("name" -> Seq("John Smith")))
    val expected2 = Duke.bayes(0.5, Duke.propertyProbability(
      Similarity.jaroWinkler("john smith", "jon smith"), 0.1, 0.95))
    assert(math.abs(cc.score(c, b) - expected2) < eps)

    // no shared evidence at all -> prior 0.5 -> "maybe"/below
    val d = cc.clean(Map.empty)
    assert(cc.score(d, b) === 0.5)
    assert(cc.classify(0.5) === "no-match")
    assert(cc.classify(0.7) === "maybe")
    assert(cc.classify(0.86) === "match")
  }

  test("identifier mismatch drags the score down (low << 0.5)") {
    val config = MatchConfig.fixture
    val cc = Duke.compile(config)
    // positional in fixture order: name, address, phone, media
    val same: Array[Array[String]] = Array(Array("john smith"), Array(), Array("55512345"), Array())
    val other: Array[Array[String]] = Array(Array("john smith"), Array(), Array("55599999"), Array())
    val withMatch = cc.score(same, same)
    val withMismatch = cc.score(same, other)
    assert(withMatch > 0.99)
    assert(withMismatch < config.threshold) // phone mismatch kills it
  }

  test("score is symmetric and deterministic") {
    val cc = Duke.compile(MatchConfig.fixture)
    val r = new scala.util.Random(17)
    // positional in fixture order: name, address, phone, media
    def rec(): Array[Array[String]] = Array(
      Array.fill(1 + r.nextInt(2))(s"n${r.nextInt(20)} x${r.nextInt(9)}"),
      Array(s"${r.nextInt(100)} main street city${r.nextInt(5)}"),
      if (r.nextBoolean()) Array(s"555${r.nextInt(100000)}") else Array(),
      Array.fill(r.nextInt(3))(s"m://x/${r.nextInt(50)}"))
    for (_ <- 1 to 300) {
      val (a, b) = (rec(), rec())
      val s1 = cc.score(a, b)
      val s2 = cc.score(b, a)
      assert(math.abs(s1 - s2) < 1e-9)
      assert(s1 >= 0.0 && s1 <= 1.0)
      assert(cc.score(a, b) === s1)
    }
  }

  test("config JSON parsing mirrors the plugin query params (SURVEY.md §1.2)") {
    val json =
      """{ "threshold": 0.85, "maybeThreshold": 0.7,
        |  "properties": [
        |    {"name": "name", "cleaners": ["trim", "lowercase-normalize"],
        |     "comparator": "jaro-winkler", "low": 0.1, "high": 0.95},
        |    {"name": "address", "cleaners": ["trim", "lowercase-normalize"],
        |     "comparator": "qgram", "low": 0.2, "high": 0.9, "params": [3, 1]},
        |    {"name": "phone", "cleaners": ["digits-only"],
        |     "comparator": "exact", "low": 0.05, "high": 0.98},
        |    {"name": "media", "cleaners": [],
        |     "comparator": "exact", "low": 0.15, "high": 0.9}
        |  ] }""".stripMargin
    assert(MatchConfig.fromJson(json) === MatchConfig.fixture)
    // duke class names accepted end-to-end
    val j2 = """{"threshold": 0.8, "maybeThreshold": 0.6, "properties": [
      |{"name": "n", "cleaners": ["no.priv.garshol.duke.cleaners.TrimCleaner"],
      | "comparator": "no.priv.garshol.duke.comparators.JaroWinkler",
      | "low": 0.1, "high": 0.9}]}""".stripMargin
    val cfg2 = MatchConfig.fromJson(j2)
    val cc2 = Duke.compile(cfg2)
    val s = cc2.score(
      Array(cc2.properties(0).cleanedValues(Seq(" MARTHA ")).toArray),
      Array(cc2.properties(0).cleanedValues(Seq("MARHTA")).toArray))
    assert(s > 0.5)
  }

  test("parameterized cleaners (C8/C9) round-trip through plugin-style JSON") {
    val json =
      """{ "threshold": 0.8, "maybeThreshold": 0.6, "properties": [
        |  {"name": "zip",
        |   "cleaners": [{"name": "no.priv.garshol.duke.cleaners.RegexpCleaner",
        |                 "pattern": "([0-9]{4})", "group": 1}],
        |   "comparator": "exact", "low": 0.2, "high": 0.9},
        |  {"name": "city",
        |   "cleaners": ["lowercase-normalize",
        |                {"name": "mapping", "map": {"oslo": "0sl0"}}],
        |   "comparator": "exact", "low": 0.2, "high": 0.9}
        |] }""".stripMargin
    val cfg = MatchConfig.fromJson(json)
    assert(cfg.properties(0).cleaners === Seq("regexp(([0-9]{4}),1)"))
    assert(cfg.properties(1).cleaners === Seq("lowercase-normalize", "mapping(oslo=0sl0)"))
    // parameterless cleaners in OBJECT form keep their name verbatim
    val cfg2 = MatchConfig.fromJson(
      """{"threshold": 0.8, "maybeThreshold": 0.6, "properties": [
        |  {"name": "p", "comparator": "exact", "low": 0.2, "high": 0.9,
        |   "cleaners": [{"name": "no.priv.garshol.duke.cleaners.DigitsOnlyCleaner"},
        |                {"name": "trim"}]}]}""".stripMargin)
    assert(cfg2.properties(0).cleaners ===
      Seq("no.priv.garshol.duke.cleaners.DigitsOnlyCleaner", "trim"))
    assert(Duke.compile(cfg2).properties(0).cleanedValues(Seq("a1b2 ")) === Seq("12"))
    val cc = Duke.compile(cfg)
    assert(cc.properties(0).cleanedValues(Seq("N-0371 Oslo")) === Seq("0371"))
    assert(cc.properties(0).cleanedValues(Seq("no digits here")) === Nil) // P3: no evidence
    assert(cc.properties(1).cleanedValues(Seq(" OSLO ")) === Seq("0sl0"))
    // a matching zip on both sides is evidence; a no-match zip is skipped
    // positional: zip, city
    val hi = cc.score(Array(Array("0371"), Array()), Array(Array("0371"), Array()))
    assert(hi > 0.5)
    assert(cc.score(Array(Array(), Array()), Array(Array("0371"), Array())) === 0.5)
  }

  test("idProperty / ignoreProperty are never evidence; lookup drives blocking") {
    val json =
      """{ "threshold": 0.8, "maybeThreshold": 0.6, "properties": [
        |  {"name": "id", "idProperty": true},
        |  {"name": "note", "ignoreProperty": true, "comparator": "exact",
        |   "low": 0.01, "high": 0.99},
        |  {"name": "name", "cleaners": ["lowercase-normalize"],
        |   "comparator": "jaro-winkler", "low": 0.1, "high": 0.95, "lookup": "required"},
        |  {"name": "phone", "cleaners": ["digits-only"],
        |   "comparator": "exact", "low": 0.05, "high": 0.98, "lookup": "false"}
        |] }""".stripMargin
    val cfg = MatchConfig.fromJson(json)
    assert(cfg.properties(0).idProperty && !cfg.properties(0).isEvidence)
    assert(cfg.properties(1).ignoreProperty && !cfg.properties(1).isEvidence)
    val cc = Duke.compile(cfg)
    // identical id + identical ignored note contribute NOTHING; different
    // names dominate — with flags honored the score has no id/note terms
    // positional: id, note, name, phone
    val a: Array[Array[String]] = Array(Array("r1"), Array("same"), Array("alice"), Array())
    val b: Array[Array[String]] = Array(Array("r1"), Array("same"), Array("bob"), Array())
    val withFlags = cc.score(a, b)
    val nameOnly = cc.score(Array(Array(), Array(), Array("alice"), Array()),
      Array(Array(), Array(), Array("bob"), Array()))
    assert(withFlags === nameOnly)
    // lookup=required blocks on name values; lookup=false/id excluded
    val keyers = graft.pipeline.Blocking.fromConfig(cfg)
    val rec = graft.pipeline.ErPipeline.CleanRecord("d1",
      Array(Array("r1"), Array(), Array("alice"), Array("5551234")))
    assert(graft.pipeline.Blocking.keys(keyers, cfg)(rec) === Seq("name:alice"))
  }
}
