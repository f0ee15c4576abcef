package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Similarity._

/** Golden vectors (FIXTURES.md §4; formulas SURVEY.md §8.2) + hand-rolled
  * seeded property checks for every comparator (SURVEY.md §5.2 #1-2).
  */
class SimilaritySpec extends AnyFunSuite {

  private val eps = 1e-9

  private def assertSim(actual: Double, expected: Double, tol: Double = 1e-4): Unit =
    assert(math.abs(actual - expected) <= tol, s"got $actual, expected $expected")

  // ------------------------------------------------------------ golden: Jaro-Winkler

  test("jaro golden vectors") {
    assertSim(jaro("MARTHA", "MARHTA"), 0.944444)
    assertSim(jaro("DWAYNE", "DUANE"), 0.822222)
    assertSim(jaro("DIXON", "DICKSONX"), 0.766667)
    assertSim(jaro("JELLYFISH", "SMELLYFISH"), 0.896296)
    assert(jaro("", "") === 1.0)
    assert(jaro("a", "") === 0.0)
    assert(jaro("abc", "abc") === 1.0)
    assert(jaro("abc", "xyz") === 0.0)
  }

  test("jaro-winkler golden vectors (prefix bonus p=0.1, l<=4, no boost threshold)") {
    assertSim(jaroWinkler("MARTHA", "MARHTA"), 0.961111)
    assertSim(jaroWinkler("DWAYNE", "DUANE"), 0.84)
    assertSim(jaroWinkler("DIXON", "DICKSONX"), 0.813333)
    // no 0.7 boost threshold: the bonus applies even at low jaro (Duke parity)
    val j = jaro("ABCDEF", "ABDCFE")
    assertSim(jaroWinkler("ABCDEF", "ABDCFE"), j + 2 * 0.1 * (1 - j), eps)
    // prefix capped at 4
    val j2 = jaro("ABCDEFGH", "ABCDEFHG")
    assertSim(jaroWinkler("ABCDEFGH", "ABCDEFHG"), j2 + 4 * 0.1 * (1 - j2), eps)
  }

  // ------------------------------------------------------------ golden: Levenshtein

  test("levenshtein distance golden vectors") {
    assert(levenshtein("kitten", "sitting") === 3)
    assert(levenshtein("flaw", "lawn") === 2)
    assert(levenshtein("", "abc") === 3)
    assert(levenshtein("abc", "abc") === 0)
  }

  test("levenshteinSim: 1 - d/min, length-ratio early exit (SURVEY.md §8.2)") {
    assertSim(levenshteinSim("kitten", "sitting"), 0.5, eps)   // 1 - 3/6
    assertSim(levenshteinSim("martha", "marhta"), 1.0 - 2.0 / 6.0, eps)
    assert(levenshteinSim("", "") === 1.0)
    assert(levenshteinSim("ab", "abcd") === 0.0)  // ratio 2/4 <= 0.5 -> early exit
    assert(levenshteinSim("abc", "abcdef") === 0.0)
    // d capped at min-length clamps sim into [0,1]
    assert(levenshteinSim("abcd", "wxyz") === 0.0)
  }

  test("levenshteinSimCutoff agrees with exact sim whenever sim > 0.5, else 0") {
    val r = new scala.util.Random(7)
    val alphabet = "abcdefg"
    def word(): String = (0 until 1 + r.nextInt(12)).map(_ => alphabet(r.nextInt(alphabet.length))).mkString
    for (_ <- 1 to 2000) {
      val (a, b) = (word(), word())
      val exact = levenshteinSim(a, b)
      val cut = levenshteinSimCutoff(a, b)
      if (exact > 0.5) assert(cut === exact, s"($a,$b)")
      else assert(cut === 0.0, s"($a,$b): exact=$exact cut=$cut")
    }
  }

  // ------------------------------------------------------------ golden: q-gram / token sets

  test("qgram golden vectors (sets, q=2)") {
    // grams(nelson)={ne,el,ls,so,on}(5), grams(neilsen)={ne,ei,il,ls,se,en}(6), inter=2
    assertSim(qgramSim("nelson", "neilsen", 2, FormulaDice), 4.0 / 11.0, eps)
    assertSim(qgramSim("nelson", "neilsen", 2, FormulaJaccard), 2.0 / 9.0, eps)
    assertSim(qgramSim("nelson", "neilsen", 2, FormulaOverlap), 2.0 / 5.0, eps)
    assert(qgramSim("ab", "ab", 3, FormulaDice) === 1.0) // equal short-circuit
    assert(qgramSim("ab", "cd", 3, FormulaDice) === 0.0) // both shorter than q
    // repeated grams counted once (set semantics): grams(aaaa)={aa}
    assertSim(qgramSim("aaaa", "aab", 2, FormulaDice), 2.0 * 1 / (1 + 2), eps)
  }

  test("token Dice / Jaccard golden vectors") {
    assertSim(diceToken("john smith", "smith john jr"), 2.0 * 2 / (2 + 3), eps)
    assertSim(jaccardToken("john smith", "smith john jr"), 2.0 / 3.0, eps)
    assert(diceToken("", "") === 1.0)
    assert(jaccardToken("a", "") === 0.0)
  }

  // ------------------------------------------------------------ golden: numeric / geo / lcs / person

  test("numericSim: ratio min/max, sign rules, unparseable -> 0.5") {
    assertSim(numericSim("10", "8"), 0.8, eps)
    assert(numericSim("3.5", "3.50") === 1.0)
    assert(numericSim("-1", "2") === 0.0)
    assert(numericSim("0", "5") === 0.0)
    assert(numericSim("abc", "5") === 0.5)
    assert(numericSim("", "5") === 0.5)
  }

  test("geoSim: haversine under maxMeters") {
    assert(geoSim("59.9139,10.7522", "59.9139,10.7522", 1000) === 1.0)
    // Oslo -> Bergen ~ 305 km >> 1 km
    assert(geoSim("59.9139,10.7522", "60.3913,5.3221", 1000) === 0.0)
    val s = geoSim("59.9139,10.7522", "59.9149,10.7522", 1000) // ~111 m apart
    assert(s > 0.85 && s < 0.92, s.toString)
    assert(geoSim("garbage", "59,10", 1000) === 0.5)
  }

  test("lcsSim: repeated longest-common-substring removal, Dice-normalized") {
    assert(lcsSim("abc", "abc") === 1.0)
    assertSim(lcsSim("abcdef", "abcxef"), 2.0 * (3 + 2) / 12.0, eps) // "abc" then "ef"
    assert(lcsSim("ab", "cd") === 0.0)
  }

  test("personNameSim: order swap, initials, symmetry") {
    assert(personNameSim("john smith", "john smith") === 1.0)
    assertSim(personNameSim("john smith", "smith john"), 0.95, eps)
    assert(personNameSim("j smith", "john smith") > 0.9)
    val a = personNameSim("maria garcia lopez", "maria garcia")
    val b = personNameSim("maria garcia", "maria garcia lopez")
    assert(a === b) // canonical orientation => symmetric
    assert(a < 0.95 && a > 0.5)
  }

  test("phonetic-equality comparators are 0/1 indicators") {
    assert(soundexEq("Robert", "Rupert") === 1.0)
    assert(soundexEq("Robert", "Smith") === 0.0)
    assert(metaphoneEq("Smith", "Smyth") === 1.0)
    assert(norphoneEq("Kristiansen", "Christiansen") === 1.0)
  }

  // ------------------------------------------------------------ properties (seeded, deterministic)

  private def randomWords(seed: Int, n: Int, maxLen: Int = 14): Seq[String] = {
    val r = new scala.util.Random(seed)
    val chars = "abcdefghij XYZ012,.-"
    (0 until n).map(_ => (0 until r.nextInt(maxLen)).map(_ => chars(r.nextInt(chars.length))).mkString)
  }

  test("properties: bounds, identity, symmetry for all registry comparators") {
    val words = randomWords(11, 60)
    for (c <- comparators) {
      val name = c.method
      val fn = c.fn
      val p = c.defaults.toArray
      for (a <- words.take(25); b <- words.take(25)) {
        val s = fn(a, b, p)
        assert(s >= 0.0 - eps && s <= 1.0 + eps, s"$name($a,$b) = $s out of [0,1]")
        val s2 = fn(b, a, p)
        assert(math.abs(s - s2) < 1e-9, s"$name not symmetric on ($a,$b): $s vs $s2")
      }
      for (a <- words) {
        val s = fn(a, a, p)
        // numeric/geo return 0.5 ("no evidence") on unparseable self-compare
        assert(s === 1.0 || ((c.name == "numeric" || c.name == "geoposition") && s === 0.5),
          s"$name($a,$a) = $s != 1")
      }
    }
  }

  test("duke class-name aliases dispatch to the same functions") {
    def viaTable(name: String, a: String, b: String): Double = {
      val c = comparator(name)
      c.fn(a, b, c.params(Nil).toArray)
    }
    for (jw <- Seq("no.priv.garshol.duke.comparators.JaroWinkler", "JaroWinkler", "jaro-winkler"))
      assert(viaTable(jw, "MARTHA", "MARHTA") === jaroWinkler("MARTHA", "MARHTA"))
    assert(viaTable("no.priv.garshol.duke.comparators.Levenshtein", "kitten", "sitting")
      === levenshteinSim("kitten", "sitting"))
    assert(viaTable("no.priv.garshol.duke.comparators.QGramComparator", "nelson", "neilsen")
      === qgramSim("nelson", "neilsen", 2, FormulaDice))
    // every Duke class resolves, with and without its package, to its row
    for (c <- comparators if c.dukeClass.nonEmpty) {
      assert(comparator(DukePackage + c.dukeClass) eq c)
      assert(comparator(c.dukeClass) eq c)
    }
  }
}
