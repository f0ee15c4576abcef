package graft.core

/** Pure-JVM string comparators with the semantics of Duke's
  * `no.priv.garshol.duke.comparators.*` (SURVEY.md §2.4, formulas §8.2) — the
  * similarity layer the reference plugin dispatches to reflectively
  * (`[U EntityResolutionScript.java#ctor]`, `[D Comparator.java]`).
  *
  * All functions: null-safe at the caller (Catalyst wrappers are null-intolerant),
  * total on non-null input, return similarity in [0,1]. Static forwarders let
  * janino-generated code call them directly, keeping whole-stage codegen intact.
  */
object Similarity {

  /** 1.0 iff equal — Duke ExactComparator `[D comparators/ExactComparator.java]`. */
  def exact(s1: String, s2: String): Double = if (s1 == s2) 1.0 else 0.0

  // ---------------------------------------------------------------- Jaro-Winkler

  /** Jaro similarity, standard formulation (SURVEY.md §8.2): match window
    * floor(max/2)-1, transpositions t counted as half the out-of-order matches.
    */
  def jaro(s1: String, s2: String): Double = {
    if (s1.isEmpty && s2.isEmpty) return 1.0
    if (s1.isEmpty || s2.isEmpty) return 0.0
    if (s1 == s2) return 1.0
    val win = math.max(0, math.max(s1.length, s2.length) / 2 - 1)
    val m1 = new Array[Boolean](s1.length)
    val m2 = new Array[Boolean](s2.length)
    var m = 0
    var i = 0
    while (i < s1.length) {
      val lo = math.max(0, i - win)
      val hi = math.min(s2.length - 1, i + win)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: matched chars compared in order
    var t = 0
    var k = 0
    i = 0
    while (i < s1.length) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    // transposition count floors the half-count (t/2 integer), matching the
    // widespread implementations (commons-text, rapidfuzz/DuckDB) — pinned by
    // the golden vectors, which are unaffected (their mismatch counts are even)
    val tr = (t / 2).toDouble
    (m.toDouble / s1.length + m.toDouble / s2.length + (m - tr) / m) / 3.0
  }

  /** Jaro-Winkler `[D comparators/JaroWinkler.java]`: jw = j + l*p*(1-j),
    * common-prefix length l <= 4, p = 0.1 (SURVEY.md §8.2). No boost threshold —
    * the prefix bonus always applies, pinned by golden tests.
    */
  def jaroWinkler(s1: String, s2: String): Double = {
    val j = jaro(s1, s2)
    var l = 0
    val max = math.min(4, math.min(s1.length, s2.length))
    while (l < max && s1.charAt(l) == s2.charAt(l)) l += 1
    j + l * 0.1 * (1 - j)
  }

  /** Token-split both sides, per-token best Jaro-Winkler, symmetric mean —
    * Duke JaroWinklerTokenized `[D comparators/JaroWinklerTokenized.java]`.
    */
  def jaroWinklerTokenized(s1: String, s2: String): Double = {
    val t1 = s1.split("\\s+").filter(_.nonEmpty)
    val t2 = s2.split("\\s+").filter(_.nonEmpty)
    if (t1.isEmpty || t2.isEmpty) return if (t1.isEmpty && t2.isEmpty) 1.0 else 0.0
    def dir(a: Array[String], b: Array[String]): Double =
      a.map(x => b.map(y => jaroWinkler(x, y)).max).sum / a.length
    (dir(t1, t2) + dir(t2, t1)) / 2.0
  }

  // ---------------------------------------------------------------- Levenshtein

  /** Plain edit distance (two-row DP). */
  def levenshtein(s1: String, s2: String): Int = {
    if (s1 == s2) return 0
    if (s1.isEmpty) return s2.length
    if (s2.isEmpty) return s1.length
    var prev = Array.tabulate(s2.length + 1)(identity)
    var cur = new Array[Int](s2.length + 1)
    var i = 1
    while (i <= s1.length) {
      cur(0) = i
      var j = 1
      while (j <= s2.length) {
        val cost = if (s1.charAt(i - 1) == s2.charAt(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(s2.length)
  }

  /** Duke Levenshtein `[D comparators/Levenshtein.java]` (SURVEY.md §8.2):
    * length-ratio early exit (min/max <= 0.5 -> 0.0), then
    * sim = 1 - d / min(|s1|,|s2|) with d capped at min length (clamps to [0,1]).
    * Exact value everywhere — mirrors the DuckDB-oracle SQL bit for bit.
    */
  def levenshteinSim(s1: String, s2: String): Double = {
    val lo = math.min(s1.length, s2.length)
    val hi = math.max(s1.length, s2.length)
    if (hi == 0) return 1.0
    if (lo.toDouble / hi.toDouble <= 0.5) return 0.0
    val d = math.min(levenshtein(s1, s2), lo)
    1.0 - d.toDouble / lo.toDouble
  }

  /** Banded variant for the pipeline hot path: identical result whenever
    * sim > 0.5; returns 0.0 (instead of the exact sub-0.5 value) when the band
    * proves sim <= 0.5 — replicating Duke's cutoff optimization
    * `[D comparators/Levenshtein.java#compare]` early-exit.
    */
  def levenshteinSimCutoff(s1: String, s2: String): Double = {
    val lo = math.min(s1.length, s2.length)
    val hi = math.max(s1.length, s2.length)
    if (hi == 0) return 1.0
    if (lo.toDouble / hi.toDouble <= 0.5) return 0.0
    val band = lo / 2 // d > band  =>  1 - d/lo < 0.5
    if (hi - lo > band) return 0.0
    var prev = Array.tabulate(s2.length + 1)(identity)
    var cur = new Array[Int](s2.length + 1)
    var i = 1
    while (i <= s1.length) {
      cur(0) = i
      var rowMin = cur(0)
      var j = 1
      while (j <= s2.length) {
        val cost = if (s1.charAt(i - 1) == s2.charAt(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        if (cur(j) < rowMin) rowMin = cur(j)
        j += 1
      }
      if (rowMin > band) return 0.0
      val t = prev; prev = cur; cur = t
      i += 1
    }
    val d = math.min(prev(s2.length), lo)
    val sim = 1.0 - d.toDouble / lo.toDouble
    if (sim <= 0.5) 0.0 else sim
  }

  /** Duke WeightedLevenshtein `[D comparators/WeightedLevenshtein.java]`:
    * char-class-weighted edit costs — edits touching a digit cost `digitWeight`
    * (default 2.0, digits carry more identity signal), others 1.0; normalized by
    * the weighted length of the shorter string.
    */
  def weightedLevenshteinSim(s1: String, s2: String, digitWeight: Double): Double = {
    def w(c: Char): Double = if (c >= '0' && c <= '9') digitWeight else 1.0
    if (s1.isEmpty && s2.isEmpty) return 1.0
    var prev = new Array[Double](s2.length + 1)
    var cur = new Array[Double](s2.length + 1)
    var j = 0
    var acc = 0.0
    while (j <= s2.length) {
      prev(j) = acc
      if (j < s2.length) acc += w(s2.charAt(j))
      j += 1
    }
    var i = 1
    while (i <= s1.length) {
      cur(0) = prev(0) + w(s1.charAt(i - 1))
      j = 1
      while (j <= s2.length) {
        val c1 = s1.charAt(i - 1); val c2 = s2.charAt(j - 1)
        val sub = if (c1 == c2) 0.0 else math.max(w(c1), w(c2))
        cur(j) = math.min(math.min(cur(j - 1) + w(c2), prev(j) + w(c1)), prev(j - 1) + sub)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    val d = prev(s2.length)
    val norm = math.min(s1.map(w).sum, s2.map(w).sum)
    if (norm == 0.0) return if (d == 0.0) 1.0 else 0.0
    math.max(0.0, 1.0 - d / norm)
  }

  // ---------------------------------------------------------------- q-grams & token sets

  /** Distinct q-gram set (Duke QGramComparator uses gram *sets* — SURVEY.md §8.2). */
  def qgrams(s: String, q: Int): Set[String] =
    if (s.length < q) Set.empty else (0 to s.length - q).map(i => s.substring(i, i + q)).toSet

  final val FormulaOverlap = 0
  final val FormulaDice = 1
  final val FormulaJaccard = 2

  /** Duke QGramComparator `[D comparators/QGramComparator.java]`: q-gram sets,
    * formula OVERLAP |A∩B|/min, DICE 2|A∩B|/(|A|+|B|) (default), JACCARD |A∩B|/|A∪B|.
    * Both strings shorter than q: exact-match fallback.
    */
  def qgramSim(s1: String, s2: String, q: Int, formula: Int): Double = {
    if (s1 == s2) return 1.0
    val a = qgrams(s1, q)
    val b = qgrams(s2, q)
    if (a.isEmpty || b.isEmpty) return 0.0
    setSim(a, b, formula)
  }

  def qgramDice(s1: String, s2: String): Double = qgramSim(s1, s2, 2, FormulaDice)

  /** Double-parameter overloads: codegen emits literal double args uniformly
    * (`graft.expr.SimExpr#doGenCode`), so every parameterized comparator needs a
    * (String, String, Double*) static entry point — its `method` in the table.
    */
  def qgramSimD(s1: String, s2: String, q: Double, formula: Double): Double =
    qgramSim(s1, s2, q.toInt, formula.toInt)
  def weightedLevenshteinSimD(s1: String, s2: String, digitWeight: Double): Double =
    weightedLevenshteinSim(s1, s2, digitWeight)
  def geoSimD(p1: String, p2: String, maxMeters: Double): Double =
    geoSim(p1, p2, maxMeters)

  private def setSim(a: Set[String], b: Set[String], formula: Int): Double = {
    val inter = a.count(b.contains).toDouble
    formula match {
      case FormulaOverlap => inter / math.min(a.size, b.size)
      case FormulaDice    => 2.0 * inter / (a.size + b.size)
      case FormulaJaccard => inter / (a.size + b.size - inter)
      case _              => throw new IllegalArgumentException(s"formula $formula")
    }
  }

  private def tokens(s: String): Set[String] = s.split("\\s+").filter(_.nonEmpty).toSet

  /** Duke DiceCoefficientComparator `[D comparators/DiceCoefficientComparator.java]`:
    * whitespace-token sets, 2|A∩B|/(|A|+|B|).
    */
  def diceToken(s1: String, s2: String): Double = {
    if (s1 == s2) return 1.0
    val a = tokens(s1); val b = tokens(s2)
    if (a.isEmpty || b.isEmpty) return 0.0
    setSim(a, b, FormulaDice)
  }

  /** Duke JaccardIndexComparator `[D comparators/JaccardIndexComparator.java]`. */
  def jaccardToken(s1: String, s2: String): Double = {
    if (s1 == s2) return 1.0
    val a = tokens(s1); val b = tokens(s2)
    if (a.isEmpty || b.isEmpty) return 0.0
    setSim(a, b, FormulaJaccard)
  }

  // ---------------------------------------------------------------- numeric / geo / LCS

  /** Duke NumericComparator `[D comparators/NumericComparator.java]`: parse both as
    * doubles; equal -> 1.0; both strictly positive -> min/max ratio; sign mismatch or
    * zero -> 0.0; unparseable -> 0.5 (no evidence either way).
    */
  def numericSim(s1: String, s2: String): Double = {
    val d1 = parseDouble(s1)
    val d2 = parseDouble(s2)
    if (d1.isNaN || d2.isNaN) return 0.5
    if (d1 == d2) return 1.0
    if (d1 <= 0.0 || d2 <= 0.0) return 0.0
    math.min(d1, d2) / math.max(d1, d2)
  }

  private def parseDouble(s: String): Double =
    try java.lang.Double.parseDouble(s.trim)
    catch { case _: Exception => Double.NaN }

  /** Duke GeopositionComparator `[D comparators/GeopositionComparator.java]`:
    * "lat,lon" haversine distance d; sim = max(0, 1 - d/maxMeters).
    */
  def geoSim(p1: String, p2: String, maxMeters: Double): Double = {
    val a = p1.split(","); val b = p2.split(",")
    if (a.length != 2 || b.length != 2) return 0.5
    val lat1 = parseDouble(a(0)); val lon1 = parseDouble(a(1))
    val lat2 = parseDouble(b(0)); val lon2 = parseDouble(b(1))
    if (lat1.isNaN || lon1.isNaN || lat2.isNaN || lon2.isNaN) return 0.5
    val r = 6371008.8
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val h = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.pow(math.sin(dLon / 2), 2)
    val d = 2 * r * math.asin(math.min(1.0, math.sqrt(h)))
    math.max(0.0, 1.0 - d / maxMeters)
  }

  /** Duke LongestCommonSubstring `[D comparators/LongestCommonSubstring.java]`:
    * repeatedly remove the longest common substring (>= minLen 2), accumulate removed
    * length; Dice-style 2*common/(|s1|+|s2|).
    */
  def lcsSim(s1: String, s2: String): Double = {
    if (s1 == s2) return 1.0
    if (s1.isEmpty || s2.isEmpty) return 0.0
    var a = s1; var b = s2
    var common = 0
    var continueLoop = true
    while (continueLoop) {
      val (len, ia, ib) = longestCommon(a, b)
      if (len < 2) continueLoop = false
      else {
        common += len
        a = a.substring(0, ia) + a.substring(ia + len)
        b = b.substring(0, ib) + b.substring(ib + len)
      }
    }
    2.0 * common / (s1.length + s2.length)
  }

  private def longestCommon(a: String, b: String): (Int, Int, Int) = {
    var best = 0; var bi = 0; var bj = 0
    val dp = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      var prevDiag = 0
      var j = 1
      while (j <= b.length) {
        val tmp = dp(j)
        if (a.charAt(i - 1) == b.charAt(j - 1)) {
          dp(j) = prevDiag + 1
          if (dp(j) > best) { best = dp(j); bi = i - dp(j); bj = j - dp(j) }
        } else dp(j) = 0
        prevDiag = tmp
        j += 1
      }
      i += 1
    }
    (best, bi, bj)
  }

  // ---------------------------------------------------------------- phonetic & person

  /** 1.0 iff Soundex codes equal — Duke SoundexComparator. */
  def soundexEq(s1: String, s2: String): Double =
    if (Phonetics.soundex(s1) == Phonetics.soundex(s2)) 1.0 else 0.0

  /** 1.0 iff Metaphone codes equal — Duke MetaphoneComparator. */
  def metaphoneEq(s1: String, s2: String): Double =
    if (Phonetics.metaphone(s1) == Phonetics.metaphone(s2)) 1.0 else 0.0

  /** 1.0 iff Norphone codes equal — Duke NorphoneComparator. */
  def norphoneEq(s1: String, s2: String): Double =
    if (Phonetics.norphone(s1) == Phonetics.norphone(s2)) 1.0 else 0.0

  /** Duke PersonNameComparator `[D comparators/PersonNameComparator.java]`:
    * name-aware — token-swap tolerance, initial-vs-full-name tolerance, per-token
    * Jaro-Winkler fallback.
    */
  def personNameSim(s1: String, s2: String): Double = {
    if (s1 == s2) return 1.0
    val t1 = s1.split("\\s+").filter(_.nonEmpty)
    val t2 = s2.split("\\s+").filter(_.nonEmpty)
    if (t1.isEmpty || t2.isEmpty) return 0.0
    if (t1.toSet == t2.toSet) return 0.95 // same tokens, different order
    // canonical orientation => symmetric under argument swap
    val (a, b) =
      if (t1.length < t2.length) (t1, t2)
      else if (t2.length < t1.length) (t2, t1)
      else if (s1 <= s2) (t1, t2)
      else (t2, t1)
    val used = new Array[Boolean](b.length)
    var total = 0.0
    var i = 0
    while (i < a.length) {
      var best = 0.0; var bestJ = -1
      var j = 0
      while (j < b.length) {
        if (!used(j)) {
          val s = tokenNameSim(a(i), b(j))
          if (s > best) { best = s; bestJ = j }
        }
        j += 1
      }
      if (bestJ >= 0) used(bestJ) = true
      total += best
      i += 1
    }
    val base = total / b.length // unmatched extra tokens dilute
    math.min(0.95, base) // only exact equality reaches 1.0
  }

  private def tokenNameSim(a: String, b: String): Double = {
    if (a == b) 1.0
    else if (a.length == 1 && b.nonEmpty && b.charAt(0) == a.charAt(0)) 0.9 // initial
    else if (b.length == 1 && a.nonEmpty && a.charAt(0) == b.charAt(0)) 0.9
    else jaroWinkler(a, b)
  }

  // ---------------------------------------------------------------- comparator table

  /** One comparator: `name` is its config short name and `dukeClass` the Duke
    * class it mirrors (either "" when it has none); `method` is the static
    * entry point generated code calls with one double per default param;
    * `sqlName` is its `sim_*` SQL function ("" when unregistered); `fn` takes
    * the filled params.
    */
  final case class Comparator(
      name: String,
      dukeClass: String,
      method: String,
      sqlName: String,
      defaults: Seq[Double])(val fn: (String, String, Array[Double]) => Double) {

    /** The supplied params with missing trailing ones taken from `defaults`;
      * extra params are ignored.
      */
    def params(supplied: Seq[Double]): Seq[Double] =
      supplied.take(defaults.length) ++ defaults.drop(supplied.length)
  }

  /** The comparator table — the one place a comparator name, its Duke class
    * name (config parity, SURVEY.md §1.2), its codegen method, its SQL name
    * and its default params are declared. The config registry, `SimExpr`,
    * `functions.sim` and the SQL registration all read it.
    */
  val comparators: Seq[Comparator] = Seq(
    Comparator("exact", "ExactComparator", "exact", "exact", Nil)((a, b, _) => exact(a, b)),
    Comparator("", "", "jaro", "jaro", Nil)((a, b, _) => jaro(a, b)),
    Comparator("jaro-winkler", "JaroWinkler", "jaroWinkler", "jaro_winkler", Nil)(
      (a, b, _) => jaroWinkler(a, b)),
    Comparator("jaro-winkler-tokenized", "JaroWinklerTokenized", "jaroWinklerTokenized",
      "jaro_winkler_tokenized", Nil)((a, b, _) => jaroWinklerTokenized(a, b)),
    Comparator("levenshtein", "Levenshtein", "levenshteinSim", "levenshtein_sim", Nil)(
      (a, b, _) => levenshteinSim(a, b)),
    Comparator("levenshtein-cutoff", "", "levenshteinSimCutoff", "", Nil)(
      (a, b, _) => levenshteinSimCutoff(a, b)),
    Comparator("weighted-levenshtein", "WeightedLevenshtein", "weightedLevenshteinSimD", "",
      Seq(2.0))((a, b, p) => weightedLevenshteinSim(a, b, p(0))),
    Comparator("qgram", "QGramComparator", "qgramSimD", "", Seq(2.0, FormulaDice.toDouble))(
      (a, b, p) => qgramSim(a, b, p(0).toInt, p(1).toInt)),
    Comparator("", "", "qgramDice", "qgram_dice", Nil)((a, b, _) => qgramDice(a, b)),
    Comparator("dice", "DiceCoefficientComparator", "diceToken", "dice", Nil)(
      (a, b, _) => diceToken(a, b)),
    Comparator("jaccard", "JaccardIndexComparator", "jaccardToken", "jaccard", Nil)(
      (a, b, _) => jaccardToken(a, b)),
    Comparator("numeric", "NumericComparator", "numericSim", "numeric", Nil)(
      (a, b, _) => numericSim(a, b)),
    Comparator("geoposition", "GeopositionComparator", "geoSimD", "", Seq(1000.0))(
      (a, b, p) => geoSim(a, b, p(0))),
    Comparator("soundex", "SoundexComparator", "soundexEq", "", Nil)((a, b, _) => soundexEq(a, b)),
    Comparator("metaphone", "MetaphoneComparator", "metaphoneEq", "", Nil)(
      (a, b, _) => metaphoneEq(a, b)),
    Comparator("norphone", "NorphoneComparator", "norphoneEq", "", Nil)(
      (a, b, _) => norphoneEq(a, b)),
    Comparator("person-name", "PersonNameComparator", "personNameSim", "person_name", Nil)(
      (a, b, _) => personNameSim(a, b)),
    Comparator("longest-common-substring", "LongestCommonSubstring", "lcsSim", "lcs", Nil)(
      (a, b, _) => lcsSim(a, b)))

  final val DukePackage = "no.priv.garshol.duke.comparators."

  /** Config names: short names, full Duke class names and bare class names. */
  val registry: Map[String, Comparator] = comparators.flatMap { c =>
    val duke = if (c.dukeClass.isEmpty) Nil else Seq(c.dukeClass, DukePackage + c.dukeClass)
    (c.name +: duke).filter(_.nonEmpty).map(_ -> c)
  }.toMap

  private val byMethod: Map[String, Comparator] = comparators.map(c => c.method -> c).toMap

  /** Comparator by config name. An unknown name throws, naming `owner`
    * (e.g. the property) and the known short names.
    */
  def comparator(name: String, owner: String = ""): Comparator =
    registry.getOrElse(name, throw new IllegalArgumentException(
      s"${owner}unknown comparator '$name' (known: " +
        s"${comparators.map(_.name).filter(_.nonEmpty).mkString(", ")}; Duke class names also accepted)"))

  /** Comparator by codegen method name (`SimExpr.method`). */
  def forMethod(method: String): Comparator =
    byMethod.getOrElse(method, throw new IllegalArgumentException(s"unknown sim method $method"))
}
