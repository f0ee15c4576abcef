package graft.model

/** Data + configuration model (SURVEY.md §1). Pure Scala — no Spark imports — so
  * the scoring kernel, fixtures, and tests share it without a session.
  */

/** One span of an interleaved document — the authoritative input shape
  * (`BASELINE.json` input_hint; SURVEY.md §1.4): text spans carry `text`,
  * media spans carry `media_ref`; `offset` strictly increasing within a doc.
  */
case class Span(kind: String, text: String, media_ref: String, offset: Int)

/** A document row of the input table (doc_id:string, spans:array<struct<...>>). */
case class Doc(doc_id: String, spans: Seq[Span])

/** Property matching spec — mirrors Duke `Property` + the plugin's query-JSON
  * field entry (`[D Property.java]`, `[U README.md#usage]`, SURVEY.md §1.2):
  * ordered `cleaners` chain (short names, Duke class names, or parameterized
  * specs like `regexp(pat,group)` — see Cleaners.resolve), `comparator`
  * registry key, `low`/`high` probabilities, optional numeric comparator
  * params (q, formula, maxMeters...).
  *
  * Duke Property metadata flags (`[D Property.java]`):
  *  - `idProperty`: identifies the record — NEVER compared as evidence;
  *  - `ignoreProperty`: present but excluded from comparison;
  *  - `lookup`: lookup behavior driving candidate retrieval — "default",
  *    "required", "true" (include in blocking), "false" (never block on it).
  *    `Blocking.fromConfig` derives exact-value keyers from required/true.
  */
case class PropertySpec(
    name: String,
    cleaners: Seq[String],
    comparator: String,
    low: Double,
    high: Double,
    params: Seq[Double] = Nil,
    idProperty: Boolean = false,
    ignoreProperty: Boolean = false,
    lookup: String = "default") {
  /** Compared as match evidence? (id/ignore properties are skipped — Duke
    * `Processor.compare` consults only non-id, non-ignored props.)
    */
  def isEvidence: Boolean = !idProperty && !ignoreProperty
}

/** Full match configuration — mirrors Duke `Configuration` (`[D Configuration.java]`):
  * accept threshold + maybe threshold + ordered property list (fixed order for a
  * deterministic Bayes fold — SURVEY.md §7.4).
  */
case class MatchConfig(
    threshold: Double,
    maybeThreshold: Double,
    properties: Seq[PropertySpec])

object MatchConfig {

  /** The fixture configuration from FIXTURES.md §3 — name (Jaro-Winkler),
    * address (q-gram Dice), phone (exact on digits), media (exact on refs).
    */
  val fixture: MatchConfig = MatchConfig(
    threshold = 0.85,
    maybeThreshold = 0.7,
    properties = Seq(
      PropertySpec("name", Seq("trim", "lowercase-normalize"), "jaro-winkler", 0.1, 0.95),
      // q=3 grams: same-city different-street addresses stay below sim 0.5,
      // abbreviation-noise duplicates stay above (calibrated on the fixture)
      PropertySpec("address", Seq("trim", "lowercase-normalize"), "qgram", 0.2, 0.9,
        params = Seq(3.0, 1.0)),
      // phones and media refs are identifiers: a present-on-both-sides mismatch
      // is strong negative evidence (low far below 0.5)
      PropertySpec("phone", Seq("digits-only"), "exact", 0.05, 0.98),
      PropertySpec("media", Nil, "exact", 0.15, 0.9)))

  /** Parse the plugin-style JSON config (SURVEY.md §1.2) without external JSON
    * deps: minimal recursive-descent over the fixture subset of JSON.
    */
  def fromJson(json: String): MatchConfig = JsonLite.parseConfig(json)
}

/** Minimal JSON reader for MatchConfig (offline sandbox: no JSON library on the
  * compile classpath beyond Spark's internals — keep the config path dependency-free).
  */
private[graft] object JsonLite {
  def parseConfig(json: String): MatchConfig = {
    val v = parse(json)._1.asInstanceOf[Map[String, Any]]
    def d(x: Any): Double = x.asInstanceOf[Double]
    val props = v("properties").asInstanceOf[List[Any]].map { p0 =>
      val p = p0.asInstanceOf[Map[String, Any]]
      val isId = p.getOrElse("idProperty", false).asInstanceOf[Boolean]
      val isIgn = p.getOrElse("ignoreProperty", false).asInstanceOf[Boolean]
      PropertySpec(
        name = p("name").asInstanceOf[String],
        cleaners = p.getOrElse("cleaners", List.empty[Any]).asInstanceOf[List[Any]]
          .map(cleanerSpec),
        // id/ignore properties are never compared; Duke configs omit their
        // comparator/probabilities, so default them
        comparator = p.getOrElse("comparator",
          if (isId || isIgn) "exact" else p("comparator")).asInstanceOf[String],
        low = d(p.getOrElse("low", 0.3)),
        high = d(p.getOrElse("high", 0.7)),
        params = p.getOrElse("params", List.empty[Any]).asInstanceOf[List[Any]].map(d),
        idProperty = isId,
        ignoreProperty = isIgn,
        lookup = p.getOrElse("lookup", "default").asInstanceOf[String].toLowerCase)
    }
    MatchConfig(d(v("threshold")), d(v("maybeThreshold")), props)
  }

  /** A cleaner entry is a plain string spec, or an object for parameterized
    * cleaners (plugin-JSON style), converted to the compact spec form:
    *   {"name": "regexp", "pattern": "...", "group": 2}  -> regexp(...,2)
    *   {"name": "mapping", "map": {"k": "v", ...}}       -> mapping(k=v|...)
    *   {"name": "mapping-file", "file": "/path"}         -> mapping-file(/path)
    * Duke class names accepted in "name". The group is always emitted so a
    * pattern ending in ",digits" stays unambiguous.
    */
  private def cleanerSpec(c0: Any): String = c0 match {
    case s: String => s
    case m0 =>
      val m = m0.asInstanceOf[Map[String, Any]]
      val rawName = m("name").asInstanceOf[String]
      graft.core.Cleaners.normalizeSpec(rawName) match {
        case "regexp" =>
          val grp = m.get("group").map(_.asInstanceOf[Double].toInt).getOrElse(1)
          s"regexp(${m("pattern").asInstanceOf[String]},$grp)"
        case "mapping" =>
          val dict = m("map").asInstanceOf[Map[String, Any]]
          val body = dict.toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k=${v.asInstanceOf[String]}" }.mkString("|")
          s"mapping($body)"
        case "mapping-file" =>
          s"mapping-file(${m("file").asInstanceOf[String]})"
        // parameterless cleaner written in object form: keep the name verbatim
        // (short or Duke class name — Cleaners.resolve handles both)
        case _ => rawName
      }
  }

  /** Returns (value, rest-index). Supports objects, arrays, strings, numbers,
    * booleans, null.
    */
  private[graft] def parse(s: String, from: Int = 0): (Any, Int) = {
    var i = skipWs(s, from)
    s.charAt(i) match {
      case '{' =>
        var m = Map.empty[String, Any]
        i = skipWs(s, i + 1)
        if (s.charAt(i) == '}') return (m, i + 1)
        while (true) {
          val (k, i2) = parseString(s, skipWs(s, i))
          i = skipWs(s, i2)
          require(s.charAt(i) == ':', s"expected ':' at $i")
          val (v, i3) = parse(s, i + 1)
          m += (k -> v)
          i = skipWs(s, i3)
          if (s.charAt(i) == ',') i += 1
          else { require(s.charAt(i) == '}'); return (m, i + 1) }
        }
        throw new IllegalStateException
      case '[' =>
        var l = List.empty[Any]
        i = skipWs(s, i + 1)
        if (s.charAt(i) == ']') return (l.reverse, i + 1)
        while (true) {
          val (v, i2) = parse(s, i)
          l ::= v
          i = skipWs(s, i2)
          if (s.charAt(i) == ',') i += 1
          else { require(s.charAt(i) == ']'); return (l.reverse, i + 1) }
        }
        throw new IllegalStateException
      case '"' => parseString(s, i)
      case 't' => (true, i + 4)
      case 'f' => (false, i + 5)
      case 'n' => (null, i + 4)
      case _ =>
        var j = i
        while (j < s.length && "+-0123456789.eE".indexOf(s.charAt(j)) >= 0) j += 1
        (s.substring(i, j).toDouble, j)
    }
  }

  private def parseString(s: String, from: Int): (String, Int) = {
    require(s.charAt(from) == '"')
    val sb = new StringBuilder
    var i = from + 1
    while (s.charAt(i) != '"') {
      if (s.charAt(i) == '\\') { sb.append(s.charAt(i + 1)); i += 2 }
      else { sb.append(s.charAt(i)); i += 1 }
    }
    (sb.toString, i + 1)
  }

  private def skipWs(s: String, from: Int): Int = {
    var i = from
    while (i < s.length && s.charAt(i).isWhitespace) i += 1
    i
  }
}
