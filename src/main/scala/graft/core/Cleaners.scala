package graft.core

import java.text.Normalizer

/** Pure-JVM value cleaners with the semantics of Duke's `no.priv.garshol.duke.cleaners.*`
  * (the normalization layer of the reference plugin's scoring path — see SURVEY.md §2.3;
  * reference anchors `[D cleaners package]`, consumed by
  * `[U EntityResolutionScript.java#ctor]`).
  *
  * Pure static functions so that (a) ScalaTest golden tests need no SparkSession and
  * (b) generated code (janino) can invoke them via static forwarders, keeping the
  * Catalyst expressions inside whole-stage codegen.
  */
object Cleaners {

  /** Duke TrimCleaner `[D cleaners/TrimCleaner.java]`. */
  def trim(s: String): String = if (s == null) null else s.trim

  /** Duke LowerCaseNormalizeCleaner `[D cleaners/LowerCaseNormalizeCleaner.java]`:
    * lower-case, fold accents to ASCII base letters, strip punctuation to spaces,
    * collapse internal whitespace, trim. Exact char classes pinned by golden tests
    * (SURVEY.md §2.3 C2).
    */
  def lowerCaseNormalize(s: String): String = {
    if (s == null) return null
    val folded = Normalizer
      .normalize(s, Normalizer.Form.NFD)
      .replaceAll("\\p{M}+", "")
    val sb = new java.lang.StringBuilder(folded.length)
    var prevSpace = true // leading spaces suppressed
    var i = 0
    while (i < folded.length) {
      val c = Character.toLowerCase(folded.charAt(i))
      if (Character.isLetterOrDigit(c)) {
        sb.append(c)
        prevSpace = false
      } else if (!prevSpace) { // any punct/space run -> single space
        sb.append(' ')
        prevSpace = true
      }
      i += 1
    }
    // drop trailing space
    var end = sb.length
    while (end > 0 && sb.charAt(end - 1) == ' ') end -= 1
    sb.substring(0, end)
  }

  /** Duke DigitsOnlyCleaner `[D cleaners/DigitsOnlyCleaner.java]`. */
  def digitsOnly(s: String): String = {
    if (s == null) return null
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= '0' && c <= '9') sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** Duke PhoneNumberCleaner `[D cleaners/PhoneNumberCleaner.java]`: normalize to
    * digit string; international "00" prefix and "+" country markers removed.
    */
  def phoneNumber(s: String): String = {
    if (s == null) return null
    var d = digitsOnly(s)
    if (d.startsWith("00")) d = d.substring(2)
    d
  }

  /** Duke FamilyCommaGivenCleaner `[D cleaners/FamilyCommaGivenCleaner.java]`:
    * "Doe, John" -> "john doe"; falls back to plain normalize when no comma.
    */
  def familyCommaGiven(s: String): String = {
    if (s == null) return null
    val ix = s.indexOf(',')
    if (ix < 0) lowerCaseNormalize(s)
    else lowerCaseNormalize(s.substring(ix + 1) + " " + s.substring(0, ix))
  }

  /** Duke RegexpCleaner `[D cleaners/RegexpCleaner.java]`: keep first group of the
    * first match; no match -> null (no evidence, property skipped — P3).
    */
  def regexpExtract(s: String, pattern: String, group: Int): String = {
    if (s == null) return null
    val m = java.util.regex.Pattern.compile(pattern).matcher(s)
    if (m.find()) m.group(group) else null
  }

  /** Duke MappingFileCleaner `[D cleaners/MappingFileCleaner.java]`: dictionary
    * replacement of whole values (applied after normalization by convention).
    */
  def mapping(s: String, dict: Map[String, String]): String = {
    if (s == null) return null
    dict.getOrElse(s, s)
  }

  /** Duke NorwegianCompanyNameCleaner-style suffix stripping on top of normalize
    * (`[D cleaners/NorwegianCompanyNameCleaner.java]`): legal-form tokens removed.
    */
  private val companySuffixes =
    Set("as", "asa", "ab", "ba", "ans", "da", "inc", "llc", "ltd", "gmbh", "sa", "co", "corp")
  def companyName(s: String): String = {
    if (s == null) return null
    val n = lowerCaseNormalize(s)
    n.split(' ').filterNot(companySuffixes.contains).mkString(" ")
  }

  /** Duke NorwegianAddressCleaner-style normalization
    * (`[D cleaners/NorwegianAddressCleaner.java]`): normalize + expand the
    * common Norwegian street/postal abbreviations to canonical tokens, so
    * "Storgt. 12" and "Storgata 12" compare equal. Reconstructed from the
    * cleaner's published purpose; exact token list pinned by golden tests.
    */
  private val addressAbbrev = Map(
    "gt" -> "gate", "gata" -> "gate", "gaten" -> "gate",
    "vn" -> "veien", "v" -> "veien", "vei" -> "veien", "vegen" -> "veien",
    "pb" -> "postboks", "pl" -> "plass", "plassen" -> "plass")
  // longest-suffix-first, then lexicographic: deterministic expansion order
  private val addressSuffixes = addressAbbrev.toSeq
    .filter(_._1.length > 1).sortBy { case (ab, _) => (-ab.length, ab) }
  def norwegianAddress(s: String): String = {
    if (s == null) return null
    val n = lowerCaseNormalize(s)
    // suffix-fused street names: "storgt 12" / "storgata 12" -> "storgate 12"
    val defused = n.split(' ').map { t =>
      addressAbbrev.get(t) match {
        case Some(full) => full
        case None =>
          addressSuffixes.collectFirst {
            case (ab, full) if t.length > ab.length && t.endsWith(ab) =>
              t.dropRight(ab.length) + full
          }.getOrElse(t)
      }
    }
    defused.mkString(" ")
  }

  /** Duke PersonNameCleaner `[D cleaners/PersonNameCleaner.java]`: normalize + known
    * nickname mapping (subset; extensible via `mapping`). Public so the DuckDB
    * oracle (`q_cleaner_person`) generates its CASE chain from the SAME
    * dictionary — one source of truth for both engines.
    */
  val nicknames = Map(
    "bill" -> "william", "will" -> "william", "bob" -> "robert", "rob" -> "robert",
    "dick" -> "richard", "rick" -> "richard", "jim" -> "james", "jimmy" -> "james",
    "mike" -> "michael", "tom" -> "thomas", "tommy" -> "thomas", "tony" -> "anthony",
    "liz" -> "elizabeth", "beth" -> "elizabeth", "peggy" -> "margaret",
    "ted" -> "edward", "ed" -> "edward", "ned" -> "edward", "kate" -> "katherine",
    "katie" -> "katherine", "jack" -> "john", "johnny" -> "john", "joe" -> "joseph",
    "dave" -> "david", "dan" -> "daniel", "danny" -> "daniel", "steve" -> "stephen",
    "chris" -> "christopher", "chuck" -> "charles", "charlie" -> "charles",
    "andy" -> "andrew", "drew" -> "andrew", "sam" -> "samuel", "alex" -> "alexander")
  def personName(s: String): String = {
    if (s == null) return null
    lowerCaseNormalize(s).split(' ').map(t => nicknames.getOrElse(t, t)).mkString(" ")
  }

  /** The cleaner table: short name, Duke class name (package
    * `no.priv.garshol.duke.cleaners`, config parity with the reference's query
    * JSON — SURVEY.md §1.2), function. Parameterless cleaners only; the
    * `regexp` / `mapping` / `mapping-file` forms are parameterized and built by
    * `resolve`. The config path, the Column API and the SQL registration all
    * read this table.
    */
  private val table: Seq[(String, String, String => String)] = Seq(
    ("trim", "TrimCleaner", trim),
    ("lowercase-normalize", "LowerCaseNormalizeCleaner", lowerCaseNormalize),
    ("digits-only", "DigitsOnlyCleaner", digitsOnly),
    ("phone-number", "PhoneNumberCleaner", phoneNumber),
    ("family-comma-given", "FamilyCommaGivenCleaner", familyCommaGiven),
    ("company-name", "NorwegianCompanyNameCleaner", companyName),
    ("address-norwegian", "NorwegianAddressCleaner", norwegianAddress),
    ("person-name", "PersonNameCleaner", personName))

  /** Duke class names of the parameterized forms -> their short spec prefix. */
  private val parameterized = Seq("RegexpCleaner" -> "regexp", "MappingFileCleaner" -> "mapping-file")

  private final val DukePackage = "no.priv.garshol.duke.cleaners."

  /** Parameterless cleaners by short name. */
  val registry: Map[String, String => String] = table.map { case (n, _, f) => n -> f }.toMap

  private val shortByClass: Map[String, String] = table.map { case (n, c, _) => c -> n }.toMap

  /** Normalize a cleaner spec to its short form: Duke class names (with or
    * without the package) -> short names, including the parameterized forms
    * (`RegexpCleaner(...)` -> `regexp(...)` etc.). Anything else is returned
    * unchanged.
    */
  def normalizeSpec(spec: String): String = {
    val s = spec.stripPrefix(DukePackage)
    shortByClass.get(s).orElse(parameterized.collectFirst {
      case (cls, short) if s == cls || s.startsWith(cls + "(") => short + s.stripPrefix(cls)
    }).getOrElse(s)
  }

  /** A spec's short form, checked: a known cleaner name or a parameterized
    * form, else `IllegalArgumentException`.
    */
  def canonical(spec: String): String = {
    val s = normalizeSpec(spec)
    if (registry.contains(s) || Seq("regexp(", "mapping(", "mapping-file(").exists(s.startsWith)) s
    else throw new IllegalArgumentException(s"unknown cleaner $s")
  }

  /** Resolve a cleaner spec to a function. Beyond the parameterless registry,
    * compact parameterized forms are accepted (C8/C9 config reachability —
    * these are what `MatchConfig.fromJson` emits for object-style entries):
    *
    *   - `regexp(<pattern>)` — keep group 1 of the first match, null if none
    *   - `regexp(<pattern>,<group>)` — explicit group (trailing `,<int>`; a
    *     pattern ending in `,digits` must spell the group explicitly)
    *   - `mapping(k1=v1|k2=v2)` — inline whole-value dictionary
    *   - `mapping-file(<path>)` — Duke MappingFileCleaner: `from,to` (or
    *     `from=to`) lines read once at resolve time; the file must be
    *     reachable from executors (distribute via `--files`, as with Duke)
    *
    * Duke class-name forms (`no.priv.garshol.duke.cleaners.RegexpCleaner(...)`)
    * normalize to the above. Regex patterns are compiled once per spec.
    */
  def resolve(spec0: String): String => String = {
    val spec = normalizeSpec(spec0)
    val TrailingGroup = "(?s)^(.*),(\\d+)$".r
    if (spec.startsWith("regexp(") && spec.endsWith(")")) {
      val body = spec.substring("regexp(".length, spec.length - 1)
      val (pat, grp) = body match {
        case TrailingGroup(p, g) => (p, g.toInt)
        case _                   => (body, 1)
      }
      val compiled = java.util.regex.Pattern.compile(pat)
      (s: String) =>
        if (s == null) null
        else { val m = compiled.matcher(s); if (m.find()) m.group(grp) else null }
    } else if (spec.startsWith("mapping(") && spec.endsWith(")")) {
      val dict = spec.substring("mapping(".length, spec.length - 1)
        .split('|').iterator.filter(_.nonEmpty).map { kv =>
          val i = kv.indexOf('=')
          require(i > 0, s"mapping entry '$kv' must be k=v")
          kv.substring(0, i) -> kv.substring(i + 1)
        }.toMap
      (s: String) => mapping(s, dict)
    } else if (spec.startsWith("mapping-file(") && spec.endsWith(")")) {
      val path = spec.substring("mapping-file(".length, spec.length - 1)
      val dict = {
        val src = scala.io.Source.fromFile(path, "UTF-8")
        try src.getLines().filter(_.nonEmpty).map { line =>
          val i = { val c = line.indexOf(','); if (c >= 0) c else line.indexOf('=') }
          require(i > 0, s"mapping line '$line' must be from,to")
          line.substring(0, i) -> line.substring(i + 1)
        }.toMap
        finally src.close()
      }
      (s: String) => mapping(s, dict)
    } else registry.getOrElse(spec,
      throw new IllegalArgumentException(s"unknown cleaner $spec0"))
  }

  // resolved-spec cache: parameterized cleaners (compiled regex, loaded dict)
  // are constructed once per spec per JVM, not once per row
  private val resolvedCache =
    new java.util.concurrent.ConcurrentHashMap[String, String => String]()

  /** Single-step clean by registry name or parameterized spec (static entry
    * point for codegen).
    */
  def clean(name: String, s: String): String = {
    var f = resolvedCache.get(name)
    if (f == null) { f = resolve(name); resolvedCache.put(name, f) }
    f(s)
  }

  /** Pre-resolved cleaner chain: specs resolved once, applied per value (the
    * mapPartitions scorer path).
    */
  def compileChain(names: Seq[String]): String => String = {
    val fns = names.map(resolve)
    (s: String) => fns.foldLeft(s)((acc, f) => if (acc == null) null else f(acc))
  }

  /** Ordered cleaner chain, as the reference applies to both sides
    * `[U EntityResolutionScript.java#ctor]`.
    */
  def chain(names: Seq[String], s: String): String =
    names.foldLeft(s)((acc, n) => if (acc == null) null else clean(n, acc))
}
