package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over the `documents` / `embeddings` tables
  * (builder-prompt mandate: dedup, similarity search, text analysis, multimodal
  * plumbing — first-class alongside SURVEY.md §2).
  *
  * Every op is declarative (higher-order functions, codegen'd) and arithmetic-
  * deterministic so a DuckDB oracle can reproduce it bit-for-bit: rolling-hash
  * fingerprints instead of engine-specific hash(), per-element double casts
  * before FP math, micro-rounded outputs.
  */
object TrainingOps {

  /** Design-point knobs for the dedup/ANN family (BASELINE.md documents the
    * 10¹²-doc math behind the defaults). One config object instead of
    * scattered literals: retuning recall/selectivity for a corpus is a value
    * change here, not a code edit — queries AND their generated DuckDB
    * oracles read the same instance, so both sides move together.
    */
  case class Config(
      shingleK: Int = 3,               // word-shingle width (MinHash universe)
      minhashBands: Int = 4,           // LSH bands, 2 signatures each
      jaccardMinMicro: Long = 800000L, // near-dup verify threshold (micro)
      simhashBands: Int = 4,           // 16-bit sub-keys over the 64-bit code
      hammingMax: Int = 3,             // ≤ simhashBands-1 (pigeonhole guarantee)
      annBands: Int = 2,               // sign-LSH bands (multi-probe recall)
      annPlanesPerBand: Int = 4,       // hyperplanes per band (2^p buckets)
      ivfCentroids: Int = 16,          // IVF coarse-quantizer size K
      ivfProbes: Int = 2,              // lists probed per query
      nearDupPlanes: Int = 4,          // sign-LSH planes for embed near-dup
      cosineMinMicro: Long = 300000L,  // embed near-dup verify threshold
      // skew discipline for every banded candidate join (BandedPairs):
      // salt buckets over saltThreshold, drop over maxBlockSize with mass
      pairCfg: graft.pipeline.ErPipeline.PairConfig =
        graft.pipeline.ErPipeline.PairConfig())

  val config: Config = Config()

  /** Rolling-hash fingerprint of a string expression (document fingerprinting /
    * shingle hashing): fold (acc*31 + ascii) % 1000000007 — expressible in both
    * engines, overflow-free in 64 bits.
    */
  def fpSqlSpark(e: String): String =
    s"CASE WHEN length($e) = 0 THEN CAST(0 AS BIGINT) ELSE " +
      s"aggregate(transform(sequence(1, length($e)), i -> ascii(substring($e, i, 1)))," +
      s" CAST(0 AS BIGINT), (acc, c) -> (acc * 31 + c) % 1000000007) END"

  def fpSqlDuck(e: String): String =
    s"CASE WHEN length($e) = 0 THEN CAST(0 AS BIGINT) ELSE " +
      s"list_reduce(list_concat([CAST(0 AS BIGINT)]," +
      s" list_transform(generate_series(1, length($e)), i -> CAST(ascii(substr($e, i, 1)) AS BIGINT)))," +
      s" (a, b) -> (a * 31 + b) % 1000000007) END"

  val toksSpark = "filter(split(text, ' '), x -> x <> '')"
  val toksDuck = "list_filter(string_split(text, ' '), x -> x <> '')"

  /** Word k-shingles over the token array (MinHash input; DuckDB oracle side —
    * the Spark side runs the TokenShingleFpsExpr kernel, see `shingleFps`).
    * k comes from `config.shingleK` so oracle and kernel retune together.
    */
  val shinglesDuck: String = {
    val k = config.shingleK
    val cat = (0 until k).map(j => s"($toksDuck)[i+$j]").mkString(" || ' ' || ")
    s"CASE WHEN len($toksDuck) < $k THEN [text] ELSE " +
      s"list_transform(generate_series(1, len($toksDuck) - ${k - 1}), i -> $cat) END"
  }

  /** Distinct shingle fingerprints (the MinHash universe of one doc; oracle side). */
  val shingleFpsDuck: String =
    s"list_distinct(list_transform($shinglesDuck, s0 -> ${fpSqlDuck("s0")}))"

  /** Staged shingles over a pre-computed `toks` column: inlining the
    * token-split inside every element_at makes shingle construction
    * O(tokens²) per document — at scale the tokens/shingles/fps pipeline must
    * be staged through columns so each step evaluates once per row.
    */
  val shinglesFromToksSpark: String = {
    val k = config.shingleK
    val parts = (0 until k).map(j => s"element_at(toks, i + $j)").mkString(", ")
    s"CASE WHEN size(toks) < $k THEN array(text) ELSE " +
      s"transform(sequence(1, size(toks) - ${k - 1}), i -> concat_ws(' ', $parts)) END"
  }

  /** documents -> (doc_id, fps), now via the codegen kernel expression
    * (`graft.expr.TokenShingleFpsExpr`): one tight char loop per doc instead
    * of interpreted HOF lambdas materializing a substring per character —
    * bit-identical output (TextKernelsSpec parity; oracles unchanged).
    */
  def shingleFps(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.expr.functions.shingle_fps(col("text"), config.shingleK).as("fps"))

  /** The declarative HOF twin of `shingleFps` — kept as the parity reference
    * (TextKernelsSpec asserts equality) and as documentation of the staged
    * tokens→shingles→fps plan shape.
    */
  def shingleFpsDeclarative(docs: DataFrame): DataFrame =
    docs.selectExpr("doc_id", "text", s"$toksSpark AS toks")
      .selectExpr("doc_id", s"$shinglesFromToksSpark AS shingles")
      .selectExpr("doc_id",
        s"array_distinct(transform(shingles, s0 -> ${fpSqlSpark("s0")})) AS fps")

  def nBands: Int = config.minhashBands // 2 minhash signatures per band

  /** MinHash signature `i` over a distinct-shingle-fp array column: the
    * minimum of an independent linear map mod P. The `q_minhash_signatures`
    * columns and both halves of every band are this one expression.
    */
  def minhashSpark(i: Int, fpsCol: String = "fps"): String =
    s"array_min(transform($fpsCol, f -> (${2 * i + 1} * f + ${7919 * i + 13}) % 1000000007))"

  /** Band value for LSH band j: signatures 2j and 2j+1 packed into one
    * 64-bit key (each < 10⁹, so mh1·10⁹⁺⁷ + mh2 is collision-free). The
    * DuckDB oracle twin is `minhashBandDuck`; Spark callers go through
    * [[minhashBandCols]].
    */
  def minhashBandSpark(j: Int, fpsCol: String = "fps"): String =
    s"(${minhashSpark(2 * j, fpsCol)} * 1000000007 + ${minhashSpark(2 * j + 1, fpsCol)})"

  def minhashBandDuck(j: Int, fpsCol: String = "fps"): String =
    s"(list_min(list_transform($fpsCol, f -> (${4 * j + 1} * f + ${7919 * (2 * j) + 13}) % 1000000007)) * 1000000007" +
      s" + list_min(list_transform($fpsCol, f -> (${4 * j + 3} * f + ${7919 * (2 * j + 1) + 13}) % 1000000007)))"

  /** The band column names of an n-band scheme: `band0 .. band{n-1}`. */
  def bandCols(n: Int): Seq[String] = (0 until n).map(j => s"band$j")

  /** The band columns as one array, in band order (the `bands` input of
    * `BandedPairs`, the `<band>:<value>` keys of the near-dup stream).
    */
  def bandArray(n: Int): String = s"array(${bandCols(n).mkString(",")})"

  /** The `bandCols(n)` MinHash band values over `fps`. With `onlyIf`, rows
    * failing it get NULL bands and the minhashes are not computed for them
    * (DedupJob bands exact-group representatives only).
    */
  def minhashBandCols(n: Int, onlyIf: Option[Column] = None): Seq[Column] =
    bandCols(n).zipWithIndex.map { case (b, j) =>
      val v = expr(minhashBandSpark(j))
      onlyIf.fold(v)(when(_, v)).as(b)
    }

  /** documents -> (doc_id, fps, band0..): one fingerprint pass, n MinHash
    * bands over it (the near-dup stream's extract, `q_lsh_near_dup_pairs`).
    */
  def bandedFps(docs: DataFrame, n: Int): DataFrame =
    shingleFps(docs).select(col("doc_id") +: col("fps") +: minhashBandCols(n): _*)

  /** Shingle-set Jaccard in micro units between the fp arrays in columns
    * `fa` and `fb`. The intersection size is staged as its own `inter`
    * column, so `array_intersect` runs once per pair.
    */
  def withJaccardMicro(pairs: DataFrame, fa: String, fb: String): DataFrame =
    pairs.withColumn("inter", size(array_intersect(col(fa), col(fb))).cast("long"))
      .withColumn("jacc_micro", expr(
        s"CAST(FLOOR(CAST(inter AS DOUBLE) / (size($fa) + size($fb) - inter) * 1e6 + 0.5) AS BIGINT)"))

  /** Exact near-dup verify: the `(doc_id, fps)` arrays of `a` and `b`
    * re-attach to the candidate `(a_id, b_id)` pairs only (never shuffled
    * during candidate generation), and pairs at Jaccard >= `minMicro`
    * survive as `(a_id, b_id, jacc_micro)`.
    */
  def jaccardVerify(cand: DataFrame, a: DataFrame, b: DataFrame, minMicro: Long): DataFrame =
    withJaccardMicro(cand
      .join(a.select(col("doc_id").as("a_id"), col("fps").as("fa")), "a_id")
      .join(b.select(col("doc_id").as("b_id"), col("fps").as("fb")), "b_id"), "fa", "fb")
      .where(col("jacc_micro") >= minMicro)
      .select(col("a_id"), col("b_id"), col("jacc_micro"))

  // -------- embeddings --------
  /** Cosine with per-vector norms precomputed BEFORE the pair join (each
    * vector's norm computed once, not once per pair — 3 dot products per pair
    * becomes 1). Bit-identical: same expressions over the same values, and
    * `dot/(sqrt(aa)*sqrt(bb))` evaluates exactly as `dot/(na*nb)`.
    */
  def dotSpark(x: String, y: String): String =
    s"aggregate(zip_with($x, $y, (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE))," +
      s" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
  def normSpark(v: String): String = s"sqrt(${dotSpark(v, v)})"
  def cosStagedSpark(a: String, b: String, na: String, nb: String): String =
    s"${dotSpark(a, b)} / ($na * $nb)"

  def cosDuck(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(generate_series(1, len($x))," +
        s" i -> CAST(($x)[i] AS DOUBLE) * CAST(($y)[i] AS DOUBLE)))"
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
  }

  // -------- SimHash (64-bit) --------
  /** Per-bit ±1 token hash for SimHash bit `b`: parity of an independent
    * linear map of the token fingerprint mod P. 64 independent bit-hashes
    * instead of raw fp bits (the fp carries only ~30 bits of entropy).
    * Bits 0-31 -> `simhash_lo`, 32-63 -> `simhash_hi` (two non-negative
    * BIGINTs; avoids engine-specific 1<<63 sign/overflow semantics).
    * At the 10¹²-doc design point 64 bits give ~2⁶⁴ distinct codes — near-dup
    * banding over 4×16-bit sub-keys stays selective, where the old 16-bit
    * variant capped at 65 536 buckets.
    */
  def simhashBitSpark(b: Int): String =
    s"(CASE WHEN aggregate(tokfps, CAST(0 AS BIGINT)," +
      s" (acc, f) -> acc + 2 * (((${2 * b + 1} * f + ${7919 * b + 13}) % 1000000007) % 2) - 1) > 0" +
      s" THEN ${1L << (b % 32)} ELSE 0 END)"
  def simhashBitDuck(b: Int): String =
    s"(CASE WHEN list_sum(list_transform(tokfps," +
      s" f -> 2 * (((${2 * b + 1} * f + ${7919 * b + 13}) % 1000000007) % 2) - 1)) > 0" +
      s" THEN ${1L << (b % 32)} ELSE 0 END)"

  /** Deterministic integer hyperplanes for sign-LSH: h_j[i] = ((i*31 + j*17) % 7) - 3.
    * `planes` is configurable (buckets = 2^planes); for banded multi-probe use
    * `lshBandSpark` with distinct plane indices per band.
    */
  def lshBucketSpark(v: String, planes: Int): String = lshBandSpark(v, 0, planes)
  def lshBucketDuck(v: String, planes: Int): String = lshBandDuck(v, 0, planes)

  /** Banded multi-probe sign-LSH: band `b` uses its own `planesPerBand`
    * hyperplanes (global plane index b·planesPerBand + j), so a vector lands in
    * one bucket PER band and two vectors are candidates when ANY band agrees —
    * recall grows with bands, candidate set stays bucket-bounded (the MinHash
    * banding trick applied to sign-LSH).
    */
  def lshBandSpark(v: String, band: Int, planesPerBand: Int): String =
    (0 until planesPerBand).map { jj =>
      val j = band * planesPerBand + jj
      val dot = s"aggregate(zip_with($v, transform(sequence(1, size($v)), i -> CAST(((i * 31 + ${j * 17}) % 7) - 3 AS DOUBLE))," +
        s" (p, h) -> CAST(p AS DOUBLE) * h), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
      s"(CASE WHEN $dot > 0 THEN ${1 << jj} ELSE 0 END)"
    }.mkString(" + ")
  def lshBandDuck(v: String, band: Int, planesPerBand: Int): String =
    (0 until planesPerBand).map { jj =>
      val j = band * planesPerBand + jj
      val dot = s"list_sum(list_transform(generate_series(1, len($v))," +
        s" i -> CAST(($v)[i] AS DOUBLE) * (((i * 31 + ${j * 17}) % 7) - 3)))"
      s"(CASE WHEN $dot > 0 THEN ${1 << jj} ELSE 0 END)"
    }.mkString(" + ")

  def annBands: Int = config.annBands
  def annPlanesPerBand: Int = config.annPlanesPerBand

  // -------- text analysis --------
  val langWords = Seq(
    "en" -> Seq("the", "and", "of", "to", "in"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "les", "et", "des", "une"))

  def langHitsSpark(lang: String): String = {
    val set = langWords.toMap.apply(lang).map(w => s"'$w'").mkString(", ")
    s"size(filter($toksSpark, x -> x IN ($set)))"
  }
  def langHitsDuck(lang: String): String = {
    val set = langWords.toMap.apply(lang).map(w => s"'$w'").mkString(", ")
    s"len(list_filter($toksDuck, x -> x IN ($set)))"
  }

  /** Token and alphabetic-token counts of `text`. */
  val nToksSpark = s"size($toksSpark)"
  val alphaToksSpark = s"size(filter($toksSpark, x -> x rlike '^[a-z]+$$'))"

  /** Composite quality score in micro units: token count (capped at 100),
    * English stopword ratio and alpha-token ratio, weighted 0.5/0.3/0.2.
    * Rational arithmetic only, so the DuckDB oracle reproduces it;
    * `q_quality_score` and `jobs.FilterJob` both project it.
    */
  val qualityMicroSpark: String =
    s"CAST(FLOOR((LEAST($nToksSpark, 100) / 100.0 * 0.5" +
      s" + CAST(${langHitsSpark("en")} AS DOUBLE) / $nToksSpark * 0.3" +
      s" + CAST($alphaToksSpark AS DOUBLE) / $nToksSpark * 0.2) * 1e6 + 0.5) AS BIGINT)"

  /** argmax with fixed tie order en > es > de > fr, 'und' when all zero. */
  def langIdSql(hits: String => String): String = {
    val h = langWords.map { case (l, _) => l -> hits(l) }.toMap
    s"""CASE
       | WHEN ${h("en")} = 0 AND ${h("es")} = 0 AND ${h("de")} = 0 AND ${h("fr")} = 0 THEN 'und'
       | WHEN ${h("en")} >= ${h("es")} AND ${h("en")} >= ${h("de")} AND ${h("en")} >= ${h("fr")} THEN 'en'
       | WHEN ${h("es")} >= ${h("de")} AND ${h("es")} >= ${h("fr")} THEN 'es'
       | WHEN ${h("de")} >= ${h("fr")} THEN 'de'
       | ELSE 'fr' END""".stripMargin
  }
}
