package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Skew-safe candidate generation for banded near-dup schemes (MinHash-LSH
  * bands, SimHash sub-keys, sign-LSH buckets — SURVEY.md §2 LLM-pipeline ops).
  *
  * The naive shape — `bands.join(bands, (band_ix, band_val))` — is quadratic
  * in the hottest bucket: a dup-heavy crawl corpus (10⁶ copies of one
  * boilerplate page sharing every band) turns one key cell into 10¹²
  * candidate rows. This module applies the `ErPipeline.pairs` discipline
  * (SURVEY §7.4 "hot keys must be salted AND capped") to band buckets, plus
  * a contraction pre-pass:
  *
  *  ① **contraction**: items with an IDENTICAL contraction key form dup
  *    groups; only one representative per group enters the band join, so 10⁶
  *    identical docs contribute ONE row per bucket, not 10⁶.
  *  ② **within-group pairs**: every member shares every band, so all C(g,2)
  *    pairs are candidates by construction — produced by a salted triangular
  *    self-join on the key, capped at `maxBlockSize` (pair mass reported via
  *    `Stats`, never silently).
  *  ③ **band join over representatives**: the same salted triangular
  *    self-join per (band index, bucket value) key — every cell sees ≤ T²
  *    rows no matter how hot the bucket; over-cap buckets drop with mass.
  *  ④ **expansion**: each representative pair expands to all member×member
  *    pairs — linear in the OUTPUT size (two hash joins against the
  *    membership table), never in bucket-size².
  *
  * Two public shapes over that skeleton:
  *
  *  - `candidates` contracts on the band VECTOR (identical bands ⇒
  *    identical bucket memberships) and expands before returning; the
  *    caller verifies each candidate pair. Safe when the caller's input is
  *    already one row per distinct payload (e.g. `jobs.DedupJob` feeds exact-
  *    fingerprint representatives), but on raw dup-heavy input stage ④'s
  *    g_a×g_b product materializes UNVERIFIED member pairs — two linked 10⁶-
  *    member dup families would expand to 10¹² rows before the verify filter
  *    sees one of them.
  *  - `verifiedPairs` closes that hazard (VERDICT r3 "What's wrong #1"):
  *    contraction runs on a caller-supplied EXACT PAYLOAD key (key-equal ⇒
  *    payload-equal ⇒ every pairwise similarity between the two groups equals
  *    the rep pair's), the caller's `verify` runs on REP pairs only — O(reps),
  *    never O(members²) — and only SURVIVING rep pairs expand by membership.
  *    Within-group pairs are duplicates by construction and carry the caller's
  *    `selfSims` values (sim(x,x): Jaccard 1, hamming 0, cosine 1).
  *
  * Block sizes ride on every row via one count-window per key (no discovery
  * aggregation jobs, no driver collects — the whole candidate plan is lazy;
  * `candidates` adds one stats aggregate for the skew report). `candidates`
  * output is exactly the naive candidate set (distinct unordered id pairs
  * sharing ≥1 band) minus pairs inside dropped blocks; `verifiedPairs` output is exactly
  * "naive candidates, each verified" minus the same drops. Defaults leave
  * small-SF oracle outputs byte-identical (nothing exceeds the thresholds at
  * sf≤0.1).
  */
object BandedPairs {

  case class Stats(intra: ErPipeline.PairStats, cross: ErPipeline.PairStats) {
    def droppedPairsMass: Double = intra.droppedPairsMass + cross.droppedPairsMass
    def saltedBlocks: Long = intra.saltedBlocks + cross.saltedBlocks
  }

  /** Salted triangular self-join: rows already carry their block size `n`
    * under (key columns) — cells (i,j), i ≤ j, each ≤ T×T; every unordered
    * in-block pair appears exactly once. Over-cap blocks are filtered out.
    */
  private def triangular(
      sized: DataFrame, // (keyCols..., id, n)
      keyCols: Seq[String],
      cfg: ErPipeline.PairConfig): DataFrame = {
    val kept = sized.where(col("n") <= cfg.maxBlockSize)
      .withColumn("salts", ceil(col("n") / cfg.saltThreshold).cast("int"))
      .withColumn("salt", pmod(xxhash64(col("id")), col("salts")).cast("int"))
    val left = kept.withColumn("cj", explode(sequence(col("salt"), col("salts") - 1)))
      .select(keyCols.map(col) ++ Seq(col("id").as("ia"), col("salt").as("ci"), col("cj")): _*)
    val right = kept.withColumn("ci", explode(sequence(lit(0), col("salt"))))
      .select(keyCols.map(col) ++ Seq(col("id").as("ib"), col("ci"), col("salt").as("cj")): _*)
    left.join(right, keyCols ++ Seq("ci", "cj"))
      .where((col("ci") =!= col("cj")) || (col("ia") < col("ib")))
      .select(least(col("ia"), col("ib")).as("a_id"),
        greatest(col("ia"), col("ib")).as("b_id"))
  }

  /** `items`: (id: bigint, bands: array<bigint>) — one bucket value per band
    * index, same length for every row. Returns distinct (a_id < b_id) pairs
    * and the skew report (one aggregate job; the pairs stay lazy).
    */
  def candidates(
      items: DataFrame,
      cfg: ErPipeline.PairConfig = ErPipeline.PairConfig()): (DataFrame, Stats) = {
    val c = contract(items, bandVectorKey, cfg)
    (c.intra.unionByName(expand(c.repPairs, c.members)), collectStats(c))
  }

  /** Verify-then-expand (the dup-heavy scale shape): candidates are generated
    * and VERIFIED at representative level, and only surviving rep pairs expand
    * to member pairs — two linked million-member dup families cost one
    * verified rep pair plus output-linear expansion, never 10¹² individually
    * verified rows.
    *
    * `items`: (id, bands, + whatever `key` reads). `key` must be an EXACT
    * payload identity: key-equal rows must have equal payloads (and therefore
    * equal bands — bands are a function of the payload). The md5-of-content
    * discipline of `jobs.DedupJob` qualifies (collision odds ~2⁻¹²⁸ per pair);
    * a minhash signature does NOT (signature-equal ≠ payload-equal).
    *
    * `verify` receives the distinct candidate rep pairs (a_id, b_id) and must
    * return the surviving pairs with any similarity columns attached —
    * (a_id, b_id, sims...). `selfSims` are those same similarity columns
    * evaluated at sim(x,x) (e.g. `lit(1000000L).as("jacc_micro")`), attached
    * to within-group pairs, which are duplicates by construction and never
    * re-verified.
    */
  /** `singleBand = true` (optimization r6, guide §2.4): a single-band scheme
    * generates each rep pair in exactly one (band, bucket, salt-cell) — the
    * triangular join already emits distinct pairs, so the rep-pair
    * `.distinct()` shuffle is provably a no-op and is skipped. Only safe when
    * every `bands` array has length 1.
    */
  def verifiedPairs(
      items: DataFrame,
      key: Column,
      selfSims: Seq[Column],
      cfg: ErPipeline.PairConfig = ErPipeline.PairConfig(),
      singleBand: Boolean = false)(
      verify: DataFrame => DataFrame): DataFrame = {
    val c = contract(items, key, cfg, singleBand)
    c.intra.select(Seq(col("a_id"), col("b_id")) ++ selfSims: _*)
      .unionByName(expand(verify(c.repPairs), c.members))
  }

  /** As `verifiedPairs`, plus the skew report (one extra aggregate job). */
  def verifiedCandidates(
      items: DataFrame,
      key: Column,
      selfSims: Seq[Column],
      cfg: ErPipeline.PairConfig = ErPipeline.PairConfig())(
      verify: DataFrame => DataFrame): (DataFrame, Stats) = {
    val c = contract(items, key, cfg)
    val pairs = c.intra.select(Seq(col("a_id"), col("b_id")) ++ selfSims: _*)
      .unionByName(expand(verify(c.repPairs), c.members))
    (pairs, collectStats(c))
  }

  /** Default contraction key: the full band vector in exact string form (hash
    * keys would merge unrelated groups on collision and emit WRONG pairs;
    * nulls are kept distinct from absent elements).
    */
  private def bandVectorKey: Column =
    array_join(col("bands").cast("array<string>"), ",", "null")

  private case class Contracted(
      members: DataFrame, // (id, bands, key, rep, g) — pinned
      intra: DataFrame, // (a_id, b_id) within contraction groups
      repPairs: DataFrame, // (a_id, b_id) distinct rep pairs from the band join
      statsDf: DataFrame)

  private def contract(
      items: DataFrame,
      key: Column,
      cfg: ErPipeline.PairConfig,
      singleBand: Boolean = false): Contracted = {
    val spark = items.sparkSession
    import spark.implicits._

    // ① contraction: one narrow shuffle on the key computes rep + group size;
    // pinned once — the intra join, the rep band join, both expansion joins
    // and the stats aggregate all read the materialized (id, bands, key, rep,
    // g). An item with NO bands shares nothing with anyone — it must not fall
    // into a common "" key group (which would fabricate intra pairs).
    val byKey = Window.partitionBy($"key")
    val members = graft.io.Persist.truncate(
      items.where(size($"bands") > 0)
        .select($"id", $"bands", key.as("key"))
        .withColumn("rep", min($"id").over(byKey))
        .withColumn("g", count(lit(1)).over(byKey)))

    // ② within-group pairs (the group size g is already a column)
    val intra = triangular(
      members.where($"g" > 1).select($"key", $"id", $"g".as("n")),
      Seq("key"), cfg)

    // ③ representatives only enter the band join (each carrying its group
    // size for member-weighted skew stats). Over-cap groups keep their
    // representative here: the drop bounds the WITHIN-group blowup, while the
    // rep still links its group outward. Bucket sizes via one count-window
    // per (band_ix, band_val) key — linear, never pairwise.
    val repBands = members.where($"id" === $"rep")
      .select($"id", $"g", posexplode($"bands"))
      .withColumnRenamed("pos", "bix").withColumnRenamed("col", "bval")
    val sizedBands = repBands.withColumn(
      "n", count(lit(1)).over(Window.partitionBy($"bix", $"bval")))
    val repPairs0 = triangular(sizedBands, Seq("bix", "bval"), cfg)
    // a rep pair sharing several bands must expand once; with ONE band the
    // triangular join is already duplicate-free (see `verifiedPairs`)
    val repPairs = if (singleBand) repPairs0 else repPairs0.distinct()

    // skew report (lazy): dropped blocks + their pair mass + salted counts,
    // for the contraction groups and the band buckets respectively. Cross
    // mass counts MEMBER pairs, not rep pairs (ADVICE r3): a dropped bucket
    // with rep group sizes g_i loses Σ_{i<j} g_i·g_j = (S² − Σg_i²)/2 member
    // pairs (S = Σg_i; within-group pairs are stage ②'s, not the bucket's).
    // Buckets sharing a dropped rep pair each report it — an upper bound.
    // mass arithmetic in DOUBLE from the first multiply (ADVICE r4): at the
    // dup-heavy 10⁹+ member scale this module targets, g² (or the bucket
    // member-sum squared) overflows Long around 3.04e9 and the skew report
    // would carry negative garbage exactly when it matters most
    val intraStats = members.where($"id" === $"rep").agg(
      count(when($"g" > cfg.maxBlockSize, 1)).as("i_dropped"),
      coalesce(sum(when($"g" > cfg.maxBlockSize,
        $"g".cast("double") * ($"g" - 1) / 2)), lit(0.0)).as("i_mass"),
      count(when($"g" > cfg.saltThreshold && $"g" <= cfg.maxBlockSize, 1)).as("i_salted"))
    val crossStats = sizedBands.groupBy($"bix", $"bval")
      .agg(first($"n").as("n"), sum($"g").as("s"),
        sum($"g".cast("double") * $"g").as("sq"))
      .agg(
        count(when($"n" > cfg.maxBlockSize, 1)).as("c_dropped"),
        coalesce(sum(when($"n" > cfg.maxBlockSize,
          ($"s".cast("double") * $"s" - $"sq") / 2)), lit(0.0)).as("c_mass"),
        count(when($"n" > cfg.saltThreshold && $"n" <= cfg.maxBlockSize, 1)).as("c_salted"))

    Contracted(members, intra, repPairs, intraStats.crossJoin(crossStats))
  }

  /** ④ expansion: rep pair -> all member×member pairs (groups are disjoint,
    * so each unordered pair arises exactly once); any non-id columns on the
    * rep pairs (similarities from a rep-level verify) ride along unchanged —
    * legal because key-equal members share the rep's payload exactly, and the
    * similarities in play are symmetric.
    */
  private def expand(repPairs: DataFrame, members: DataFrame): DataFrame = {
    val extras = repPairs.columns.filterNot(Set("a_id", "b_id")).toSeq
    repPairs
      .join(members.select(col("rep").as("a_id"), col("id").as("ga")), "a_id")
      .join(members.select(col("rep").as("b_id"), col("id").as("gb")), "b_id")
      .select(Seq(least(col("ga"), col("gb")).as("a_id"),
        greatest(col("ga"), col("gb")).as("b_id")) ++ extras.map(col): _*)
  }

  private def collectStats(c: Contracted): Stats = {
    val r = c.statsDf.collect()(0)
    Stats(
      ErPipeline.PairStats(r.getLong(0), r.getDouble(1), r.getLong(2)),
      ErPipeline.PairStats(r.getLong(3), r.getDouble(4), r.getLong(5)))
  }
}
