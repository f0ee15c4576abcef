package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Cleaners, Duke, Phonetics}
import graft.model.{Doc, MatchConfig}

/** The distributed re-expression of the reference's retrieve->score->decide
  * lifecycle (SURVEY.md §3.3): extract -> clean -> block (salted) -> self-join ->
  * batched mapPartitions scoring -> threshold classification. Each stage is a
  * narrow/declarative Dataset transform; shuffles happen only at the blocking
  * join and the pair dedup, both on explicitly chosen keys.
  */
object ErPipeline {

  /** Flat cleaned record (Duke Record analog `[D Record.java]`): doc_id +
    * multi-valued property map, values already cleaned map-side (each record is
    * cleaned once — not once per candidate pair).
    */
  case class CleanRecord(doc_id: String, props: Map[String, Seq[String]])

  case class BlockRow(doc_id: String, key: String)
  case class PairIds(a_id: String, b_id: String, block_key: String)
  case class ScoredPair(a_id: String, b_id: String, block_key: String, score: Double)

  // ------------------------------------------------------------------ extract

  /** Per-row span-sequence invariant (BASELINE.json input_hint): offsets strictly
    * increasing (the `(kind, text, media_ref, order)` sequence is well-defined)
    * and span shape by kind — media spans carry media_ref and no text, text-like
    * spans the reverse. Throws on first violation (ingest gate); see
    * `invariantViolations` for the counting variant.
    */
  def assertInvariant(doc: Doc): Doc = {
    var prev = Int.MinValue
    doc.spans.foreach { s =>
      require(s.offset > prev, s"doc ${doc.doc_id}: span offsets not strictly increasing")
      prev = s.offset
      if (s.kind == "media")
        require(s.media_ref != null && s.text == null,
          s"doc ${doc.doc_id}: media span must carry media_ref only")
      else
        require(s.text != null && s.media_ref == null,
          s"doc ${doc.doc_id}: ${s.kind} span must carry text only")
    }
    doc
  }

  /** Declarative violation counter over the raw docs table (test/metrics use).
    * `greatest(size(spans)-1, 0)` guards the slice length: a doc with zero
    * spans is vacuously ordered, not a SparkRuntimeException.
    */
  def invariantViolations(docs: DataFrame): Long = {
    val increasing = expr(
      "forall(zip_with(slice(transform(spans, s -> s.offset), 1, greatest(size(spans)-1, 0))," +
        " slice(transform(spans, s -> s.offset), 2, greatest(size(spans)-1, 0))," +
        " (a, b) -> b > a), x -> x)")
    val shapeOk = expr(
      "forall(spans, s -> IF(s.kind = 'media', s.media_ref is not null and s.text is null," +
        " s.text is not null and s.media_ref is null))")
    docs.where(!(coalesce(increasing, lit(true)) && shapeOk)).count()
  }

  /** spans -> flat multi-valued Duke record, cleaned per the config's cleaner
    * chains (SURVEY.md §1.4: properties extracted from spans by `kind`; media
    * spans contribute `media_ref`, text spans `text`).
    *
    * Fully declarative — span higher-order functions + the codegen'd CleanExpr
    * chain, one narrow whole-stage-codegen pass, no object-domain hop (a typed
    * mapPartitions here leaves Catalyst alias-only Projects over ObjectType
    * that cannot be projected when the stage runs unfused). The per-row span
    * invariant is enforced at scan time via `raise_error` gating `doc_id`
    * (BASELINE.json:15: asserted on every ingested document).
    */
  def extract(docs: Dataset[Doc], config: MatchConfig): Dataset[CleanRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._

    val increasing = expr(
      "coalesce(forall(zip_with(slice(transform(spans, s -> s.offset), 1, greatest(size(spans)-1, 0))," +
        " slice(transform(spans, s -> s.offset), 2, greatest(size(spans)-1, 0))," +
        " (a, b) -> b > a), x -> x), true)")
    val shapeOk = expr(
      "coalesce(forall(spans, s -> IF(s.kind = 'media'," +
        " s.media_ref is not null and s.text is null," +
        " s.text is not null and s.media_ref is null)), true)")
    val gatedId = when(increasing && shapeOk, $"doc_id")
      .otherwise(raise_error(concat(
        lit("span invariant violated (kind/text/media_ref/order) for doc "), $"doc_id")))

    // ONE pass over the spans array builds the (key, value) view — the kind
    // dispatch and media_ref/text selection evaluate once per span, not once
    // per (span × property); the per-property legs below then filter this
    // narrow staged array. (A full fold-into-map would be worse, not better:
    // Spark HOF aggregation has no in-place map/array update, so appending a
    // value copies the accumulator — O(|spans|²) per row.) CollapseProject
    // leaves the stage in place: the alias is non-cheap and referenced P
    // times, so both narrow Projects survive back-to-back (span HOFs are
    // interpreted expressions in Spark 4, so neither version codegens — the
    // win is evaluation count, not fusion).
    val kvs = expr(
      "transform(spans, s -> named_struct(" +
        "'k', IF(s.kind = 'media', 'media', s.kind)," +
        "'v', IF(s.kind = 'media', s.media_ref, s.text)))")

    val entries: Seq[Column] = config.properties.flatMap { p =>
      val src = filter(col("__kvs"), e => e.getField("k") === p.name)
      val cleaned = transform(src, e =>
        graft.expr.functions.clean_chain(p.cleaners, e.getField("v")))
      val nonEmpty = filter(cleaned, v => v.isNotNull && v =!= "")
      Seq(lit(p.name), coalesce(nonEmpty, array().cast("array<string>")))
    }

    docs.toDF()
      .select(gatedId.as("doc_id"), kvs.as("__kvs"))
      .select(col("doc_id"), map(entries: _*).as("props"))
      .as[CleanRecord]
  }

  // ------------------------------------------------------------------ blocking

  /** Blocking-key generation (the Spark replacement for ES/Lucene candidate
    * retrieval — SURVEY.md §2.6 J3): recall-oriented keys from cleaned values.
    * Default keyers mirror a Duke lookup-property setup: surname soundex +
    * exact phone digits (see `Blocking` for the configurable KeyFunction
    * analog). Multiple keys per doc; the same function defines the "same
    * blocking key" for the labeled pairs (BASELINE.json:2).
    */
  def blockKeys(rec: CleanRecord): Seq[String] = Blocking.keys(Blocking.default)(rec)

  def block(
      records: Dataset[CleanRecord],
      keyers: Seq[Blocking.Keyer] = Blocking.default): Dataset[BlockRow] =
    Blocking.block(records, keyers)

  // ------------------------------------------------------------------ pair generation

  /** Skew controls (SURVEY.md §7.4 / BASELINE north_rule "skew handled
    * explicitly"):
    *  - `maxBlockSize`: blocks larger than this are dropped entirely (quadratic
    *    blowup guard); the dropped mass is reported, never silently truncated.
    *  - `saltThreshold`: blocks larger than this are split into
    *    ceil(size/saltThreshold) salt buckets; the self-join runs per
    *    triangular bucket-cell so every cross-salt pair is still produced
    *    exactly once while no single task sees the whole hot block.
    */
  case class PairConfig(saltThreshold: Int = 256, maxBlockSize: Int = 100000)

  case class PairStats(droppedBlocks: Long, droppedPairsMass: Double, saltedBlocks: Long)

  /** Candidate pairs via salted triangular self-join (J1): each (doc, key, salt u)
    * row is replicated to the bucket-cells {(u,j): j >= u} on the left side and
    * {(i,u): i <= u} on the right; joining left x right on (key, cell) yields
    * every unordered pair exactly once (id-order dedup applies only to the
    * diagonal cells). Pairs co-occurring under several keys are deduplicated by
    * (a_id, b_id) keeping the smallest key.
    */
  def pairs(
      blocks: Dataset[BlockRow],
      cfg: PairConfig = PairConfig()): (Dataset[PairIds], PairStats) = {
    val spark = blocks.sparkSession
    import spark.implicits._

    // Only the HEAVY TAIL leaves the executors (dropped keys: at most
    // |blocks|/max of them; hot keys: at most |blocks|/threshold) — normal
    // keys default to salts=1 via the left join, so driver/executor memory
    // never scales with the number of DISTINCT blocking keys (O(corpus) at
    // the 10^12-doc design point; broadcasting all of them was the scale bug).
    //
    // The tail is bounded, so it is collected ONCE: the skew report is
    // computed on the driver, and the drop flags and salt counts go out as
    // one small local frame, broadcast for the single left join below. No
    // pin: under AQE a checkpoint of an aggregate runs its map stage as an
    // execution of its own, so the collect is the only job of this step.
    val tail = blocks.groupBy($"key").agg(count("*").as("n"))
      .filter($"n" > cfg.saltThreshold)
      .as[(String, Long)].collect().toSeq
    val dropped = tail.filter(_._2 > cfg.maxBlockSize)
    val stats = PairStats(dropped.size,
      dropped.map { case (_, n) => (n * (n - 1)).toDouble / 2 }.sum, tail.size - dropped.size)
    val tailInfo = tail.map { case (k, n) =>
      (k, n > cfg.maxBlockSize, saltsFor(n, cfg))
    }.toDF("key", "__drop", "salts")

    val withSalt = blocks
      .join(broadcast(tailInfo), Seq("key"), "left")
      .where($"__drop".isNull || !$"__drop")
      .withColumn("salts", coalesce($"salts", lit(1)))
      .withColumn("salt", pmod(xxhash64($"doc_id"), $"salts").cast("int"))

    // triangular replication
    val left = withSalt.withColumn("cj", explode(sequence($"salt", $"salts" - 1)))
      .select($"key", $"doc_id".as("a_id"), $"salt".as("ci"), $"cj")
    val right = withSalt.withColumn("ci", explode(sequence(lit(0), $"salt")))
      .select($"key", $"doc_id".as("b_id"), $"ci", $"salt".as("cj"))

    val joined = left.join(right, Seq("key", "ci", "cj"))
      .where(($"ci" =!= $"cj") || ($"a_id" < $"b_id"))
      .select(
        least($"a_id", $"b_id").as("a_id"),
        greatest($"a_id", $"b_id").as("b_id"),
        $"key")
    val deduped = joined.groupBy($"a_id", $"b_id").agg(min($"key").as("block_key"))
      .as[PairIds]
    (deduped, stats)
  }

  /** Record-linkage mode (J2, `[D Processor.java#link]`): candidate pairs
    * between two distinct corpora on the shared blocking key — inner equi-join
    * A x B (no triangular dedup needed; sides are disjoint by construction).
    * Skew is judged on BOTH sides: a key is dropped when either side exceeds
    * `maxBlockSize` (dropped mass reported as |A_k|·|B_k| — actual pair count,
    * consistent with `pairs`' n·(n−1)/2), and hot keys are GRID-salted:
    * A splits into sa = ceil(|A_k|/T) row-salts, B into sb = ceil(|B_k|/T)
    * column-salts; each A row replicates across the sb columns of its row,
    * each B row across the sa rows of its column, and the join runs per
    * (key, i, j) cell — every cell sees ≤ T×T pairs no matter which side is
    * hot (1-D salting bounds only the salted side; a key hot on BOTH sides
    * still produced T×|other| cells). Only keys present in BOTH corpora
    * matter — a key hot on one side but absent from the other produces no
    * pairs and is neither dropped nor salted.
    */
  /** `uniqueKeys = true` (optimization r6, guide §2.4/§8 — caller knowledge
    * the planner cannot derive): when every doc emits AT MOST ONE blocking
    * key (a single-keyer setup), a pair can only arise under one shared key
    * and one grid cell, so the cross-key dedup aggregate — a sort-heavy
    * shuffle of the full pair set (min over a string key falls back to
    * SortAggregate) — is provably a no-op and is skipped. Declaring it for a
    * multi-keyer blocking config would emit duplicate pairs; leave false.
    */
  def linkPairs(
      blocksA: Dataset[BlockRow],
      blocksB: Dataset[BlockRow],
      cfg: PairConfig = PairConfig(),
      uniqueKeys: Boolean = false): (Dataset[PairIds], PairStats) = {
    val spark = blocksA.sparkSession
    import spark.implicits._

    // heavy tail only, collected once and broadcast as a local frame — see
    // `pairs` above; only keys present in both corpora can be hot
    val tail = blocksA.groupBy($"key").agg(count("*").as("na"))
      .join(blocksB.groupBy($"key").agg(count("*").as("nb")), "key")
      .filter(greatest($"na", $"nb") > cfg.saltThreshold)
      .as[(String, Long, Long)].collect().toSeq
    val dropped = tail.filter { case (_, na, nb) => math.max(na, nb) > cfg.maxBlockSize }
    val stats = PairStats(dropped.size,
      dropped.map { case (_, na, nb) => (na * nb).toDouble }.sum, tail.size - dropped.size)
    val tailInfo = tail.map { case (k, na, nb) =>
      (k, math.max(na, nb) > cfg.maxBlockSize, saltsFor(na, cfg), saltsFor(nb, cfg))
    }.toDF("key", "__drop", "sa", "sb")

    def salted(blocks: Dataset[BlockRow]) = blocks
      .join(broadcast(tailInfo), Seq("key"), "left")
      .where($"__drop".isNull || !$"__drop")
      .withColumn("sa", coalesce($"sa", lit(1)))
      .withColumn("sb", coalesce($"sb", lit(1)))
    val a = salted(blocksA)
      .withColumn("i", pmod(xxhash64($"doc_id"), $"sa").cast("int"))
      .withColumn("j", explode(sequence(lit(0), $"sb" - 1)))
      .select($"key", $"doc_id".as("a_id"), $"i", $"j")
    val b = salted(blocksB)
      .withColumn("j", pmod(xxhash64($"doc_id"), $"sb").cast("int"))
      .withColumn("i", explode(sequence(lit(0), $"sa" - 1)))
      .select($"key", $"doc_id".as("b_id"), $"i", $"j")

    val joined = a.join(b, Seq("key", "i", "j"))
    val pairs =
      (if (uniqueKeys) joined.select($"a_id", $"b_id", $"key".as("block_key"))
       else joined.groupBy($"a_id", $"b_id").agg(min($"key").as("block_key")))
        .as[PairIds]
    (pairs, stats)
  }

  /** Salt buckets of a hot block of `n` rows: ceil(n / saltThreshold). */
  private def saltsFor(n: Long, cfg: PairConfig): Int =
    math.ceil(n.toDouble / cfg.saltThreshold).toInt

  // ------------------------------------------------------------------ scoring

  /** Batched pairwise scoring in mapPartitions (mandated by BASELINE.json:6):
    * the compiled config (comparators resolved once) scores a whole
    * partition's pairs in a tight JVM loop through `Duke.CompiledConfig.score`
    * — the one Duke fold, also behind `DukeScoreExpr` — the distributed
    * analog of `EntityResolutionScript.runAsDouble` over an ES shard's
    * candidate iterator (SURVEY.md §3.1).
    *
    * Joins pair ids back to records on doc_id (two shuffle hash joins; records
    * are pre-cleaned so no string work happens here).
    */
  def score(
      pairIds: Dataset[PairIds],
      records: Dataset[CleanRecord],
      config: MatchConfig): Dataset[ScoredPair] =
    score(pairIds, records, records, config)

  /** Two-corpus variant: a-side and b-side records come from different tables
    * (incremental linkage: a = the new micro-batch, b = the accumulated
    * corpus). When the b-side is a `doc_id`-bucketed table the b-join is
    * exchange-free on the corpus side — only the (small) pair ids shuffle,
    * the corpus never moves (BucketedCorpusSpec asserts the plan).
    */
  def score(
      pairIds: Dataset[PairIds],
      aRecords: Dataset[CleanRecord],
      bRecords: Dataset[CleanRecord],
      config: MatchConfig): Dataset[ScoredPair] = {
    val spark = pairIds.sparkSession
    import spark.implicits._
    val cc = Duke.compile(config)

    val a = aRecords.toDF("a_id", "a_props")
    val b = bRecords.toDF("b_id", "b_props")
    val joined = pairIds.join(a, "a_id").join(b, "b_id")
      .select($"a_id", $"b_id", $"block_key", $"a_props", $"b_props")
      .as[(String, String, String, Map[String, Seq[String]], Map[String, Seq[String]])]

    joined.mapPartitions { it =>
      it.map { case (aId, bId, key, ap, bp) =>
        ScoredPair(aId, bId, key, cc.score(ap, bp))
      }
    }
  }

  /** Threshold classification (P4): match / maybe buckets. */
  def classify(scored: Dataset[ScoredPair], config: MatchConfig): DataFrame =
    scored.withColumn("bucket",
      when(col("score") >= config.threshold, "match")
        .when(col("score") >= config.maybeThreshold, "maybe")
        .otherwise("no-match"))

  /** Match edges feeding connected components. */
  def matchEdges(scored: Dataset[ScoredPair], config: MatchConfig): DataFrame =
    scored.filter(col("score") >= config.threshold).select(col("a_id"), col("b_id"))
}
