package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.expr.functions._
import graft.model.MatchConfig
import graft.pipeline.{Cluster, ErPipeline, Fixtures}

/** Driver contract (SURVEY.md §7.5): one `queries` entry per implemented
  * operator from SURVEY.md §2, with a DuckDB-runnable oracle where the
  * semantics are ANSI-SQL-expressible.
  *
  * Oracle-parity conventions (established against DuckDB v1.0.0 in-session):
  *  - doubles never leave a query raw: `micro(x)` = floor(x*1e6 + 0.5) as
  *    BIGINT on BOTH sides (identical double expression trees -> identical
  *    bits -> identical integers; no engine rounding-mode dependence);
  *  - money sums round per row to integer cents, then sum exactly;
  *  - Jaro-Winkler: DuckDB's jaro_winkler_similarity applies the 0.7 boost
  *    threshold, our Duke-parity comparator does not — JW oracles reconstruct
  *    the UNBOOSTED bonus over DuckDB's jaro_similarity (bit-identical to the
  *    kernel jaro over the full pair set; DuckSql.jaroWinklerUnboosted), so
  *    every pair is oracle-checked with no agreement-zone filter;
  *  - q-gram / token comparators use SET semantics (mirrors Duke's HashSet
  *    grams) so DuckDB list_distinct/list_intersect reproduce them.
  */
object SparkEntry {

  private def micro(c: Column): Column = floor(c * 1e6 + 0.5).cast("long")
  private val microSql = (e: String) => s"CAST(FLOOR(($e) * 1e6 + 0.5) AS BIGINT)"

  /** Micro-rounded cosine over pre-computed norms, via the codegen vec_dot
    * kernel — bit-identical to the interpreted cosStagedSpark HOF twin
    * (VecKernelsSpec parity; identical Divide/Multiply/Add tree after it).
    */
  private[graft] def cosMicro(qv: String, cv: String, qn: String, cn: String): Column =
    floor(vec_dot(col(qv), col(cv)) / (col(qn) * col(cn)) * lit(1e6) + lit(0.5)).cast("long")

  /** Table schemas memoized per (session, path): bench/verify construct every
    * query fresh each rep, and an unmemoized `read.parquet` re-infers the
    * schema (a footer-read job) on every construction — pure metadata
    * overhead that a catalog table would cache (guide §6 "file listing").
    * Only the schema is kept, never a DataFrame: a DataFrame references its
    * session, which would keep every session that ever ran a query alive.
    * Sessions are weak keys, so a dropped session and its entries are
    * reclaimed. Every action still lists and scans the parquet files — no
    * data or results are cached.
    */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.util.Map[String, StructType]]())
  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val bySession = schemas.computeIfAbsent(s, _ => new java.util.concurrent.ConcurrentHashMap())
    s.read.schema(bySession.computeIfAbsent(path, p => s.read.parquet(p).schema)).parquet(path)
  }

  // deterministic order for nickname planting + the oracle CASE chain (C6)
  private val nickKeys: Seq[String] = graft.core.Cleaners.nicknames.keys.toSeq.sorted

  /** supplier x customer within the same nation — the standing pair set used by
    * comparator demos (~6k pairs at sf0.01). Blocking key = nationkey (P2/J2).
    */
  private def pairSet(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_acctbal"))
      .join(
        t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal")),
        col("c_nationkey") === col("s_nationkey"))

  private val pairSetSql =
    """FROM customer c JOIN supplier s ON c.c_nationkey = s.s_nationkey"""

  /** Flagship: the full ER pipeline (extract -> block -> salted self-join ->
    * mapPartitions scoring -> CC) on the deterministic interleaved fixture.
    */
  def entry(spark: SparkSession): DataFrame = {
    val config = MatchConfig.fixture
    val docs = Fixtures.docs(spark, 300)
    val records = ErPipeline.extract(docs, config)
    val (pairIds, _) = ErPipeline.pairs(ErPipeline.block(records, config))
    val scored = ErPipeline.score(pairIds, records, config)
    val edges = ErPipeline.matchEdges(scored, config)
    Cluster.connectedComponents(edges)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    baseQueries ++ trainingQueries

  private def baseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---------------- cleaners (C1-C3, SURVEY.md §2.3) ----------------
    "q_cleaner_chain" -> ((s, dir) => {
      t(s, dir, "customer").select(
        col("c_custkey"),
        clean_chain(Seq("trim", "lowercase-normalize"), col("c_name")).as("norm_name"))
    }),
    "q_cleaner_digits" -> ((s, dir) => {
      t(s, dir, "customer").select(
        col("c_custkey"),
        clean("digits-only", col("c_name")).as("digits"))
    }),

    // ---------------- comparators over the pair set (K1-K9, §2.4) ----------------
    "q_pair_levenshtein" -> ((s, dir) => {
      pairSet(s, dir).select(
        col("c_custkey"), col("s_suppkey"),
        levenshtein(col("c_name"), col("s_name")).cast("long").as("dist"),
        micro(sim_levenshtein(col("c_name"), col("s_name"))).as("sim_micro"))
    }),
    // no 0.7 agreement-zone filter: the oracle reconstructs graft's UNBOOSTED
    // Winkler bonus over DuckDB's jaro_similarity (bit-identical everywhere —
    // see DuckSql.jaroWinklerUnboosted), so every pair is checked
    "q_pair_jaro_winkler" -> ((s, dir) => {
      pairSet(s, dir).select(
        col("c_custkey"), col("s_suppkey"),
        micro(sim_jaro_winkler(col("c_name"), col("s_name"))).as("jw_micro"))
    }),
    "q_pair_qgram_dice" -> ((s, dir) => {
      // all three K6 formulas (overlap / dice / jaccard) + a q=3 leg
      pairSet(s, dir).select(
        col("c_custkey"), col("s_suppkey"),
        micro(sim_qgram(col("c_name"), col("s_name"), q = 2, formula = 1)).as("dice_micro"),
        micro(sim_qgram(col("c_name"), col("s_name"), q = 2, formula = 0)).as("overlap_micro"),
        micro(sim_qgram(col("c_name"), col("s_name"), q = 2, formula = 2)).as("jaccard_micro"),
        micro(sim_qgram(col("c_name"), col("s_name"), q = 3, formula = 1)).as("dice3_micro"))
    }),
    "q_pair_token_sets" -> ((s, dir) => {
      val a = clean_chain(Seq("lowercase-normalize"), col("c_name"))
      val b = clean_chain(Seq("lowercase-normalize"), col("s_name"))
      pairSet(s, dir).select(
        col("c_custkey"), col("s_suppkey"),
        micro(sim_dice(a, b)).as("dice_micro"),
        micro(sim_jaccard(a, b)).as("jaccard_micro"))
    }),
    "q_pair_numeric" -> ((s, dir) => {
      pairSet(s, dir).select(
        col("c_custkey"), col("s_suppkey"),
        micro(sim_numeric(col("c_acctbal").cast("string"), col("s_acctbal").cast("string")))
          .as("num_micro"))
    }),

    // ---------------- Duke scoring fold in oracle-checkable form (A1+A3+P4, §2.5) ----------------
    "q_duke_score" -> ((s, dir) => {
      val p1 = duke_probability(sim_levenshtein(col("c_name"), col("s_name")), 0.2, 0.9)
      val p2 = duke_probability(
        sim_numeric(col("c_acctbal").cast("string"), col("s_acctbal").cast("string")), 0.3, 0.8)
      val score = bayes_combine(bayes_combine(lit(0.5), p1), p2)
      pairSet(s, dir).select(
        col("c_custkey"), col("s_suppkey"),
        micro(score).as("score_micro"),
        when(score >= 0.8, "match").when(score >= 0.6, "maybe").otherwise("no-match").as("bucket"))
    }),

    // ---------------- blocking + self-join (J1/J3, §2.6) ----------------
    "q_block_prefix_keys" -> ((s, dir) => {
      t(s, dir, "customer")
        .groupBy(substring(clean("lowercase-normalize", col("c_name")), 1, 10).as("block_key"))
        .agg(count("*").as("n_docs"))
    }),
    "q_selfjoin_pairs_per_block" -> ((s, dir) => {
      val su = t(s, dir, "supplier")
      val a = su.select(col("s_suppkey").as("a_id"), col("s_nationkey").as("k"))
      val b = su.select(col("s_suppkey").as("b_id"), col("s_nationkey").as("k"))
      a.join(b, "k").where(col("a_id") < col("b_id"))
        .groupBy(col("k").as("nationkey")).agg(count("*").as("n_pairs"))
    }),
    "q_salted_block_counts" -> ((s, dir) => {
      // deterministic salt (orderkey mod 4): the skew-splitting pattern in an
      // oracle-checkable form (production path uses xxhash64 salts)
      t(s, dir, "orders")
        .groupBy(col("o_custkey"), pmod(col("o_orderkey"), lit(4)).as("salt"))
        .agg(count("*").as("n"))
    }),

    // ---------------- top-k / best-match / windows (G1, G2, G6, §2.7) ----------------
    "q_topk_per_group" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rk").cast("long").as("rk"))
    }),
    "q_best_match" -> ((s, dir) => {
      // argmax restated as ONE partial-aggregatable max_by (optimization r6,
      // guide §2.3 "aggregate before you shuffle"): the old rk=1 window
      // sorted and shuffled the full scored pair set to keep one row per
      // customer; max_by reduces map-side, shuffling |customers| rows. Rows
      // are identical — highest jw_micro, smallest suppkey on ties (the
      // ordering struct is unique per row, so the argmax is deterministic);
      // oracle unchanged.
      val jw = micro(sim_jaro_winkler(col("c_name"), col("s_name")))
      pairSet(s, dir)
        .select(col("c_custkey"), col("s_suppkey"), jw.as("jw_micro"))
        .groupBy(col("c_custkey"))
        .agg(max_by(
          struct(col("s_suppkey"), col("jw_micro")),
          struct(col("jw_micro"), (-col("s_suppkey")).as("neg"))).as("best"))
        .select(col("c_custkey"),
          col("best.s_suppkey").as("s_suppkey"),
          col("best.jw_micro").as("jw_micro"))
    }),
    "q_window_running" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // qty_cents as FINAL tiebreaker: the synthetic lineitem is allowed to
      // repeat (l_suppkey, l_shipdate, l_orderkey, l_linenumber) (1 dup at
      // sf0.1), and a running sum over tied rows with differing quantities
      // is order-dependent — with quantity pinned last, tied rows either
      // order deterministically or are identical, so the output multiset is
      // engine-independent (a compare flake caught the sf0.1 dup)
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("qty_cents"))
        .rowsBetween(Window.unboundedPreceding, 0)
      t(s, dir, "lineitem")
        .withColumn("qty_cents", floor(col("l_quantity") * 100 + 0.5).cast("long"))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          sum(col("qty_cents")).over(w).as("running_qty_cents"))
    }),

    // ---------------- aggregation (G3/G4, §2.7) ----------------
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(floor(col("l_quantity") * 100 + 0.5).cast("long")).as("sum_qty_cents"),
          sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100 + 0.5)
            .cast("long")).as("revenue_cents"),
          count("*").as("n"),
          countDistinct(col("l_orderkey")).as("n_orders"))
    }),

    // ---------------- connected components (G8, §2.7) ----------------
    "q_cc_order_chains" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // chain consecutive orders of each customer -> components = customers.
      // Edges via lag() instead of the old rank self-join (optimization r6,
      // guide §2.4 "remove shuffles outright"): the self-join shape cost a
      // window shuffle + a (custkey, rn) join shuffle of BOTH sides + an
      // explicit repartition back to the component key — three exchanges and
      // two sort-merge joins to pair each order with its successor, which
      // lag() produces inside the one window sort. Same edge set, and the
      // output is ALREADY custkey-partitioned, so every chain stays
      // partition-local for CC's union-find pre-contraction, which yields
      // the star forest outright: zero star iterations (the query KNOWS its
      // component key — generic CC cannot).
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      val edges = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"))
        .withColumn("a", lag(col("o_orderkey"), 1).over(w))
        .where(col("a").isNotNull)
        .select(col("a"), col("o_orderkey").as("b"))
      Cluster.connectedComponents(edges)
        .select(col("doc_id").as("o_orderkey"), col("cluster_id"))
    }),

    // ---------------- event sessionization + semi-structured props (events table) ----------------
    // per-user sessions split on >30 min gaps: lag -> boundary flag -> running
    // sum = session index (the standard distributed sessionization shape —
    // shuffle once on user_id, everything else in-partition); microsecond
    // integer arithmetic so the oracle is exact
    "q_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"), col("event_id"))
      val run = Window.partitionBy(col("user_id")).orderBy(col("tsu"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      // ts is TIMESTAMP_NTZ; the cast interprets it in the session timezone
      // (pinned to UTC in Verify AND Bench), matching DuckDB's epoch_us
      t(s, dir, "events")
        .withColumn("tsu", expr("unix_micros(cast(ts AS timestamp))"))
        .withColumn("new_sess",
          when(lag(col("tsu"), 1).over(w).isNull ||
            col("tsu") - lag(col("tsu"), 1).over(w) > 1800L * 1000000L, 1L).otherwise(0L))
        .withColumn("session_ix", sum(col("new_sess")).over(run))
        .groupBy(col("user_id"), col("session_ix"))
        .agg(count("*").as("n_events"),
          min(col("tsu")).as("start_us"), max(col("tsu")).as("end_us"))
    }),
    // JSON props extraction + per-type rollup: the semi-structured column op a
    // training-data pipeline needs (opaque JSON string -> typed field)
    "q_events_json" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .withColumn("value_cents", floor(col("value") * 100 + 0.5).cast("long"))
        .groupBy(col("event_type"), (col("k") % 10).as("k_bucket"))
        .agg(count("*").as("n"), sum(col("value_cents")).as("sum_value_cents"),
          max(col("k")).as("max_k"))
    }),

    // ---------------- dedup: exact (training-data ops) ----------------
    "q_dedup_exact" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("text_md5"))
        .agg(count("*").as("n"), min(col("doc_id")).as("keep_id"))
        .where(col("n") >= 1)
    }),

    // ---------------- more cleaners (C4, C5, C7 — §2.3) ----------------
    "q_cleaner_phone" -> ((s, dir) => {
      // testdata carries no phone column: synthesize a deterministic dirty
      // phone string (same expression in the DuckDB oracle)
      val raw = format_string("(00%d) %d-%d",
        col("c_nationkey"), col("c_custkey"), col("c_custkey") * 3 + 7)
      t(s, dir, "customer").select(
        col("c_custkey"),
        clean("phone-number", raw).as("phone_norm"))
    }),
    "q_cleaner_family_comma" -> ((s, dir) => {
      t(s, dir, "customer").select(
        col("c_custkey"),
        clean("family-comma-given",
          concat(col("c_name"), lit(", "), col("c_mktsegment"))).as("fcg"))
    }),
    "q_cleaner_company" -> ((s, dir) => {
      t(s, dir, "supplier").select(
        col("s_suppkey"),
        clean("company-name", concat(col("s_name"), lit(" LLC"))).as("company_norm"))
    }),

    // ---------------- sorted-neighborhood blocking (J4, §2.6) ----------------
    "q_sorted_neighborhood" -> ((s, dir) => {
      // w=2 over names sorted by normalized key — Duke InMemoryBlockingDatabase
      // semantics, computed with the distributed global rank (no
      // single-partition window; see pipeline.Neighborhood)
      val norm = clean_chain(Seq("trim", "lowercase-normalize"), col("c_name"))
      graft.pipeline.Neighborhood.pairs(
        t(s, dir, "customer").select(col("c_custkey"), norm.as("k")),
        key = col("k"), id = col("c_custkey"), w = 2)
    }),

    // ---------------- best match via aggregation (G2, §2.7) ----------------
    "q_best_match_agg" -> ((s, dir) => {
      // single pass (VERDICT r3 #5): max_by on struct(jw, -suppkey) encodes
      // "highest score, min suppkey on ties" in ONE aggregation — the old
      // self-join-with-max shape scanned the scored pair set twice. The
      // ordering struct is unique per row (one row per (custkey, suppkey)),
      // so max_by is deterministic. Oracle keeps the two-pass SQL restatement.
      val jw = micro(sim_jaro_winkler(col("c_name"), col("s_name")))
      pairSet(s, dir)
        .select(col("c_custkey"), col("s_suppkey"), jw.as("jw_micro"))
        .groupBy(col("c_custkey"))
        .agg(
          max(col("jw_micro")).as("best_micro"),
          max_by(col("s_suppkey"),
            struct(col("jw_micro"), (-col("s_suppkey")).as("neg"))).as("best_suppkey"))
    }),

    // ---------------- two-corpus record linkage (J2, §2.6) ----------------
    "q_link_two_corpora" -> ((s, dir) => {
      import graft.pipeline.ErPipeline.BlockRow
      import s.implicits._
      val a = t(s, dir, "customer").select(
        col("c_custkey").cast("string").as("doc_id"),
        concat(lit("k"), col("c_nationkey")).as("key")).as[BlockRow]
      val b = t(s, dir, "supplier").select(
        col("s_suppkey").cast("string").as("doc_id"),
        concat(lit("k"), col("s_nationkey")).as("key")).as[BlockRow]
      // uniqueKeys: the single nationkey keyer emits exactly one blocking
      // key per doc, so pairs are distinct by construction and the cross-key
      // dedup aggregate is skipped (ErPipeline.linkPairs, optimization r6)
      val (pairs, _) = ErPipeline.linkPairs(a, b, uniqueKeys = true)
      pairs.toDF().select(
        col("a_id").cast("long").as("a_id"),
        col("b_id").cast("long").as("b_id"),
        col("block_key"))
    }),

    // ---------------- regexp cleaner (C9) + set ops (G7) ----------------
    "q_cleaner_regexp" -> ((s, dir) => {
      t(s, dir, "customer").select(
        col("c_custkey"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("id_digits"))
    }),

    // ---------------- config-reachable parameterized cleaners (C8/C9) ----------------
    // the SAME CleanExpr path a plugin-style JSON config reaches via
    // Cleaners.resolve: regexp(pattern,group) incl. the no-match -> NULL
    // semantics (Duke: no evidence), and inline mapping dictionaries
    "q_cleaner_regexp_cfg" -> ((s, dir) => {
      t(s, dir, "customer").select(
        col("c_custkey"),
        clean("regexp(([A-Za-z]+)#([0-9]+),2)", col("c_name")).as("id_part"),
        clean("regexp(([0-9]+),1)", col("c_mktsegment")).as("seg_digits"))
    }),
    "q_cleaner_mapping" -> ((s, dir) => {
      t(s, dir, "customer").select(
        col("c_custkey"),
        clean("mapping(AUTOMOBILE=auto|BUILDING=bldg|FURNITURE=furn)",
          col("c_mktsegment")).as("seg_mapped"))
    }),

    // ---------------- Norwegian address cleaner (C7 completion) ----------------
    "q_cleaner_address" -> ((s, dir) => {
      val raw = when(col("s_suppkey") % 4 === 0, "Storgt. 12")
        .when(col("s_suppkey") % 4 === 1, "Storgata 12")
        .when(col("s_suppkey") % 4 === 2, "Kirkevn 3B")
        .otherwise("Hovedvei 8")
      t(s, dir, "supplier").select(
        col("s_suppkey"),
        clean("address-norwegian", raw).as("addr_norm"))
    }),
    // ---------------- person-name cleaner (C6 — the last kernel-only cleaner) ----------------
    "q_cleaner_person" -> ((s, dir) => {
      // plant a nickname token (picked by custkey) around the name, one
      // UPPERCASED so the normalize-before-mapping order is exercised; the
      // DuckDB oracle regenerates the CASE chain from Cleaners.nicknames
      val nicks = nickKeys
      val nick = element_at(
        array(nicks.map(lit): _*), (col("c_custkey") % nicks.size).cast("int") + 1)
      val raw = concat(nick, lit(" "), col("c_name"), lit(" "), upper(nick))
      t(s, dir, "customer").select(
        col("c_custkey"),
        clean("person-name", raw).as("person_norm"))
    }),
    "q_set_ops" -> ((s, dir) => {
      // one scan of customer + one aggregated scan of orders (optimization
      // r6, guide §2.4 "remove shuffles outright"): the old
      // intersect/exceptAll pair compiled to two extra full-customer
      // aggregates, a replicate-rows Generate and four exchanges. c_custkey
      // is unique in customer (the oracle's IN/NOT IN restatement already
      // relies on it), so a left join against the distinct buyer set labels
      // every row in a single pass with the identical row multiset; the join
      // strategy is left to the planner/AQE — the buyer set is corpus-sized
      // at scale, so no broadcast hint.
      val buyers = t(s, dir, "orders").select(col("o_custkey").as("custkey"))
        .distinct().withColumn("__buyer", lit(1))
      t(s, dir, "customer").select(col("c_custkey").as("custkey"))
        .join(buyers, Seq("custkey"), "left")
        .select(col("custkey"),
          when(col("__buyer").isNotNull, "buyer").otherwise("non_buyer").as("kind"))
    }),

    // ---------------- phonetic comparators, fully oracled (K10, K11-norphone) ----------------
    // DuckDB reproduces Soundex as a pure char-code-list pipeline and Norphone
    // as the same replace-chain + adjacent-dedup — verified 0 mismatches over
    // the whole pair set AND the classic golden vectors (Robert/R163 etc.).
    "q_pair_soundex_phonetic" -> ((s, dir) => {
      pairSet(s, dir).select(
        col("c_custkey"), col("s_suppkey"),
        soundex_code(col("c_name")).as("sdx_a"),
        micro(sim_soundex(col("c_name"), col("s_name"))).as("sdx_eq_micro"),
        norphone_code(col("c_name")).as("np_a"),
        micro(sim_norphone(col("c_name"), col("s_name"))).as("np_eq_micro"))
    }),

    // ---------------- JW-tokenized, fully oracled (K5) ----------------
    // DuckDB jaro_similarity is bit-identical to graft's jaro over the whole
    // pair set (no 0.7 agreement zone needed); the unboosted Winkler bonus and
    // the per-token max / symmetric mean are restated in SQL.
    "q_pair_jw_tokenized" -> ((s, dir) => {
      pairSet(s, dir).select(
        col("c_custkey"), col("s_suppkey"),
        micro(sim_jaro_winkler_tokenized(col("c_name"), col("s_name"))).as("jwt_micro"))
    }),

    // ---------------- geoposition, fully oracled (K13) ----------------
    // integer-degree coordinates (identical string form in both engines);
    // haversine restated in DuckDB in the kernel's exact operation order —
    // verified 0 micro-mismatches (libm vs JVM diverge ~1 ulp, far below 1e-6).
    "q_pair_geo" -> ((s, dir) => {
      val ga = concat((col("c_custkey") % 5 + 40).cast("string"), lit(","),
        (col("c_custkey") % 7 + 20).cast("string"))
      val gb = concat((col("s_suppkey") % 5 + 40).cast("string"), lit(","),
        (col("s_suppkey") % 7 + 20).cast("string"))
      pairSet(s, dir).select(
        col("c_custkey"), col("s_suppkey"),
        micro(sim_geoposition(ga, gb, 1000000.0)).as("geo_micro"))
    }),

    // ---------------- weighted-Levenshtein, fully oracled (K3) ----------------
    // the char-class-weighted DP runs in DuckDB as a nested list_reduce; all
    // intermediates are exact-integer-valued doubles, so the result is
    // bit-exact (0 mismatches over the pair set — DuckSql.weightedLevenshtein)
    "q_pair_weighted_lev" -> ((s, dir) => {
      pairSet(s, dir).select(
        col("c_custkey"), col("s_suppkey"),
        micro(sim_weighted_levenshtein(col("c_name"), col("s_name"), 2.0)).as("wlev_micro"))
    }),

    // ---------------- person-name, oracled on the 2×2-token shape (K12) ----------------
    // synthetic two-token names (initial + name, sometimes token-swapped or
    // near-matched) exercise the kernel's set-equality 0.95, initial rules,
    // canonical orientation and greedy assignment — all enumerable in SQL for
    // exactly two tokens per side (DuckSql.personName2x2*, 0 mismatches)
    "q_pair_person_name" -> ((s, dir) => {
      val initial = expr("chr(65 + c_nationkey % 26)")
      val na = concat(initial, lit(" "), col("c_name"))
      val nb = when(col("c_custkey") % 11 === 0, concat(col("c_name"), lit(" "), initial))
        .when(col("c_custkey") % 5 === 0, concat(initial, lit(" "), col("s_name")))
        .otherwise(concat(col("s_name"), lit(" "), expr("substr(s_name, 3, 1)")))
      pairSet(s, dir).select(
        col("c_custkey"), col("s_suppkey"),
        micro(sim_person_name(na, nb)).as("pn_micro"))
    }),

    // ---------------- stateful comparators, oracled via loop unrolling ----------------
    // LCS's removal loop and Metaphone's FSM have no direct SQL form (their
    // recursive-CTE restatements segfault DuckDB 1.0 under nested lambdas,
    // verified in-session) — but the fixture's strings are short, so both
    // loops UNROLL into flat bounded CTE chains (DuckSql.lcsRemovalCtes /
    // metaphoneCtes, each validated bit-exact against the JVM kernels
    // in-session). person_micro over the fixture's single-token names takes
    // personNameSim's 1×1 greedy path = min(0.95, tokenNameSim); the oracled
    // q_pair_person_name covers the 2×2-token shape.
    "q_pair_residual_sims" -> ((s, dir) => {
      pairSet(s, dir).select(
        col("c_custkey"), col("s_suppkey"),
        micro(sim_person_name(col("c_name"), col("s_name"))).as("person_micro"),
        micro(sim_lcs(col("c_name"), col("s_name"))).as("lcs_micro"),
        micro(sim_metaphone(col("c_name"), col("s_name"))).as("mp_eq_micro"))
    }))

  def oracleSql: Map[String, String] = baseOracles ++ trainingOracles

  private def baseOracles: Map[String, String] = Map(
    "q_cleaner_chain" ->
      """SELECT c_custkey,
        |       trim(regexp_replace(lower(strip_accents(trim(c_name))), '[^a-z0-9]+', ' ', 'g')) AS norm_name
        |FROM customer""".stripMargin,
    "q_cleaner_digits" ->
      """SELECT c_custkey, regexp_replace(c_name, '[^0-9]', '', 'g') AS digits
        |FROM customer""".stripMargin,
    "q_pair_levenshtein" -> {
      val lo = "LEAST(length(c_name), length(s_name))"
      val hi = "GREATEST(length(c_name), length(s_name))"
      s"""SELECT c_custkey, s_suppkey,
         |       levenshtein(c_name, s_name) AS dist,
         |       ${microSql(
        s"CASE WHEN $hi = 0 THEN 1.0 WHEN CAST($lo AS DOUBLE) / CAST($hi AS DOUBLE) <= 0.5 THEN 0.0 " +
          s"ELSE 1.0 - CAST(LEAST(levenshtein(c_name, s_name), $lo) AS DOUBLE) / CAST($lo AS DOUBLE) END")} AS sim_micro
         |$pairSetSql""".stripMargin
    },
    "q_pair_jaro_winkler" ->
      s"""SELECT c_custkey, s_suppkey,
         |       ${microSql(DuckSql.jaroWinklerUnboosted("c_name", "s_name"))} AS jw_micro
         |$pairSetSql""".stripMargin,
    "q_pair_qgram_dice" -> {
      def grams(c: String, q: Int) =
        s"list_distinct(list_transform(generate_series(1, length($c)-${q - 1}), i -> substr($c, i, $q)))"
      def sim(q: Int, formulaSql: (String, String, String) => String) = {
        val (a, b) = (grams("c_name", q), grams("s_name", q))
        val inter = s"len(list_intersect($a, $b))"
        s"CASE WHEN c_name = s_name THEN 1.0 " +
          s"WHEN length(c_name) < $q OR length(s_name) < $q THEN 0.0 " +
          s"ELSE ${formulaSql(inter, s"len($a)", s"len($b)")} END"
      }
      val dice = (i: String, na: String, nb: String) => s"2.0 * $i / ($na + $nb)"
      val overlap = (i: String, na: String, nb: String) => s"CAST($i AS DOUBLE) / LEAST($na, $nb)"
      val jacc = (i: String, na: String, nb: String) => s"CAST($i AS DOUBLE) / ($na + $nb - $i)"
      s"""SELECT c_custkey, s_suppkey,
         |  ${microSql(sim(2, dice))} AS dice_micro,
         |  ${microSql(sim(2, overlap))} AS overlap_micro,
         |  ${microSql(sim(2, jacc))} AS jaccard_micro,
         |  ${microSql(sim(3, dice))} AS dice3_micro
         |$pairSetSql""".stripMargin
    },
    "q_pair_token_sets" -> {
      def toks(c: String) =
        s"list_distinct(list_filter(string_split(trim(regexp_replace(lower(strip_accents(trim($c))), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> ''))"
      val (ta, tb) = (toks("c_name"), toks("s_name"))
      val norm = (c: String) => s"trim(regexp_replace(lower(strip_accents(trim($c))), '[^a-z0-9]+', ' ', 'g'))"
      s"""SELECT c_custkey, s_suppkey,
         |  ${microSql(
        s"CASE WHEN ${norm("c_name")} = ${norm("s_name")} THEN 1.0 " +
          s"WHEN len($ta) = 0 OR len($tb) = 0 THEN 0.0 " +
          s"ELSE 2.0 * len(list_intersect($ta, $tb)) / (len($ta) + len($tb)) END")} AS dice_micro,
         |  ${microSql(
        s"CASE WHEN ${norm("c_name")} = ${norm("s_name")} THEN 1.0 " +
          s"WHEN len($ta) = 0 OR len($tb) = 0 THEN 0.0 " +
          s"ELSE CAST(len(list_intersect($ta, $tb)) AS DOUBLE) " +
          s"/ (len($ta) + len($tb) - len(list_intersect($ta, $tb))) END")} AS jaccard_micro
         |$pairSetSql""".stripMargin
    },
    "q_pair_numeric" -> {
      val sim = "CASE WHEN c_acctbal = s_acctbal THEN 1.0 " +
        "WHEN c_acctbal <= 0 OR s_acctbal <= 0 THEN 0.0 " +
        "ELSE LEAST(c_acctbal, s_acctbal) / GREATEST(c_acctbal, s_acctbal) END"
      s"""SELECT c_custkey, s_suppkey, ${microSql(sim)} AS num_micro
         |$pairSetSql""".stripMargin
    },
    "q_duke_score" -> {
      val lo = "LEAST(length(c_name), length(s_name))"
      val hi = "GREATEST(length(c_name), length(s_name))"
      val sim1 = s"CASE WHEN $hi = 0 THEN 1.0 WHEN CAST($lo AS DOUBLE) / CAST($hi AS DOUBLE) <= 0.5 THEN 0.0 " +
        s"ELSE 1.0 - CAST(LEAST(levenshtein(c_name, s_name), $lo) AS DOUBLE) / CAST($lo AS DOUBLE) END"
      val sim2 = "CASE WHEN c_acctbal = s_acctbal THEN 1.0 " +
        "WHEN c_acctbal <= 0 OR s_acctbal <= 0 THEN 0.0 " +
        "ELSE LEAST(c_acctbal, s_acctbal) / GREATEST(c_acctbal, s_acctbal) END"
      val p1 = s"CASE WHEN ($sim1) >= 0.5 THEN (0.9 - 0.5) * ($sim1) * ($sim1) + 0.5 ELSE 0.2 END"
      val p2 = s"CASE WHEN ($sim2) >= 0.5 THEN (0.8 - 0.5) * ($sim2) * ($sim2) + 0.5 ELSE 0.3 END"
      val b1 = s"(0.5 * ($p1)) / (0.5 * ($p1) + (1.0 - 0.5) * (1.0 - ($p1)))"
      val score = s"(($b1) * ($p2)) / (($b1) * ($p2) + (1.0 - ($b1)) * (1.0 - ($p2)))"
      s"""SELECT c_custkey, s_suppkey, ${microSql(score)} AS score_micro,
         |  CASE WHEN ($score) >= 0.8 THEN 'match' WHEN ($score) >= 0.6 THEN 'maybe'
         |       ELSE 'no-match' END AS bucket
         |$pairSetSql""".stripMargin
    },
    "q_block_prefix_keys" ->
      """SELECT substr(trim(regexp_replace(lower(strip_accents(trim(c_name))), '[^a-z0-9]+', ' ', 'g')), 1, 10) AS block_key,
        |       count(*) AS n_docs
        |FROM customer GROUP BY 1""".stripMargin,
    "q_selfjoin_pairs_per_block" ->
      """SELECT a.s_nationkey AS nationkey, count(*) AS n_pairs
        |FROM supplier a JOIN supplier b
        |  ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
        |GROUP BY 1""".stripMargin,
    "q_salted_block_counts" ->
      """SELECT o_custkey, o_orderkey % 4 AS salt, count(*) AS n
        |FROM orders GROUP BY 1, 2""".stripMargin,
    "q_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, rk FROM (
        |  SELECT o_custkey, o_orderkey,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin,
    "q_best_match" -> {
      val jw = microSql(DuckSql.jaroWinklerUnboosted("c_name", "s_name"))
      s"""SELECT c_custkey, s_suppkey, jw_micro FROM (
         |  SELECT c_custkey, s_suppkey,
         |         $jw AS jw_micro,
         |         row_number() OVER (PARTITION BY c_custkey
         |             ORDER BY $jw DESC,
         |                      s_suppkey) AS rk
         |  $pairSetSql)
         |WHERE rk = 1""".stripMargin
    },
    "q_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |       CAST(sum(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT))
        |         OVER (PARTITION BY l_suppkey
        |               ORDER BY l_shipdate, l_orderkey, l_linenumber,
        |                        CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_qty_cents
        |FROM lineitem""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
        |       CAST(sum(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |       count(*) AS n,
        |       count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "q_cc_order_chains" ->
      """SELECT o_orderkey,
        |       min(o_orderkey) OVER (PARTITION BY o_custkey) AS cluster_id
        |FROM orders
        |WHERE o_custkey IN (SELECT o_custkey FROM orders GROUP BY 1 HAVING count(*) >= 2)""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS text_md5, count(*) AS n, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1""".stripMargin,
    "q_sessionize" ->
      """WITH t AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, tsu,
        |         CASE WHEN lag(tsu) OVER w IS NULL
        |              OR tsu - lag(tsu) OVER w > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
        |sess AS (
        |  SELECT user_id, tsu,
        |         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_ix
        |  FROM flagged)
        |SELECT user_id, session_ix, count(*) AS n_events,
        |       min(tsu) AS start_us, max(tsu) AS end_us
        |FROM sess GROUP BY 1, 2""".stripMargin,
    "q_events_json" ->
      """SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
        |       count(*) AS n,
        |       CAST(sum(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
        |       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_cleaner_phone" -> {
      val raw = "printf('(00%d) %d-%d', c_nationkey, c_custkey, c_custkey * 3 + 7)"
      val digits = s"regexp_replace($raw, '[^0-9]', '', 'g')"
      s"""SELECT c_custkey,
         |       CASE WHEN $digits LIKE '00%' THEN substr($digits, 3) ELSE $digits END AS phone_norm
         |FROM customer""".stripMargin
    },
    "q_cleaner_family_comma" -> {
      val s = "(c_name || ', ' || c_mktsegment)"
      def norm(c: String) =
        s"trim(regexp_replace(lower(strip_accents(trim($c))), '[^a-z0-9]+', ' ', 'g'))"
      s"""SELECT c_custkey,
         |  ${norm(s"substr($s, position(',' IN $s) + 1) || ' ' || substr($s, 1, position(',' IN $s) - 1)")} AS fcg
         |FROM customer""".stripMargin
    },
    "q_cleaner_company" -> {
      val norm =
        "trim(regexp_replace(lower(strip_accents(trim(s_name || ' LLC'))), '[^a-z0-9]+', ' ', 'g'))"
      s"""SELECT s_suppkey,
         |  array_to_string(list_filter(string_split($norm, ' '),
         |    t -> t NOT IN ('as','asa','ab','ba','ans','da','inc','llc','ltd','gmbh','sa','co','corp')), ' ') AS company_norm
         |FROM supplier""".stripMargin
    },
    "q_sorted_neighborhood" ->
      """WITH ranked AS (
        |  SELECT c_custkey,
        |         row_number() OVER (
        |           ORDER BY trim(regexp_replace(lower(strip_accents(trim(c_name))), '[^a-z0-9]+', ' ', 'g')),
        |                    c_custkey) AS rn
        |  FROM customer)
        |SELECT a.c_custkey AS a_id, b.c_custkey AS b_id
        |FROM ranked a JOIN ranked b ON b.rn - a.rn BETWEEN 1 AND 2""".stripMargin,
    "q_link_two_corpora" ->
      """SELECT c.c_custkey AS a_id, s.s_suppkey AS b_id,
        |       'k' || CAST(c.c_nationkey AS VARCHAR) AS block_key
        |FROM customer c JOIN supplier s ON c.c_nationkey = s.s_nationkey""".stripMargin,
    "q_cleaner_regexp" ->
      """SELECT c_custkey, regexp_extract(c_name, '([0-9]+)', 1) AS id_digits
        |FROM customer""".stripMargin,
    "q_cleaner_regexp_cfg" ->
      """SELECT c_custkey,
        |  CASE WHEN regexp_matches(c_name, '([A-Za-z]+)#([0-9]+)')
        |       THEN regexp_extract(c_name, '([A-Za-z]+)#([0-9]+)', 2) ELSE NULL END AS id_part,
        |  CASE WHEN regexp_matches(c_mktsegment, '([0-9]+)')
        |       THEN regexp_extract(c_mktsegment, '([0-9]+)', 1) ELSE NULL END AS seg_digits
        |FROM customer""".stripMargin,
    "q_cleaner_mapping" ->
      """SELECT c_custkey,
        |  CASE c_mktsegment WHEN 'AUTOMOBILE' THEN 'auto' WHEN 'BUILDING' THEN 'bldg'
        |       WHEN 'FURNITURE' THEN 'furn' ELSE c_mktsegment END AS seg_mapped
        |FROM customer""".stripMargin,
    "q_cleaner_address" ->
      """SELECT s_suppkey,
        |  CASE CAST(s_suppkey % 4 AS INT) WHEN 0 THEN 'storgate 12' WHEN 1 THEN 'storgate 12'
        |       WHEN 2 THEN 'kirkeveien 3b' ELSE 'hovedveien 8' END AS addr_norm
        |FROM supplier""".stripMargin,
    "q_cleaner_person" -> {
      val nickList = "[" + nickKeys.map(k => s"'$k'").mkString(", ") + "]"
      val cases = nickKeys
        .map(k => s"WHEN '$k' THEN '${graft.core.Cleaners.nicknames(k)}'")
        .mkString(" ")
      val nick = s"($nickList)[CAST(c_custkey % ${nickKeys.size} AS INT) + 1]"
      val raw = s"($nick || ' ' || c_name || ' ' || upper($nick))"
      val norm = s"trim(regexp_replace(lower(strip_accents(trim($raw))), '[^a-z0-9]+', ' ', 'g'))"
      s"""SELECT c_custkey,
         |  array_to_string(list_transform(string_split($norm, ' '),
         |    t -> CASE t $cases ELSE t END), ' ') AS person_norm
         |FROM customer""".stripMargin
    },
    "q_set_ops" ->
      """SELECT c_custkey AS custkey, 'buyer' AS kind FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT c_custkey AS custkey, 'non_buyer' AS kind FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""".stripMargin,
    "q_best_match_agg" ->
      s"""WITH scored AS (
         |  SELECT c_custkey, s_suppkey,
         |         ${microSql(DuckSql.jaroWinklerUnboosted("c_name", "s_name"))} AS jw_micro
         |  $pairSetSql),
         |best AS (SELECT c_custkey, max(jw_micro) AS best_micro FROM scored GROUP BY 1)
         |SELECT s.c_custkey, b.best_micro, min(s.s_suppkey) AS best_suppkey
         |FROM scored s JOIN best b ON s.c_custkey = b.c_custkey AND s.jw_micro = b.best_micro
         |GROUP BY 1, 2""".stripMargin,
    "q_pair_soundex_phonetic" ->
      s"""SELECT c_custkey, s_suppkey,
         |  ${DuckSql.soundex("c_name")} AS sdx_a,
         |  CASE WHEN ${DuckSql.soundex("c_name")} = ${DuckSql.soundex("s_name")}
         |       THEN 1000000 ELSE 0 END AS sdx_eq_micro,
         |  ${DuckSql.norphone("c_name")} AS np_a,
         |  CASE WHEN ${DuckSql.norphone("c_name")} = ${DuckSql.norphone("s_name")}
         |       THEN 1000000 ELSE 0 END AS np_eq_micro
         |$pairSetSql""".stripMargin,
    "q_pair_jw_tokenized" ->
      s"""SELECT c_custkey, s_suppkey,
         |  ${microSql(DuckSql.jwTokenized("ta", "tb"))} AS jwt_micro
         |FROM (SELECT c_custkey, s_suppkey,
         |        ${DuckSql.wsTokens("c_name")} AS ta, ${DuckSql.wsTokens("s_name")} AS tb
         |      $pairSetSql)""".stripMargin,
    "q_pair_weighted_lev" ->
      s"""SELECT c_custkey, s_suppkey,
         |  ${microSql(DuckSql.weightedLevenshtein("c_name", "s_name"))} AS wlev_micro
         |$pairSetSql""".stripMargin,
    "q_pair_person_name" -> {
      val na = "chr(65 + c_nationkey % 26) || ' ' || c_name"
      val nb = "CASE WHEN c_custkey % 11 = 0 THEN c_name || ' ' || chr(65 + c_nationkey % 26) " +
        "WHEN c_custkey % 5 = 0 THEN chr(65 + c_nationkey % 26) || ' ' || s_name " +
        "ELSE s_name || ' ' || substr(s_name, 3, 1) END"
      s"""WITH ${DuckSql.personName2x2Ctes(na, nb, pairSetSql)}
         |SELECT c_custkey, s_suppkey,
         |  ${microSql(s"(${DuckSql.personName2x2Result})")} AS pn_micro
         |FROM greedy""".stripMargin
    },
    "q_pair_geo" -> {
      val sim = DuckSql.haversineSim(
        "CAST(c_custkey % 5 + 40 AS DOUBLE)", "CAST(c_custkey % 7 + 20 AS DOUBLE)",
        "CAST(s_suppkey % 5 + 40 AS DOUBLE)", "CAST(s_suppkey % 7 + 20 AS DOUBLE)",
        maxMeters = 1000000.0)
      s"""SELECT c_custkey, s_suppkey, ${microSql(sim)} AS geo_micro
         |$pairSetSql""".stripMargin
    },
    "q_pair_residual_sims" -> {
      // The two stateful kernels, loop-UNROLLED into flat CTE chains (see
      // the queries-side comment): metaphone codes computed once over the
      // distinct name vocabulary and joined back; the LCS removal loop
      // unrolled over the pair set; person = the single-token greedy path.
      val (mpCtes, mpRel) = DuckSql.metaphoneCtes(
        "(SELECT c_name AS word FROM customer UNION SELECT s_name FROM supplier)")
      val (lcsCtes, lcsRel, lcsCommon) = DuckSql.lcsRemovalCtes(
        Seq("c_custkey", "s_suppkey", "c_name", "s_name"),
        "c_name", "s_name", pairSetSql)
      val person = s"CASE WHEN p.c_name = p.s_name THEN 1.0 " +
        s"ELSE LEAST(0.95, ${DuckSql.tokenNameSim("p.c_name", "p.s_name")}) END"
      s"""WITH $mpCtes,
         |$lcsCtes
         |SELECT p.c_custkey, p.s_suppkey,
         |  ${microSql(person)} AS person_micro,
         |  ${microSql(s"CASE WHEN p.c_name = p.s_name THEN 1.0 WHEN tot = 0 THEN 0.0 ELSE 2.0 * $lcsCommon / tot END")} AS lcs_micro,
         |  CASE WHEN mc.code = ms.code THEN 1000000 ELSE 0 END AS mp_eq_micro
         |FROM $lcsRel p
         |JOIN $mpRel mc ON mc.word = p.c_name
         |JOIN $mpRel ms ON ms.word = p.s_name""".stripMargin
    })

  // ================= training-data pipeline ops (dedup / simsearch / text / multimodal) =================

  import TrainingOps._

  private def trainingQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    /** Document fingerprinting: deterministic rolling hash per doc, via the
      * codegen kernel expression (bit-identical to the HOF form and oracle).
      */
    "q_doc_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"), rolling_fp(col("text")).as("fp"))
    }),

    /** MinHash signatures (8) over word-3-shingle sets. */
    "q_minhash_signatures" -> ((s, dir) => {
      shingleFps(t(s, dir, "documents"))
        .selectExpr(Seq("doc_id") ++ (0 until 2 * nBands).map(i => s"${minhashSpark(i)} AS mh$i"): _*)
    }),

    /** MinHash-LSH near-dup candidate pairs: 4 bands of 2 signatures; verified
      * with true shingle-set Jaccard >= 0.8 (shingle -> minhash -> band ->
      * bucket-join -> verify). Verify-then-expand (VERDICT r3 #1): contraction
      * on the exact fps fingerprint (DedupJob's md5 discipline) makes group
      * members true duplicates, so Jaccard verifies REP pairs only — O(reps)
      * — and survivors expand by membership; within-group pairs carry
      * Jaccard(x,x) = 1 exactly (fps arrays are distinct by construction).
      */
    "q_lsh_near_dup_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // materialize signatures ONCE: bands (self-joined, 2 scans) + two fps
      // joins would otherwise re-run the per-character rolling-hash transform
      // up to 4× per document — at 100 TB that is 4 full corpus passes.
      // LAZY pin (optimization r6): the BandedPairs contraction pin is the
      // first consumer and scans sigs exactly once, so the signatures
      // materialize inside that job — the old eager pin was a whole extra
      // sequential job computing the same thing.
      val sigs = graft.io.Persist.pinLazy(bandedFps(docs, nBands))
      graft.pipeline.BandedPairs.verifiedPairs(
        // null/empty-fps rows are excluded BEFORE contraction: concat_ws
        // silently maps both to "", which would merge every degenerate doc
        // into one key group emitted as unverified 'perfect' pairs — the old
        // expand-then-verify path filtered them via NULL jaccard. (The
        // shingle kernel never emits an empty array — short docs fall back
        // to [fp(text)] — but the guard must not depend on that.)
        sigs.where(size(col("fps")) > 0)
          .selectExpr("doc_id AS id", "fps", s"${bandArray(nBands)} AS bands"),
        key = md5(concat_ws(",", col("fps"))),
        selfSims = Seq(lit(1000000L).as("jacc_micro")),
        cfg = config.pairCfg) { reps =>
        // fps arrays re-attach to REP pairs only, AFTER the narrow id-only
        // candidate generation — the verify join is bounded by the rep count
        jaccardVerify(reps, sigs, sigs, config.jaccardMinMicro)
      }
    }),

    /** SimHash (64-bit: hi/lo 32-bit halves) over distinct token fingerprints,
      * one independent ±1 parity hash per bit (TrainingOps.simhashBitSpark).
      */
    "q_simhash" -> ((s, dir) => {
      val lo = (0 until 32).map(simhashBitSpark).mkString(" + ")
      val hi = (32 until 64).map(simhashBitSpark).mkString(" + ")
      t(s, dir, "documents")
        .selectExpr("doc_id", s"array_distinct(transform($toksSpark, t -> ${fpSqlSpark("t")})) AS tokfps")
        .selectExpr("doc_id",
          s"CAST($lo AS BIGINT) AS simhash_lo",
          s"CAST($hi AS BIGINT) AS simhash_hi")
    }),

    /** SimHash near-dup pairs: 64-bit codes over word-3-shingle fingerprints
      * (unigram tokens saturate — the corpus shares its vocabulary, so every
      * doc pair landed under any sane hamming radius; shingles carry order +
      * content, aligning this op with the MinHash-LSH universe), banded into
      * 4×16-bit sub-keys (pigeonhole: hamming ≤ 3 ⇒ ≥1 band agrees exactly —
      * bucket-bounded, never all-pairs); verify = exact hamming ≤ 3.
      */
    "q_simhash_near_dup" -> ((s, dir) => {
      // one simhash pass; bands + verify reuse it (lazy pin — materialized
      // by the contraction pin's job, see q_lsh_near_dup_pairs)
      val codes = graft.io.Persist.pinLazy(shingleFps(t(s, dir, "documents"))
        .select(col("doc_id"), simhash64(col("fps")).as("code"))
        .select(col("doc_id"),
          col("code").getItem(0).as("sl"), col("code").getItem(1).as("sh")))
      // 4×16-bit pigeonhole sub-keys -> salted/capped banded join. Here the
      // verify payload IS the 64-bit code and the bands exactly partition it,
      // so the code doubles as the exact contraction key: code-equal groups
      // have hamming 0 by construction, and rep-level hamming transfers to
      // every member pair (verify-then-expand, VERDICT r3 #1)
      graft.pipeline.BandedPairs.verifiedPairs(
        // null codes can't be banded or verified (bit_count(null) filtered
        // them in the old path) — and concat_ws skips nulls, which would
        // merge (null, x) and (x, null) codes into one 'exact' key group
        codes.where(col("sl").isNotNull && col("sh").isNotNull)
          .selectExpr("doc_id AS id", "sl", "sh",
            "array(sl % 65536, shiftright(sl, 16), sh % 65536, shiftright(sh, 16)) AS bands"),
        key = concat_ws(":", col("sl"), col("sh")),
        selfSims = Seq(lit(0L).as("hamming")),
        cfg = config.pairCfg) { reps =>
        reps
          .join(codes.select(col("doc_id").as("a_id"), col("sl").as("la"), col("sh").as("ha")), "a_id")
          .join(codes.select(col("doc_id").as("b_id"), col("sl").as("lb"), col("sh").as("hb")), "b_id")
          .withColumn("hamming",
            expr("CAST(bit_count(la ^ lb) + bit_count(ha ^ hb) AS BIGINT)"))
          .where(col("hamming") <= config.hammingMax)
          .select(col("a_id"), col("b_id"), col("hamming"))
      }
    }),

    /** n-gram Jaccard near-dup scoring between consecutive docs (char trigrams). */
    "q_ngram_jaccard" -> ((s, dir) => {
      def g3(c: String) =
        s"CASE WHEN length($c) < 3 THEN array($c) ELSE " +
          s"array_distinct(transform(sequence(1, length($c) - 2), i -> substring($c, i, 3))) END"
      val d = t(s, dir, "documents")
      val a = d.selectExpr("doc_id AS a_id", s"${g3("text")} AS ga")
      val b = d.selectExpr("doc_id AS b_id", s"${g3("text")} AS gb")
      withJaccardMicro(a.join(b, col("b_id") === col("a_id") + 1), "ga", "gb")
        .select(col("a_id"), col("b_id"), col("jacc_micro"))
    }),

    /** Brute-force cosine top-k (the ANN baseline): 8 query vectors vs all. */
    "q_embed_cosine_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), vec_norm(col("embedding")).as("nrm"))
      val q = e.where(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn"))
      val c = e.select(col("vec_id").as("cid"), col("embedding").as("cv"), col("nrm").as("cn"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos_micro").desc, col("cid"))
      q.crossJoin(c).where(col("qid") =!= col("cid"))
        .withColumn("cos_micro", cosMicro("qv", "cv", "qn", "cn"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 5)
        .select(col("qid"), col("cid"), col("rk").cast("long"), col("cos_micro"))
    }),

    /** Sign-LSH banded multi-probe ANN (the scale path): `annBands` bands of
      * `annPlanesPerBand` hyperplanes each; a pair is a candidate when ANY
      * band's bucket agrees (recall from bands, task-size bound from buckets);
      * exact cosine re-ranks within candidates. Candidate ids dedup BEFORE the
      * vectors re-attach — same discipline as the MinHash-LSH path.
      */
    "q_embed_ann_lsh" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "embeddings").select(
        Seq(col("vec_id"), col("embedding"), vec_norm(col("embedding")).as("nrm")) ++
          (0 until annBands).map(bn =>
            sign_lsh_bucket(col("embedding"), bn, annPlanesPerBand).as(s"band$bn")): _*)
      val bandArr = s"array(${(0 until annBands).map(bn => s"band$bn").mkString(",")})"
      val buckets = e.selectExpr("vec_id", s"posexplode($bandArr) AS (band_ix, bucket)")
      val cand = buckets.where(col("vec_id") < 8).select(col("vec_id").as("qid"), col("band_ix"), col("bucket"))
        .join(buckets.select(col("vec_id").as("cid"), col("band_ix"), col("bucket")),
          Seq("band_ix", "bucket"))
        .where(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid")).distinct()
      val vecs = e.select(col("vec_id"), col("embedding"), col("nrm"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos_micro").desc, col("cid"))
      cand
        .join(vecs.select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn")), "qid")
        .join(vecs.select(col("vec_id").as("cid"), col("embedding").as("cv"), col("nrm").as("cn")), "cid")
        .withColumn("cos_micro", cosMicro("qv", "cv", "qn", "cn"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("qid"), col("cid"), col("rk").cast("long"), col("cos_micro"))
    }),

    /** IVF ANN (the other scale path): fixed deterministic coarse quantizer
      * (centroids = vec_id < 16 — a k-means fit would sum doubles in
      * partial-agg order, breaking both determinism and the oracle), each
      * vector assigned to its nearest centroid (inverted lists), queries
      * multi-probe their 2 nearest lists, exact cosine re-ranks. Assignment is
      * a broadcast join against K centroids — one narrow pass over the corpus,
      * candidate volume ~ nProbe/K of brute force.
      */
    "q_embed_ann_ivf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), vec_norm(col("embedding")).as("nrm"))
      val cents = e.where(col("vec_id") < config.ivfCentroids)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cv"), col("nrm").as("cn"))
      val affinities = e.join(broadcast(cents))
        .withColumn("cos_micro", cosMicro("embedding", "cv", "nrm", "cn"))
        .select(col("vec_id"), col("cent_id"), col("cos_micro"))
      // assignment argmax as a partial-aggregatable max_by instead of a
      // rk=1 window over ALL affinities (optimization r6, guide §2.3): the
      // window sorted+shuffled |corpus|·K rows; max_by reduces map-side to
      // |corpus| rows. The probe ranking still needs a window (top
      // `ivfProbes` per query), but only over the 8 query vectors' K
      // affinities after pushdown — not the whole corpus. Identical rows:
      // max (cos desc, cent_id asc) is the crk=1 ordering.
      val aw = Window.partitionBy(col("vec_id")).orderBy(col("cos_micro").desc, col("cent_id"))
      val lists = affinities.groupBy(col("vec_id"))
        .agg(max_by(col("cent_id"),
          struct(col("cos_micro"), (-col("cent_id")).as("neg"))).as("cent_id"))
        .select(col("vec_id").as("cid"), col("cent_id"))
      val probes = affinities.where(col("vec_id") < 8)
        .withColumn("crk", row_number().over(aw))
        .where(col("crk") <= config.ivfProbes)
        .select(col("vec_id").as("qid"), col("cent_id"))
      // no distinct (optimization r6, guide §2.4 "a distinct on data that is
      // already unique"): every cid sits in exactly ONE inverted list (crk=1
      // argmax) and a query's probes are distinct cent_ids (row_number), so
      // each (qid, cid) arises at most once from the probe join
      val cand = probes.join(lists, "cent_id")
        .where(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos_micro").desc, col("cid"))
      cand
        .join(e.select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn")), "qid")
        .join(e.select(col("vec_id").as("cid"), col("embedding").as("cv2"), col("nrm").as("cn2")), "cid")
        .withColumn("cos_micro", cosMicro("qv", "cv2", "qn", "cn2"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("qid"), col("cid"), col("rk").cast("long"), col("cos_micro"))
    }),

    /** Embedding-cosine near-dup pairs (dedup op): sign-LSH buckets bound the
      * candidate space; verify with exact cosine >= 0.30 within buckets (the synthetic embeddings plant no true dups; 0.30 is the top-1% tail, demonstrating the operator shape).
      */
    "q_embed_near_dup" -> ((s, dir) => {
      // lazy pin — materialized by the contraction pin's job (see
      // q_lsh_near_dup_pairs)
      val e = graft.io.Persist.pinLazy(t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          sign_lsh_bucket(col("embedding"), 0, config.nearDupPlanes).as("bucket"),
          vec_norm(col("embedding")).as("nrm")))
      // single-band bucket scheme -> same salted/capped discipline (a hot
      // bucket of near-identical embeddings is the dup-heavy case here).
      // Contraction on the exact vector (stringified floats — bit-faithful):
      // identical embeddings share cos = 1 (micro-rounds to exactly 10⁶:
      // double-accumulated dot, |cos(x,x)−1| ~ 1e-15 ≪ the 5e-7 rounding
      // slack), so cosine verifies rep pairs only and survivors expand
      graft.pipeline.BandedPairs.verifiedPairs(
        // zero-norm (or null) embeddings never pair in the old path (cosine
        // NaN filtered); excluding them here keeps selfSims = cos(x,x) = 1
        // truthful for every surviving key group
        e.where(col("nrm") > 0)
          .selectExpr("vec_id AS id", "embedding", "array(bucket) AS bands"),
        // array_join with an explicit null sentinel (ADVICE r4): concat_ws
        // silently SKIPS null elements, so [1.0,null,2.0] and [1.0,2.0]
        // would share a contraction key and surface as unverified
        // cos_micro=1e6 pairs; array_join keeps null slots distinct —
        // the same null-preserving discipline as bandVectorKey
        key = md5(array_join(col("embedding").cast("array<string>"), ",", "null")),
        selfSims = Seq(lit(1000000L).as("cos_micro")),
        cfg = config.pairCfg,
        // bands = array(bucket): single-band scheme, rep pairs are already
        // distinct — skip the dedup shuffle (BandedPairs.verifiedPairs)
        singleBand = true) { reps =>
        reps
          .join(e.select(col("vec_id").as("a_id"), col("embedding").as("va"), col("nrm").as("na")), "a_id")
          .join(e.select(col("vec_id").as("b_id"), col("embedding").as("vb"), col("nrm").as("nb")), "b_id")
          .withColumn("cos_micro", cosMicro("va", "vb", "na", "nb"))
          .where(col("cos_micro") >= config.cosineMinMicro)
          .select(col("a_id"), col("b_id"), col("cos_micro"))
      }
    }),

    /** Language ID: stopword-hit argmax heuristic. */
    "q_lang_id" -> ((s, dir) => {
      t(s, dir, "documents").selectExpr(
        "doc_id",
        s"CAST(${langHitsSpark("en")} AS BIGINT) AS en_hits",
        s"CAST(${langHitsSpark("es")} AS BIGINT) AS es_hits",
        s"${langIdSql(langHitsSpark)} AS lang_guess")
    }),

    /** Quality scoring: token counts, alpha/stopword ratios, composite score
      * (rational arithmetic only — no transcendentals, oracle-reproducible).
      */
    "q_quality_score" -> ((s, dir) => {
      t(s, dir, "documents").selectExpr(
        "doc_id",
        s"CAST($nToksSpark AS BIGINT) AS n_tokens",
        s"CAST(FLOOR(CAST($alphaToksSpark AS DOUBLE) / $nToksSpark * 1e6 + 0.5) AS BIGINT) AS alpha_ratio_micro",
        s"$qualityMicroSpark AS quality_micro")
    }),

    /** Token counting: whitespace tokens + BPE-ish pretokenizer pieces (runs
      * of letters / digits / single other-symbols, the GPT-2-style split) +
      * alpha tokens + chars.
      */
    "q_token_count" -> ((s, dir) => {
      t(s, dir, "documents").selectExpr(
        "doc_id",
        s"CAST($nToksSpark AS BIGINT) AS n_ws_tokens",
        s"CAST($alphaToksSpark AS BIGINT) AS n_alpha_tokens",
        """CAST(size(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]', 0)) AS BIGINT) AS n_bpe_pieces""",
        "CAST(length(text) AS BIGINT) AS n_chars")
    }),

    /** Media metadata over an opaque binary column: byte length, a coarse
      * kind and placeholder dimensions derived from the length (no media
      * codec is involved; media spans take part in matching only through
      * exact comparators on `media_ref`).
      */
    "q_media_meta" -> ((s, dir) => {
      t(s, dir, "documents")
        .selectExpr("doc_id", "encode(text, 'UTF-8') AS media_bytes")
        .selectExpr(
          "doc_id",
          "CAST(octet_length(media_bytes) AS BIGINT) AS n_bytes",
          "CASE CAST(octet_length(media_bytes) % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind",
          "CAST(octet_length(media_bytes) % 640 AS BIGINT) AS fake_width",
          "CAST(octet_length(media_bytes) % 480 AS BIGINT) AS fake_height")
    }))

  private def trainingOracles: Map[String, String] = Map(
    "q_doc_fingerprint" ->
      s"SELECT doc_id, ${fpSqlDuck("text")} AS fp FROM documents",
    "q_minhash_signatures" ->
      s"""SELECT doc_id, ${(0 until 2 * nBands).map(i =>
        s"list_min(list_transform(fps, f -> (${2 * i + 1} * f + ${7919 * i + 13}) % 1000000007)) AS mh$i").mkString(", ")}
         |FROM (SELECT doc_id, $shingleFpsDuck AS fps FROM documents)""".stripMargin,
    "q_lsh_near_dup_pairs" ->
      s"""WITH sigs AS (
         |  SELECT doc_id, fps, ${(0 until nBands).map(j =>
        s"${minhashBandDuck(j)} AS band$j").mkString(", ")}
         |  FROM (SELECT doc_id, $shingleFpsDuck AS fps FROM documents)),
         |bands AS (${(0 until nBands).map(j =>
        s"SELECT doc_id, fps, $j AS band_ix, band$j AS band_val FROM sigs").mkString(" UNION ALL ")}),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.fps AS fa, b.fps AS fb
         |  FROM bands a JOIN bands b
         |    ON a.band_ix = b.band_ix AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
         |SELECT DISTINCT a_id, b_id,
         |       CAST(FLOOR(CAST(len(list_intersect(fa, fb)) AS DOUBLE)
         |         / (len(fa) + len(fb) - len(list_intersect(fa, fb))) * 1e6 + 0.5) AS BIGINT) AS jacc_micro
         |FROM cand
         |WHERE CAST(FLOOR(CAST(len(list_intersect(fa, fb)) AS DOUBLE)
         |  / (len(fa) + len(fb) - len(list_intersect(fa, fb))) * 1e6 + 0.5) AS BIGINT) >= ${config.jaccardMinMicro}""".stripMargin,
    "q_simhash" -> {
      val lo = (0 until 32).map(simhashBitDuck).mkString(" + ")
      val hi = (32 until 64).map(simhashBitDuck).mkString(" + ")
      s"""SELECT doc_id, CAST($lo AS BIGINT) AS simhash_lo, CAST($hi AS BIGINT) AS simhash_hi
         |FROM (SELECT doc_id, list_distinct(list_transform($toksDuck, t -> ${fpSqlDuck("t")})) AS tokfps
         |      FROM documents)""".stripMargin
    },
    "q_simhash_near_dup" -> {
      val lo = (0 until 32).map(simhashBitDuck).mkString(" + ")
      val hi = (32 until 64).map(simhashBitDuck).mkString(" + ")
      s"""WITH codes AS (
         |  SELECT doc_id, CAST($lo AS BIGINT) AS sl, CAST($hi AS BIGINT) AS sh
         |  FROM (SELECT doc_id, $shingleFpsDuck AS tokfps FROM documents)),
         |bands AS (
         |  SELECT doc_id, 0 AS band_ix, sl % 65536 AS band_val FROM codes UNION ALL
         |  SELECT doc_id, 1, sl >> 16 FROM codes UNION ALL
         |  SELECT doc_id, 2, sh % 65536 FROM codes UNION ALL
         |  SELECT doc_id, 3, sh >> 16 FROM codes),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band_ix = b.band_ix AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
         |SELECT a_id, b_id,
         |       CAST(bit_count(xor(ca.sl, cb.sl)) + bit_count(xor(ca.sh, cb.sh)) AS BIGINT) AS hamming
         |FROM cand JOIN codes ca ON ca.doc_id = a_id JOIN codes cb ON cb.doc_id = b_id
         |WHERE bit_count(xor(ca.sl, cb.sl)) + bit_count(xor(ca.sh, cb.sh)) <= ${config.hammingMax}""".stripMargin
    },
    "q_ngram_jaccard" -> {
      def g3(c: String) =
        s"CASE WHEN length($c) < 3 THEN [$c] ELSE " +
          s"list_distinct(list_transform(generate_series(1, length($c) - 2), i -> substr($c, i, 3))) END"
      s"""SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(FLOOR(CAST(len(list_intersect(${g3("a.text")}, ${g3("b.text")})) AS DOUBLE)
         |    / (len(${g3("a.text")}) + len(${g3("b.text")}) - len(list_intersect(${g3("a.text")}, ${g3("b.text")})))
         |    * 1e6 + 0.5) AS BIGINT) AS jacc_micro
         |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1""".stripMargin
    },
    "q_embed_cosine_topk" ->
      s"""SELECT qid, cid, rk, cos_micro FROM (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid,
         |         CAST(FLOOR((${cosDuck("q.embedding", "c.embedding")}) * 1e6 + 0.5) AS BIGINT) AS cos_micro,
         |         row_number() OVER (PARTITION BY q.vec_id
         |           ORDER BY CAST(FLOOR((${cosDuck("q.embedding", "c.embedding")}) * 1e6 + 0.5) AS BIGINT) DESC,
         |                    c.vec_id) AS rk
         |  FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND q.vec_id <> c.vec_id)
         |WHERE rk <= 5""".stripMargin,
    "q_embed_ann_lsh" -> {
      val bandCols = (0 until annBands).map(bn =>
        s"CAST(${lshBandDuck("embedding", bn, annPlanesPerBand)} AS BIGINT) AS band$bn").mkString(", ")
      val bandRows = (0 until annBands).map(bn =>
        s"SELECT vec_id, $bn AS band_ix, band$bn AS bucket FROM banded").mkString(" UNION ALL ")
      s"""WITH banded AS (SELECT vec_id, embedding, $bandCols FROM embeddings),
         |buckets AS ($bandRows),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
         |  FROM buckets q JOIN buckets c
         |    ON q.band_ix = c.band_ix AND q.bucket = c.bucket
         |   AND q.vec_id < 8 AND q.vec_id <> c.vec_id)
         |SELECT qid, cid, rk, cos_micro FROM (
         |  SELECT qid, cid,
         |         CAST(FLOOR((${cosDuck("q.embedding", "c.embedding")}) * 1e6 + 0.5) AS BIGINT) AS cos_micro,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY CAST(FLOOR((${cosDuck("q.embedding", "c.embedding")}) * 1e6 + 0.5) AS BIGINT) DESC,
         |                    cid) AS rk
         |  FROM cand JOIN embeddings q ON q.vec_id = qid
         |            JOIN embeddings c ON c.vec_id = cid)
         |WHERE rk <= 3""".stripMargin
    },
    "q_embed_ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |aff AS (
         |  SELECT v.vec_id, c.vec_id AS cent_id,
         |         CAST(FLOOR((${cosDuck("v.embedding", "c.embedding")}) * 1e6 + 0.5) AS BIGINT) AS cos_micro
         |  FROM e v JOIN e c ON c.vec_id < ${config.ivfCentroids}),
         |ranked AS (
         |  SELECT vec_id, cent_id, cos_micro,
         |         row_number() OVER (PARTITION BY vec_id
         |                            ORDER BY cos_micro DESC, cent_id) AS crk
         |  FROM aff),
         |lists AS (SELECT vec_id AS cid, cent_id FROM ranked WHERE crk = 1),
         |probes AS (SELECT vec_id AS qid, cent_id FROM ranked WHERE vec_id < 8 AND crk <= ${config.ivfProbes}),
         |cand AS (
         |  SELECT DISTINCT qid, cid FROM probes JOIN lists USING (cent_id)
         |  WHERE qid <> cid)
         |SELECT qid, cid, rk, cos_micro FROM (
         |  SELECT qid, cid,
         |         CAST(FLOOR((${cosDuck("q.embedding", "c.embedding")}) * 1e6 + 0.5) AS BIGINT) AS cos_micro,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY CAST(FLOOR((${cosDuck("q.embedding", "c.embedding")}) * 1e6 + 0.5) AS BIGINT) DESC,
         |                    cid) AS rk
         |  FROM cand JOIN e q ON q.vec_id = qid JOIN e c ON c.vec_id = cid)
         |WHERE rk <= 3""".stripMargin,
    "q_embed_near_dup" ->
      s"""WITH bucketed AS (
         |  SELECT vec_id, embedding, CAST(${lshBucketDuck("embedding", config.nearDupPlanes)} AS BIGINT) AS bucket
         |  FROM embeddings)
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |       CAST(FLOOR((${cosDuck("a.embedding", "b.embedding")}) * 1e6 + 0.5) AS BIGINT) AS cos_micro
         |FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE CAST(FLOOR((${cosDuck("a.embedding", "b.embedding")}) * 1e6 + 0.5) AS BIGINT) >= ${config.cosineMinMicro}""".stripMargin,
    "q_lang_id" ->
      s"""SELECT doc_id,
         |  CAST(${langHitsDuck("en")} AS BIGINT) AS en_hits,
         |  CAST(${langHitsDuck("es")} AS BIGINT) AS es_hits,
         |  ${langIdSql(langHitsDuck)} AS lang_guess
         |FROM documents""".stripMargin,
    "q_quality_score" -> {
      val nTok = s"len($toksDuck)"
      val nAlpha = s"len(list_filter($toksDuck, x -> regexp_full_match(x, '[a-z]+')))"
      val stop = langHitsDuck("en")
      s"""SELECT doc_id,
         |  CAST($nTok AS BIGINT) AS n_tokens,
         |  CAST(FLOOR(CAST($nAlpha AS DOUBLE) / $nTok * 1e6 + 0.5) AS BIGINT) AS alpha_ratio_micro,
         |  CAST(FLOOR((LEAST($nTok, 100) / 100.0 * 0.5 + CAST($stop AS DOUBLE) / $nTok * 0.3
         |    + CAST($nAlpha AS DOUBLE) / $nTok * 0.2) * 1e6 + 0.5) AS BIGINT) AS quality_micro
         |FROM documents""".stripMargin
    },
    "q_token_count" ->
      s"""SELECT doc_id,
         |  CAST(len($toksDuck) AS BIGINT) AS n_ws_tokens,
         |  CAST(len(list_filter($toksDuck, x -> regexp_full_match(x, '[a-z]+'))) AS BIGINT) AS n_alpha_tokens,
         |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_bpe_pieces,
         |  CAST(length(text) AS BIGINT) AS n_chars
         |FROM documents""".stripMargin,
    "q_media_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CASE CAST(octet_length(encode(text)) % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(octet_length(encode(text)) % 640 AS BIGINT) AS fake_width,
        |  CAST(octet_length(encode(text)) % 480 AS BIGINT) AS fake_height
        |FROM documents""".stripMargin)
}
