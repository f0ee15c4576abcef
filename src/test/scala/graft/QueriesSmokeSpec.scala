package graft

/** Driver-contract smoke: `SparkEntry.entry` returns rows, and every catalog
  * query runs against the sf0.001 testdata with a sane non-empty result and an
  * oracle entry (the DuckDB value-level diff itself is the driver's job).
  */
class QueriesSmokeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val available = new java.io.File(sfDir).isDirectory

  test("entry: flagship ER pipeline yields clusters") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.toSeq === Seq("doc_id", "cluster_id"))
    assert(df.count() > 0)
  }

  test("every oracle has a query; every query has an oracle") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    // since round 5, NO rows-only queries remain: the last residual
    // (q_pair_residual_sims) is oracled via loop-unrolled flat SQL
    // (DuckSql.metaphoneCtes / lcsRemovalCtes)
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly === Set.empty,
      s"unexpected rows-only queries: $rowsOnly")
  }

  // legitimately empty at sf0.001 (e.g. one supplier per nation -> no pairs);
  // non-empty is asserted at sf0.01+ by the driver's verify stage
  private val mayBeEmptyAtSmallestSf = Set("q_selfjoin_pairs_per_block")

  test("all catalog queries execute on sf0.001 and return rows") {
    assume(available, s"$sfDir not present")
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries.foreach { case (name, fn) =>
      try {
        val n = fn(spark, sfDir).count()
        if (n <= 0 && !mayBeEmptyAtSmallestSf(name)) failures += s"$name: 0 rows"
      } catch {
        case e: Throwable => failures += s"$name: ${e.getClass.getSimpleName} ${e.getMessage}"
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("a dropped session that planned catalog queries is reclaimed") {
    assume(available, s"$sfDir not present")
    var session = spark.newSession()
    // construction reads the table schemas into the memo; planning alone,
    // because an action's new pool threads inherit the session as their
    // active one and hold it until they idle out (60 s)
    Seq("q_cleaner_chain", "q_pair_levenshtein").foreach { q =>
      assert(SparkEntry.queries(q)(session, sfDir).queryExecution.executedPlan != null)
    }
    val ref = new java.lang.ref.WeakReference(session)
    session = null
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    while (ref.get != null && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(50)
    }
    assert(ref.get == null, "the session is still strongly reachable")
  }
}
