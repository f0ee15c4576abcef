package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Cleaners, Duke, Phonetics, Similarity}
import graft.expr.{CleanExpr, SimExpr}
import graft.expr.functions._
import graft.model.MatchConfig

/** Catalyst expression layer vs the pure kernel (SURVEY.md §2.10, §7.3 M5):
  * the codegen'd SimExpr/CleanExpr/PhoneticExpr and the composed duke_score
  * Column must reproduce graft.core bit for bit, through both the
  * whole-stage-codegen and interpreted paths.
  */
class ExpressionsSpec extends SparkSpec {

  private def words(seed: Int, n: Int): Seq[String] = {
    val r = new scala.util.Random(seed)
    val chars = "abcdefgh METAÅé 0123,.-'"
    (0 until n).map(_ => (0 until r.nextInt(14)).map(_ => chars(r.nextInt(chars.length))).mkString)
  }

  private val boundA = BoundReference(0, StringType, nullable = true)
  private val boundB = BoundReference(1, StringType, nullable = true)

  /** Every comparator-table row as a SimExpr over (input 0, input 1), with
    * the table function it must match: each config name of a row (short,
    * Duke class, bare class) through `functions.sim`, and rows without one
    * by method.
    */
  private lazy val tableExprs: Seq[(String, SimExpr, (String, String) => Double)] =
    Similarity.comparators.flatMap { c =>
      val p = c.defaults.toArray
      val names = Similarity.registry.collect { case (n, r) if r eq c => n }.toSeq.sorted
      val exprs =
        if (names.isEmpty) Seq(c.method -> SimExpr(boundA, boundB, c.method))
        else names.map(n => n -> graftshim.expression(sim(n, col("a"), col("b")))
          .asInstanceOf[SimExpr].copy(left = boundA, right = boundB))
      exprs.map { case (n, e) => (n, e, (x: String, y: String) => c.fn(x, y, p)) }
    }

  private def utf8Row(x: String, y: String) =
    InternalRow(UTF8String.fromString(x), UTF8String.fromString(y))

  private lazy val pairDf = {
    val ws = words(23, 40)
    val pairs = for (a <- ws; b <- ws.take(20)) yield (a, b)
    spark.createDataFrame(pairs).toDF("a", "b")
  }

  test("SimExpr matches the kernel for every comparator (codegen path)") {
    val exprs = Seq[(String, org.apache.spark.sql.Column, (String, String) => Double)](
      ("jaro_winkler", sim_jaro_winkler(col("a"), col("b")), Similarity.jaroWinkler),
      ("jaro", sim_jaro(col("a"), col("b")), Similarity.jaro),
      ("levenshtein", sim_levenshtein(col("a"), col("b")), Similarity.levenshteinSim),
      ("lev_cutoff", sim_levenshtein_cutoff(col("a"), col("b")), Similarity.levenshteinSimCutoff),
      ("qgram", sim_qgram(col("a"), col("b"), 2, 1), Similarity.qgramDice),
      ("qgram3j", sim_qgram(col("a"), col("b"), 3, 2),
        (x: String, y: String) => Similarity.qgramSim(x, y, 3, Similarity.FormulaJaccard)),
      ("dice", sim_dice(col("a"), col("b")), Similarity.diceToken),
      ("jaccard", sim_jaccard(col("a"), col("b")), Similarity.jaccardToken),
      ("numeric", sim_numeric(col("a"), col("b")), Similarity.numericSim),
      ("wlev", sim_weighted_levenshtein(col("a"), col("b"), 2.0),
        (x: String, y: String) => Similarity.weightedLevenshteinSim(x, y, 2.0)),
      ("exact", sim_exact(col("a"), col("b")), Similarity.exact),
      ("soundex", sim_soundex(col("a"), col("b")), Similarity.soundexEq),
      ("metaphone", sim_metaphone(col("a"), col("b")), Similarity.metaphoneEq),
      ("person", sim_person_name(col("a"), col("b")), Similarity.personNameSim),
      ("lcs", sim_lcs(col("a"), col("b")), Similarity.lcsSim),
      ("jwt", sim_jaro_winkler_tokenized(col("a"), col("b")), Similarity.jaroWinklerTokenized))

    val out = pairDf.select(col("a") +: col("b") +: exprs.map { case (n, c, _) => c.as(n) }: _*)
      .collect()
    for (row <- out; ((name, _, fn), ix) <- exprs.zipWithIndex) {
      val a = row.getString(0); val b = row.getString(1)
      val got = row.getDouble(2 + ix)
      val want = fn(a, b)
      assert(got === want, s"$name('$a','$b'): expr=$got kernel=$want")
    }

    // the whole comparator table, every alias: generated code (compiled
    // directly — janino errors throw here instead of falling back to the
    // interpreter) == the table function
    val names = tableExprs.map(_._1).toSet
    for (c <- Similarity.comparators; n <- Seq(c.name, c.dukeClass) if n.nonEmpty)
      assert(names(n), s"table row $n not covered")
    val proj = GenerateUnsafeProjection.generate(tableExprs.map(_._2))
    val ws = words(23, 40)
    for (x <- ws; y <- ws.take(20)) {
      val row = proj(utf8Row(x, y))
      for (((name, _, fn), ix) <- tableExprs.zipWithIndex)
        assert(row.getDouble(ix) === fn(x, y), s"$name('$x','$y'): codegen vs table")
    }
    // aliases of a row build the same expression (prettyName, args)
    for ((_, rows) <- tableExprs.groupBy(_._2.method))
      assert(rows.map(_._2).distinct.size === 1, rows.map(_._1))
  }

  test("CleanExpr + PhoneticExpr match the kernel; nulls propagate") {
    val ws = words(31, 60) :+ null
    val df = spark.createDataFrame(ws.map(Tuple1(_))).toDF("s")
    val out = df.select(
      col("s"),
      clean("lowercase-normalize", col("s")).as("norm"),
      clean_chain(Seq("trim", "lowercase-normalize"), col("s")).as("chain"),
      clean("digits-only", col("s")).as("digits"),
      soundex_code(col("s")).as("sdx"),
      metaphone_code(col("s")).as("mp"),
      norphone_code(col("s")).as("np")).collect()
    for (row <- out) {
      val s = row.getString(0)
      if (s == null) (1 to 6).foreach(i => assert(row.isNullAt(i), s"col $i not null for null input"))
      else {
        assert(row.getString(1) === Cleaners.lowerCaseNormalize(s))
        assert(row.getString(2) === Cleaners.chain(Seq("trim", "lowercase-normalize"), s))
        assert(row.getString(3) === Cleaners.digitsOnly(s))
        assert(row.getString(4) === Phonetics.soundex(s))
        assert(row.getString(5) === Phonetics.metaphone(s))
        assert(row.getString(6) === Phonetics.norphone(s))
      }
    }
  }

  test("interpreted (non-codegen) eval agrees with the codegen path") {
    // evaluate the raw expressions through catalyst's InterpretedProjection —
    // no session-wide codegen conf mutation (other suites share the session)
    val proj = new InterpretedProjection(Seq(
      SimExpr(boundA, boundB, "jaroWinkler"),
      SimExpr(boundA, boundB, "qgramSimD", Seq(3.0, 2.0)),
      CleanExpr(boundA, "lowercase-normalize")))
    val ws = words(57, 30)
    for (x <- ws; y <- ws.take(10)) {
      val row = proj(utf8Row(x, y))
      assert(row.getDouble(0) === Similarity.jaroWinkler(x, y))
      assert(row.getDouble(1) === Similarity.qgramSim(x, y, 3, Similarity.FormulaJaccard))
      assert(row.getUTF8String(2).toString === Cleaners.lowerCaseNormalize(x))
    }
    val nullRow = proj(InternalRow(null, UTF8String.fromString("x")))
    assert(nullRow.isNullAt(0) && nullRow.isNullAt(1) && nullRow.isNullAt(2))

    // the whole comparator table, every alias: interpreted == codegen == table
    val interp = new InterpretedProjection(tableExprs.map(_._2))
    val gen = GenerateUnsafeProjection.generate(tableExprs.map(_._2))
    for (x <- ws; y <- ws.take(10)) {
      val i = interp(utf8Row(x, y))
      val g = gen(utf8Row(x, y))
      for (((name, _, fn), ix) <- tableExprs.zipWithIndex) {
        assert(i.getDouble(ix) === fn(x, y), s"$name('$x','$y'): interpreted vs table")
        assert(i.getDouble(ix) === g.getDouble(ix), s"$name('$x','$y'): interpreted vs codegen")
      }
    }
  }

  test("sim fills missing trailing params from the table's defaults") {
    // q given, formula left out: Dice, the comparator's default formula —
    // through the Column API, codegen and the interpreted fallback alike
    def want(x: String, y: String) = Similarity.qgramSim(x, y, 3, Similarity.FormulaDice)
    val out = pairDf.select(col("a"), col("b"), sim("qgram", col("a"), col("b"), Seq(3.0)))
      .collect()
    for (r <- out) assert(r.getDouble(2) === want(r.getString(0), r.getString(1)))
    val partial = Seq(SimExpr(boundA, boundB, "qgramSimD", Seq(3.0)))
    val gen = GenerateUnsafeProjection.generate(partial)
    val interp = new InterpretedProjection(partial)
    for (x <- words(61, 20); y <- words(62, 10)) {
      assert(gen(utf8Row(x, y)).getDouble(0) === want(x, y))
      assert(interp(utf8Row(x, y)).getDouble(0) === want(x, y))
    }
  }

  test("SQL registration exposes sim_*/clean_* to spark.sql") {
    register(spark)
    val r = spark.sql(
      "SELECT sim_jaro_winkler('MARTHA','MARHTA') AS jw, clean_lowercase_normalize('  A B ') AS n")
      .collect()(0)
    assert(r.getDouble(0) === Similarity.jaroWinkler("MARTHA", "MARHTA"))
    assert(r.getString(1) === "a b")
  }

  test("duke_score Column == CompiledConfig.score on multi-valued records") {
    val config = MatchConfig.fixture
    val cc = Duke.compile(config)
    val r = new scala.util.Random(41)
    def vals(n: Int, f: () => String): Seq[String] = Seq.fill(n)(f())
    val rows = (1 to 200).map { i =>
      (s"a$i",
        vals(1 + r.nextInt(2), () => s"NAME${r.nextInt(12)} Last${r.nextInt(7)}"),
        vals(1, () => s"${r.nextInt(50)} oak street town${r.nextInt(4)}"),
        vals(r.nextInt(2), () => s"555-${r.nextInt(10000)}"),
        vals(r.nextInt(3), () => s"m://h/${r.nextInt(40)}"),
        vals(1 + r.nextInt(2), () => s"NAME${r.nextInt(12)} Last${r.nextInt(7)}"),
        vals(1, () => s"${r.nextInt(50)} oak street town${r.nextInt(4)}"),
        vals(r.nextInt(2), () => s"555-${r.nextInt(10000)}"),
        vals(r.nextInt(3), () => s"m://h/${r.nextInt(40)}"))
    }
    val df = spark.createDataFrame(rows).toDF(
      "id", "a_name", "a_address", "a_phone", "a_media",
      "b_name", "b_address", "b_phone", "b_media")
    val scored = df.withColumn("score", duke_score(
      config,
      name => (col(s"a_$name"), col(s"b_$name")),
      multiValued = Set("name", "address", "phone", "media")))
      .select(col("id"), col("score")).collect().map(r0 => r0.getString(0) -> r0.getDouble(1)).toMap
    for (row <- rows) {
      val a = cc.clean(Map(
        "name" -> row._2, "address" -> row._3, "phone" -> row._4, "media" -> row._5))
      val b = cc.clean(Map(
        "name" -> row._6, "address" -> row._7, "phone" -> row._8, "media" -> row._9))
      val want = cc.score(a, b)
      val got = scored(row._1)
      assert(math.abs(got - want) < 1e-12, s"${row._1}: column=$got kernel=$want")
    }
  }
}
