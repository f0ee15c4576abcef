package graft.expr

import graft.SparkSpec
import graft.core.{Cleaners, Similarity}
import graft.expr.functions._
import graft.model.MatchConfig
import org.apache.spark.sql.functions._

/** Catalyst wrappers agree with the pure kernel, under codegen and in SQL. */
class ExprSpec extends SparkSpec {
  import org.apache.spark.sql.Row

  private lazy val pairs = {
    val data = Seq(
      ("MARTHA", "MARHTA"), ("DWAYNE", "DUANE"), ("kitten", "sitting"),
      ("nelson", "neilsen"), ("", "x"), ("same", "same"),
      ("12 Main Street", "12 Main St."), ("John  Smith", "Jon Smith"))
    spark.createDataFrame(data).toDF("a", "b")
  }

  test("sim_* columns match graft.core under whole-stage codegen") {
    val rows = pairs.select(
      col("a"), col("b"),
      sim_jaro_winkler(col("a"), col("b")).as("jw"),
      sim_levenshtein(col("a"), col("b")).as("lev"),
      sim_qgram(col("a"), col("b")).as("qg"),
      sim_exact(col("a"), col("b")).as("ex"),
      sim_dice(col("a"), col("b")).as("dice")).collect()
    rows.foreach { case Row(a: String, b: String, jw: Double, lev: Double, qg: Double, ex: Double, dice: Double) =>
      assert(jw == Similarity.jaroWinkler(a, b), s"jw($a,$b)")
      assert(lev == Similarity.levenshteinSim(a, b), s"lev($a,$b)")
      assert(qg == Similarity.qgramDice(a, b), s"qgram($a,$b)")
      assert(ex == Similarity.exact(a, b), s"exact($a,$b)")
      assert(dice == Similarity.diceToken(a, b), s"dice($a,$b)")
    }
  }

  test("every comparator expression codegens (no interpreter fallback)") {
    // generate the unsafe projection directly: janino failures throw here, and
    // no session-wide conf is touched (suites share the SparkSession)
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val a = BoundReference(0, StringType, nullable = true)
    val b = BoundReference(1, StringType, nullable = true)
    val exprs = Seq(
      "jaro", "jaroWinkler", "jaroWinklerTokenized", "levenshteinSim",
      "levenshteinSimCutoff", "diceToken", "jaccardToken", "numericSim",
      "soundexEq", "metaphoneEq", "norphoneEq", "personNameSim", "lcsSim",
      "exact").map(m => SimExpr(a, b, m)) ++ Seq(
      SimExpr(a, b, "qgramSimD", Seq(2.0, 1.0)),
      SimExpr(a, b, "qgramSimD", Seq(3.0, 2.0)),
      SimExpr(a, b, "weightedLevenshteinSimD", Seq(2.0)),
      SimExpr(a, b, "geoSimD", Seq(1000.0)),
      CleanExpr(a, "lowercase-normalize"),
      PhoneticExpr(a, "soundex"), PhoneticExpr(a, "metaphone"), PhoneticExpr(a, "norphone"))
    val proj = GenerateUnsafeProjection.generate(exprs) // throws if codegen fails
    val row = proj(InternalRow(UTF8String.fromString("MARTHA"), UTF8String.fromString("MARHTA")))
    assert(row.getDouble(1) === Similarity.jaroWinkler("MARTHA", "MARHTA"))
    assert(row.numFields === exprs.length)
  }

  test("null propagation: null side -> null sim") {
    val df = spark.sql("select cast(null as string) a, 'x' b")
    assert(df.select(sim_jaro_winkler(col("a"), col("b"))).collect()(0).isNullAt(0))
  }

  test("clean_* columns match graft.core cleaners") {
    val rows = pairs.select(col("a"),
      clean("lowercase-normalize", col("a")).as("n"),
      clean("digits-only", col("a")).as("d")).collect()
    rows.foreach { case Row(a: String, n: String, d: String) =>
      assert(n == Cleaners.lowerCaseNormalize(a))
      assert(d == Cleaners.digitsOnly(a))
    }
  }

  test("parameterized cleaner specs under codegen: regexp no-match -> NULL, escaping") {
    // patterns carry backslashes and quotes — the generated Java literal must
    // survive janino, and a no-match result must surface as SQL NULL
    val df = spark.createDataFrame(Seq(
      Tuple1("N-0371 Oslo"), Tuple1("no digits"), Tuple1("say \"hi\" 42"))).toDF("a")
    val rows = df.select(col("a"),
      clean("regexp((\\d+),1)", col("a")).as("digits"),
      clean("mapping(no digits=found)", col("a")).as("mapped")).collect()
    val got = rows.map(r => r.getString(0) -> ((Option(r.getString(1)), r.getString(2)))).toMap
    assert(got("N-0371 Oslo") === ((Some("0371"), "N-0371 Oslo")))
    assert(got("no digits") === ((None, "found")))
    assert(got("say \"hi\" 42") === ((Some("42"), "say \"hi\" 42")))
    // Duke class-name parameterized alias through the Column API
    val viaDuke = df.select(
      clean("no.priv.garshol.duke.cleaners.RegexpCleaner((\\d+),1)", col("a"))).collect()
    assert(Option(viaDuke(1).getString(0)).isEmpty && viaDuke(0).getString(0) === "0371")
  }

  test("phonetic codes: custom soundex agrees with Spark builtin on plain ASCII names") {
    val names = Seq("Robert", "Rupert", "Tymczak", "Pfister", "Honeyman", "Smith").map(Tuple1(_))
    val rows = spark.createDataFrame(names).toDF("n")
      .select(col("n"), soundex(col("n")).as("builtin"), soundex_code(col("n")).as("ours"))
      .collect()
    rows.foreach { case Row(n: String, b: String, o: String) =>
      assert(b == o, s"soundex($n): builtin=$b ours=$o")
    }
  }

  test("duke_score column tree = compiled kernel score (fixture config)") {
    val cfg = MatchConfig.fixture
    val df = spark.createDataFrame(Seq(
      ("John Smith", "Jon  Smith", "12 Main Street", "12 Main St.", "555-1234", "5551234"),
      ("John Smith", "Greta Jones", "12 Main Street", "99 Ocean Ave", "555-1234", "777-0000"),
      ("John Smith", "John Smith", "12 Main Street", null, "555-1234", "555-1234")))
      .toDF("name_a", "name_b", "addr_a", "addr_b", "phone_a", "phone_b")
    val noMedia = cfg.copy(properties = cfg.properties.filterNot(_.name == "media"))
    val scored = df.withColumn("score", duke_score(noMedia, {
      case "name"    => (col("name_a"), col("name_b"))
      case "address" => (col("addr_a"), col("addr_b"))
      case "phone"   => (col("phone_a"), col("phone_b"))
    })).collect()
    val cc = graft.core.Duke.compile(noMedia)
    scored.foreach { r =>
      val props = Seq("name", "addr", "phone")
      def side(sfx: String) = Map(
        "name" -> Option(r.getAs[String](s"name_$sfx")).toSeq,
        "address" -> Option(r.getAs[String](s"addr_$sfx")).toSeq,
        "phone" -> Option(r.getAs[String](s"phone_$sfx")).toSeq)
      val expected = cc.score(cc.clean(side("a")), cc.clean(side("b")))
      assert(math.abs(r.getAs[Double]("score") - expected) < 1e-12,
        s"row $r: ${r.getAs[Double]("score")} vs $expected")
    }
  }

  test("SQL registration surfaces sim_/clean_ functions") {
    functions.register(spark)
    val r = spark.sql(
      "select sim_jaro_winkler('MARTHA','MARHTA') jw, clean_digits_only('a1b2') d").collect()(0)
    assert(math.abs(r.getDouble(0) - Similarity.jaroWinkler("MARTHA", "MARHTA")) < 1e-12)
    assert(r.getString(1) == "12")
  }
}
