package graft

import java.nio.file.Files

import graft.core.Cleaners
import graft.io.Sources

/** Duke-style batch sources with per-column cleaner chains applied at ingest
  * (SURVEY.md §2.1 S4/S5).
  */
class SourcesSpec extends SparkSpec {

  test("csv source applies cleaner chains per column on read") {
    val dir = Files.createTempDirectory("graft-src").toString
    val csv =
      """name,phone,city
        |" John  SMITH ","(555) 123-4567",Oslo
        |"Doe, Jane",0047 22 11,Bergen
        |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(dir, "in.csv"), csv)
    val df = Sources.csv(spark, s"$dir/in.csv", Map(
      "name" -> Seq("trim", "lowercase-normalize"),
      "phone" -> Seq("phone-number")))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows === Set(
      ("john smith", "5551234567", "Oslo"),
      ("doe jane", "472211", "Bergen")))
  }

  test("jsonLines source, chain parity with Cleaners.chain") {
    val dir = Files.createTempDirectory("graft-src2").toString
    Files.writeString(java.nio.file.Paths.get(dir, "in.json"),
      """{"name": "  Élodie DuPont ", "id": 1}
        |{"name": "ACME AS", "id": 2}
        |""".stripMargin)
    val df = Sources.jsonLines(spark, s"$dir/in.json",
      Map("name" -> Seq("trim", "lowercase-normalize")))
    val got = df.collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("name")).toMap
    assert(got(1L) === Cleaners.chain(Seq("trim", "lowercase-normalize"), "  Élodie DuPont "))
    assert(got(2L) === "acme as")
  }

  test("jdbc source reads through Spark's JDBC reader with cleaners (embedded Derby)") {
    val url = "jdbc:derby:memory:graftsrc;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE people (id INT, name VARCHAR(64), phone VARCHAR(32))")
      st.execute("INSERT INTO people VALUES (1, ' John  SMITH ', '(555) 123'), (2, 'Doe, Jane', '0047 22')")
      st.close()
      val df = Sources.jdbc(spark, url, "people",
        cleaners = Map("NAME" -> Seq("trim", "lowercase-normalize"), "PHONE" -> Seq("phone-number")),
        partitionColumn = Some(("id", 0L, 2L, 2)))
      assert(df.rdd.getNumPartitions === 2) // partitioned range read, not one task
      val got = df.collect().map(r => r.getAs[Int]("ID") ->
        ((r.getAs[String]("NAME"), r.getAs[String]("PHONE")))).toMap
      assert(got === Map(1 -> (("john smith", "555123")), 2 -> (("doe jane", "4722"))))
    } finally {
      conn.close()
      try java.sql.DriverManager.getConnection("jdbc:derby:memory:graftsrc;drop=true")
      catch { case _: java.sql.SQLException => } // drop always "fails" with 08006
    }
  }
}
