package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Doc

/** Seeded inputs. Every value is a pure function of (seed, row id), computed
  * with `xxhash64`, so the same seed gives byte-identical rows on any
  * partitioning and core count.
  */
object Inputs {

  /** Uniform draw in [0, n) for row `id`, stream `k`. */
  private def pick(seed: Long, id: Column, k: Int, n: Long): Column =
    pmod(xxhash64(lit(seed), id, lit(k)), lit(n))

  /** One of `xs` for row `id`, stream `k`. */
  private def oneOf(seed: Long, id: Column, k: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (pick(seed, id, k, xs.size.toLong) + 1).cast("int"))

  /** The token pool of the catalog's `documents` table. */
  private val words = Seq(
    "vector", "batch", "part", "value", "a", "slow", "scan", "merge", "sort",
    "hash", "table", "join", "fast", "column", "key", "spark", "agg", "the",
    "line", "order", "data", "small", "customer", "query", "window", "big",
    "stream", "group", "row", "filter")

  /** `n` tokens drawn from [[words]] for row `id`. */
  private def text(seed: Long, id: Column, n: Column): Column = {
    val vocab = array(words.map(lit): _*)
    array_join(transform(sequence(lit(1), n), k =>
      element_at(vocab, (pmod(xxhash64(lit(seed), id, k), lit(words.size.toLong)) + 1).cast("int"))), " ")
  }

  /** `(doc_id, text)` with 10 to 99 tokens each, the shape of the catalog's
    * `documents` table: one doc in twenty repeats one of the twenty docs
    * before it with " dup" appended.
    */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    val isDup = id > 0 && pick(seed, id, 2, 20) === 0
    val src = id - lit(1) - pick(seed, id, 3, 20) % greatest(id, lit(1L))
    spark.range(n).select(id.as("doc_id"),
      when(isDup, concat(text(seed, src, (pick(seed, src, 1, 90) + 10).cast("int")), lit(" dup")))
        .otherwise(text(seed, id, (pick(seed, id, 1, 90) + 10).cast("int"))).as("text"))
  }

  /** Row counts of the catalog tables per unit of scale; scale 1 is the
    * shape of the sf0.001 tables that `SparkEntry.queries` is checked on.
    */
  val catalogRows: Map[String, Long] = Map(
    "customer" -> 150L, "supplier" -> 10L, "orders" -> 1500L, "lineitem" -> 6000L,
    "events" -> 1000L, "documents" -> 500L, "embeddings" -> 500L)

  /** The seven tables `SparkEntry.queries` reads, with the columns and
    * value shapes of the driver-generated catalog, written as
    * `<dir>/<table>.parquet` directories.
    */
  def catalog(spark: SparkSession, seed: Long, scale: Int, dir: Path): Unit = {
    def n(t: String) = catalogRows(t) * scale
    val id = col("id")
    def money(k: Int, lo: Double, hi: Double) =
      round(pick(seed, id, k, ((hi - lo) * 100).toLong).cast("double") / 100 + lo, 2)
    def day(k: Int, from: String, days: Long) =
      date_add(to_date(lit(from)), pick(seed, id, k, days).cast("int")).cast("timestamp_ntz")
    val tables: Seq[(String, DataFrame)] = Seq(
      "customer" -> spark.range(n("customer")).select(
        id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        pick(seed, id, 11, 25).cast("int").as("c_nationkey"),
        money(12, -999.99, 9999.99).as("c_acctbal"),
        oneOf(seed, id, 13, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
          .as("c_mktsegment")),
      "supplier" -> spark.range(n("supplier")).select(
        id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        pick(seed, id, 21, 25).cast("int").as("s_nationkey"),
        money(22, -999.99, 9999.99).as("s_acctbal")),
      "orders" -> spark.range(n("orders")).select(
        id.as("o_orderkey"),
        pick(seed, id, 31, n("customer")).as("o_custkey"),
        oneOf(seed, id, 32, Seq("F", "O", "P")).as("o_orderstatus"),
        money(33, 1000.0, 400000.0).as("o_totalprice"),
        day(34, "1992-01-01", 2400).as("o_orderdate"),
        oneOf(seed, id, 35, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .as("o_orderpriority")),
      "lineitem" -> spark.range(n("lineitem")).select(
        pick(seed, id, 41, n("orders")).as("l_orderkey"),
        pick(seed, id, 42, 200L * scale).as("l_partkey"),
        pick(seed, id, 43, n("supplier")).as("l_suppkey"),
        (pick(seed, id, 44, 7) + 1).cast("int").as("l_linenumber"),
        (pick(seed, id, 45, 50) + 1).cast("double").as("l_quantity"),
        money(46, 900.0, 100000.0).as("l_extendedprice"),
        (pick(seed, id, 47, 11).cast("double") / 100).as("l_discount"),
        (pick(seed, id, 48, 9).cast("double") / 100).as("l_tax"),
        oneOf(seed, id, 49, Seq("A", "N", "R")).as("l_returnflag"),
        oneOf(seed, id, 50, Seq("O", "F")).as("l_linestatus"),
        day(51, "1992-01-02", 2500).as("l_shipdate")),
      "events" -> spark.range(n("events")).select(
        id.as("event_id"),
        // about one event per user every 20 minutes, from 2024-01-01
        timestamp_micros(lit(1704067200000000L) + id * 60000000L + pick(seed, id, 61, 60000000))
          .cast("timestamp_ntz").as("ts"),
        pick(seed, id, 62, 20L * scale).as("user_id"),
        oneOf(seed, id, 63, Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
        money(64, 0.0, 500.0).as("value"),
        format_string("{\"k\": %d}", pick(seed, id, 65, 100)).as("props")),
      "documents" -> documents(spark, seed, n("documents"))
        .withColumn("lang", oneOf(seed, col("doc_id"), 71, Seq("en", "es", "fr", "de", "zh")))
        .withColumn("source", concat(lit("src"), pick(seed, col("doc_id"), 72, 20).cast("string")))
        .withColumn("n_chars", length(col("text")).cast("long")),
      // 64-d vectors around one of ten label centres
      "embeddings" -> spark.range(n("embeddings")).select(
        id.as("vec_id"),
        transform(sequence(lit(0), lit(63)), d =>
          ((pmod(xxhash64(lit(seed), pick(seed, id, 81, 10), d, lit(82)), lit(2000L)).cast("double") / 1000 - 1) * 0.15 +
            (pmod(xxhash64(lit(seed), id, d, lit(83)), lit(2000L)).cast("double") / 1000 - 1) * 0.05)
            .cast("float")).as("embedding"),
        pick(seed, id, 81, 10).cast("int").as("label")))
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    }
  }

  /** Writes `docs` as `files` single-file parquet drops `<in>/bNNN.parquet`
    * with increasing modification times, so a file stream with
    * `maxFilesPerTrigger = 1` replays the same batch sequence every run. Docs
    * are dealt in the order of a hash of their id, so the duplicates of one
    * entity land in different drops and later triggers link against the
    * corpus the earlier ones built.
    */
  def drops(docs: Dataset[Doc], files: Int, in: Path, stage: Path): Unit = {
    import docs.sparkSession.implicits._
    Files.createDirectories(in)
    val all = docs.collect().sortBy(d => (scala.util.hashing.MurmurHash3.stringHash(d.doc_id), d.doc_id))
    val per = (all.length + files - 1) / files
    all.grouped(per).zipWithIndex.foreach { case (chunk, k) =>
      chunk.toSeq.toDS().coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val listing = Files.list(stage)
      val part = try listing.filter(_.toString.endsWith(".parquet")).findFirst().get
        finally listing.close()
      val to = in.resolve(f"b$k%03d.parquet")
      Files.move(part, to)
      Files.setLastModifiedTime(to, java.nio.file.attribute.FileTime.fromMillis(1000000000000L + k * 1000L))
      graft.io.LocalFs.deleteTree(stage)
    }
  }
}
