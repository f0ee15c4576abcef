package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.functions.clean_chain

/** Batch sources with Duke-style per-column cleaner chains applied on read —
  * the Spark analog of `[D datasources/CsvDataSource.java]` (SURVEY.md §2.1
  * S4/S5): a source yields cleaned Duke records, cleaning happens once at
  * ingest, declaratively (inside the scan's codegen stage), never per pair.
  * Duke's N-Triples and SPARQL sources are out of scope (S5): read those
  * with Spark and clean the columns with `clean_chain`.
  */
object Sources {

  /** CSV with header -> DataFrame with the configured cleaner chains applied
    * to the named columns (other columns pass through untouched).
    */
  def csv(
      spark: SparkSession,
      path: String,
      cleaners: Map[String, Seq[String]] = Map.empty): DataFrame =
    withCleaners(spark.read.option("header", "true").csv(path), cleaners)

  /** JSON-lines source, same contract. */
  def jsonLines(
      spark: SparkSession,
      path: String,
      cleaners: Map[String, Seq[String]] = Map.empty): DataFrame =
    withCleaners(spark.read.json(path), cleaners)

  /** Parquet source, same contract (the sandbox's primary format). */
  def parquet(
      spark: SparkSession,
      path: String,
      cleaners: Map[String, Seq[String]] = Map.empty): DataFrame =
    withCleaners(spark.read.parquet(path), cleaners)

  /** JDBC source (Duke `[D datasources/JDBCDataSource.java]` analog): table or
    * pushdown subquery through Spark's JDBC reader, cleaner chains applied on
    * read. `partitionColumn`+bounds split the read into `numPartitions`
    * parallel range queries — without them a JDBC read is ONE task, the
    * classic single-connection funnel at scale. Tested offline against
    * embedded Derby (SourcesSpec).
    */
  def jdbc(
      spark: SparkSession,
      url: String,
      table: String,
      cleaners: Map[String, Seq[String]] = Map.empty,
      properties: Map[String, String] = Map.empty,
      partitionColumn: Option[(String, Long, Long, Int)] = None): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
    val withProps = properties.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }
    val reader = partitionColumn match {
      case Some((colName, lower, upper, n)) => withProps
        .option("partitionColumn", colName)
        .option("lowerBound", lower.toString)
        .option("upperBound", upper.toString)
        .option("numPartitions", n.toString)
      case None => withProps
    }
    withCleaners(reader.load(), cleaners)
  }

  private def withCleaners(df: DataFrame, cleaners: Map[String, Seq[String]]): DataFrame =
    cleaners.foldLeft(df) { case (acc, (column, chain)) =>
      val isArray = df.schema(column).dataType.typeName == "array"
      val cleaned: Column =
        if (isArray) transform(col(column), v => clean_chain(chain, v))
        else clean_chain(chain, col(column))
      acc.withColumn(column, cleaned)
    }
}
