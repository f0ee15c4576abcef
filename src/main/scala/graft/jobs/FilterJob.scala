package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.TrainingOps
import graft.io.StageManifest

/** Quality filtering over a `documents(doc_id, text)` corpus — the third
  * training-data pipeline job beside `DedupJob` and `LinkJob` (builder
  * mandate: text analysis as first-class components): language ID, quality
  * scoring and token counting computed in ONE narrow pass, then a
  * declarative keep decision with per-reason drop counts. `lang_guess`,
  * `n_tokens` and `quality_micro` are the TrainingOps expressions that the
  * oracle-checked `q_lang_id` / `q_quality_score` also project
  * (FilterJobSpec checks the quality pair row for row). No shuffle
  * anywhere — the whole job is scan → project → write, the shape that
  * saturates I/O at 100 TB.
  */
object FilterJob {

  /** Gate thresholds (micro units match the query conventions). */
  case class Rules(
      languages: Set[String] = Set("en"),
      minQualityMicro: Long = 400000L,
      minTokens: Long = 5L,
      maxTokens: Long = 100000L)

  case class Summary(
      docs: Long, kept: Long,
      droppedLang: Long, droppedQuality: Long, droppedLength: Long)

  def run(
      spark: SparkSession,
      documents: DataFrame,
      outDir: String,
      rules: Rules = Rules()): Summary = {
    import spark.implicits._
    import TrainingOps._
    val m = new StageManifest(outDir)

    // one pass: every feature + the decision; reasons are evaluated in a
    // fixed order (lang, quality, length) so each drop has ONE cause and the
    // reason counts sum to the drop total
    val decisions = m.stage(spark, "decisions") {
      val langs = rules.languages.map(l => s"'$l'").mkString(", ")
      documents.selectExpr(
        "doc_id",
        s"${langIdSql(langHitsSpark)} AS lang_guess",
        s"CAST($nToksSpark AS BIGINT) AS n_tokens",
        s"$qualityMicroSpark AS quality_micro")
        .selectExpr("doc_id", "lang_guess", "n_tokens", "quality_micro",
          s"""CASE
             | WHEN lang_guess NOT IN ($langs) THEN 'lang'
             | WHEN quality_micro < ${rules.minQualityMicro} THEN 'quality'
             | WHEN n_tokens < ${rules.minTokens} OR n_tokens > ${rules.maxTokens} THEN 'length'
             | ELSE 'keep' END AS decision""".stripMargin)
    }

    val byDecision = decisions.groupBy($"decision").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val s = Summary(
      docs = byDecision.values.sum,
      kept = byDecision.getOrElse("keep", 0L),
      droppedLang = byDecision.getOrElse("lang", 0L),
      droppedQuality = byDecision.getOrElse("quality", 0L),
      droppedLength = byDecision.getOrElse("length", 0L))
    m.stage(spark, "metrics") {
      byDecision.toSeq.toDF("decision", "n").select(lit("filter").as("stage"),
        $"decision".as("metric"), $"n".cast("double").as("value"))
    }
    s
  }

  /** spark-submit entry: FilterJob <documentsParquet> <outDir> */
  def main(args: Array[String]): Unit = {
    val docsPath = args.headOption.getOrElse("/root/testdata/sf0.01/documents.parquet")
    val outDir = args.lift(1).getOrElse("/tmp/graft-filter")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]"))
      .appName("graft-filter")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s = run(spark, spark.read.parquet(docsPath), outDir)
    println(s"[filter] $s")
    spark.stop()
  }
}
