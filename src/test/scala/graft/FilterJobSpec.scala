package graft

import java.nio.file.Files

import graft.jobs.FilterJob

/** Quality filtering: planted docs land in the expected keep/drop buckets,
  * each drop has exactly one reason, reasons sum to the totals, and a
  * completed outDir resumes as a no-op.
  */
class FilterJobSpec extends SparkSpec {

  private def tmp() = {
    val p = Files.createTempDirectory("graft-filter"); p.toFile.deleteOnExit(); p.toString
  }

  test("planted docs bucket by reason; counts reconcile; resume is a no-op") {
    import spark.implicits._
    val good = "the quick brown fox and the lazy dog walk to the old town in the rain"
    val docs = Seq(
      1L -> good,                                       // keep
      2L -> (good + " " + good),                        // keep
      3L -> "el rapido zorro y la vaca de que el dia",  // lang: es
      4L -> "der hund und die katze ist das haus",      // lang: de
      5L -> "zzz qqq 123 987 !!!",                      // lang: und
      6L -> "the the of to in",                         // quality ok, length: 5 tokens min ok... keep? tokens=5 -> keep gate
      7L -> "the and of",                               // length: 3 tokens (lang en, quality high)
      // lang=en (one stopword hit) but 19/20 junk tokens -> quality ~0.125
      8L -> ("the " + (1 to 19).map(i => s"x$i").mkString(" "))
    ).toDF("doc_id", "text")

    val out = tmp()
    val s = FilterJob.run(spark, docs, out,
      FilterJob.Rules(minTokens = 5L, minQualityMicro = 400000L))
    val dec = spark.read.parquet(s"$out/decisions").collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap

    assert(dec(1L) === "keep" && dec(2L) === "keep")
    assert(dec(3L) === "lang" && dec(4L) === "lang" && dec(5L) === "lang")
    assert(dec(7L) === "length")
    assert(dec(8L) === "quality")
    assert(s.docs === 8)
    assert(s.kept + s.droppedLang + s.droppedQuality + s.droppedLength === s.docs)

    // resume: identical summary, manifest untouched
    val mtime = java.nio.file.Paths.get(out, "_graft_manifest.tsv").toFile.lastModified()
    val s2 = FilterJob.run(spark, docs, out,
      FilterJob.Rules(minTokens = 5L, minQualityMicro = 400000L))
    assert(s2 === s)
    assert(java.nio.file.Paths.get(out, "_graft_manifest.tsv").toFile.lastModified() === mtime)
  }

  test("n_tokens and quality_micro equal q_quality_score row for row on sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val out = tmp()
    FilterJob.run(spark, spark.read.parquet(s"$sf/documents.parquet"), out)
    val job = spark.read.parquet(s"$out/decisions").select("doc_id", "n_tokens", "quality_micro")
    val query = SparkEntry.queries("q_quality_score")(spark, sf)
      .select("doc_id", "n_tokens", "quality_micro")
    assert(job.count() === 500L)
    assert(job.exceptAll(query).isEmpty && query.exceptAll(job).isEmpty)
  }
}
