package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.jobs.DedupJob
import graft.pipeline.ErPipeline.PairConfig

/** The end-to-end near-dup dedup job: exact groups collapse linearly, near
  * dups cluster transitively, distinct docs survive, a completed outDir
  * resumes as a no-op, and a planted hot bucket of DISTINCT docs is capped
  * with reported mass while exact duplicates can never be lost to the cap.
  */
class DedupJobSpec extends SparkSpec {

  private def tmp(prefix: String) = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p.toString
  }

  // 20-token base text; variants share 19/20 tokens -> shingle Jaccard ~0.85
  private val base = (1 to 20).map(i => s"tok$i").mkString(" ")
  private def variant(last: String) = base.split(' ').dropRight(1).mkString(" ") + " " + last

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def decisionsOf(out: String): Map[Long, (Long, Boolean)] =
    spark.read.parquet(s"$out/decisions").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap

  test("exact groups, transitive near-dup chains, distinct survivors") {
    val out = tmp("graft-dedup")
    // 1,2,3: byte-identical; 10,11: near-dup pair; 20,21,22: chain where
    // consecutive docs are near-dups (transitivity must merge all three);
    // 30,31: distinct singletons
    val d = docs(
      1L -> base, 2L -> base, 3L -> base,
      10L -> variant("aaa"), 11L -> variant("bbb"),
      20L -> (base + " x1 x2"), 21L -> (base + " x1 x3"), 22L -> (base + " x4 x3"),
      30L -> (1 to 20).map(i => s"other$i").mkString(" "),
      31L -> (1 to 20).map(i => s"unrelated$i").mkString(" "))
    val s = DedupJob.run(spark, d, out)
    val dec = decisionsOf(out)

    assert(s.docs === 10)
    assert(s.exactGroups === 8) // {1,2,3} collapse to one rep
    // exact group: cluster 1, only doc 1 kept
    assert(dec(1L) === ((1L, true)) && dec(2L) === ((1L, false)) && dec(3L) === ((1L, false)))
    // the base text is itself a near-dup of 10/11/20/21 variants (19-20
    // shared tokens) — what matters: cluster label = min member, keep = label
    for ((id, (cl, keep)) <- dec) {
      assert(keep === (id == cl), s"doc $id cluster $cl keep $keep")
      assert(cl <= id)
    }
    // transitive chain: 20,21,22 all in ONE cluster
    assert(dec(20L)._1 === dec(21L)._1 && dec(21L)._1 === dec(22L)._1)
    // near-dup pair shares a cluster
    assert(dec(10L)._1 === dec(11L)._1)
    // distinct docs survive as their own clusters
    assert(dec(30L) === ((30L, true)) && dec(31L) === ((31L, true)))
    assert(s.kept + s.dropped === s.docs)
    assert(s.droppedPairsMass === 0.0)
  }

  test("second run over a completed outDir is a pure no-op with equal summary") {
    val out = tmp("graft-dedup-resume")
    val d = docs(1L -> base, 2L -> base, 10L -> variant("zzz"),
      30L -> (1 to 20).map(i => s"other$i").mkString(" "))
    val s1 = DedupJob.run(spark, d, out)
    val mtime = java.nio.file.Paths.get(out, "_graft_manifest.tsv").toFile.lastModified()
    val s2 = DedupJob.run(spark, d, out)
    assert(s2 === s1)
    assert(java.nio.file.Paths.get(out, "_graft_manifest.tsv").toFile.lastModified() === mtime)
  }

  test("an outDir whose grouped line has no counters resumes to a clean run's summary") {
    // a grouped stage written before manifest counters existed: three
    // fields, and (doc_id, fps, rep) parquet without band columns. The
    // missing exact_groups counter makes the stage recompute.
    val d = docs(1L -> base, 2L -> base, 10L -> variant("zzz"),
      30L -> (1 to 20).map(i => s"other$i").mkString(" "))
    val clean = DedupJob.run(spark, d, tmp("graft-dedup-clean"))
    val out = tmp("graft-dedup-legacy")
    val grouped = java.nio.file.Paths.get(out, "grouped").toString
    graft.TrainingOps.shingleFps(d).withColumn("rep", lit(0L)).write.parquet(grouped)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(out, "_graft_manifest.tsv"), s"grouped\t$grouped\t4\n")
    assert(DedupJob.run(spark, d, out) === clean)
    assert(spark.read.parquet(grouped).columns.contains("band0"))
  }

  test("exact duplicates can NEVER be lost to the block cap; distinct hot buckets are capped with mass") {
    import graft.TrainingOps
    val out = tmp("graft-dedup-cap")
    // 500 byte-identical docs (the boilerplate page) + 2 distinct docs;
    // a tiny cap would have dropped a 500-doc pairwise block — but exact
    // groups never enter the pair space, so all 499 dups still drop
    val d = docs(((1L to 500L).map(_ -> base) ++ Seq(900L -> variant("q1"), 901L -> (1 to 20).map(i => s"other$i").mkString(" "))): _*)
    val cfg = TrainingOps.Config(pairCfg = PairConfig(saltThreshold = 8, maxBlockSize = 50))
    val s = DedupJob.run(spark, d, out, cfg)
    val dec = decisionsOf(out)
    assert(s.exactGroups === 3)
    assert((1L to 500L).forall(i => dec(i)._1 === 1L && dec(i)._2 === (i == 1L)))
    // rep 1 and 900 are near-dups (19/20 tokens) -> same cluster
    assert(dec(900L)._1 === 1L && !dec(900L)._2)
    assert(dec(901L) === ((901L, true)))
    assert(s.dropped === 500L) // 499 exact + doc 900
  }

  test("skew stats survive a no-op rerun and a resume after the candidate stage") {
    val d = docs((1L to 60L).map(i => i -> variant(s"v$i")): _*)
    val cfg = graft.TrainingOps.Config(pairCfg = PairConfig(saltThreshold = 8, maxBlockSize = 50))
    def metricRows(out: String) = spark.read.parquet(s"$out/metrics").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    val freshOut = tmp("graft-dedup-skew")
    val fresh = DedupJob.run(spark, d, freshOut, cfg)
    assert(fresh.droppedPairsMass > 0.0)
    assert(DedupJob.run(spark, d, freshOut, cfg) === fresh)

    val resumeOut = tmp("graft-dedup-skew-resume")
    DedupJob.run(spark, d, resumeOut, cfg)
    cutManifestTo(resumeOut, Set("grouped", "candidates"))
    assert(DedupJob.run(spark, d, resumeOut, cfg) === fresh)
    assert(metricRows(resumeOut) === metricRows(freshOut))
  }

  test("empty corpus: all-zero summary, no crash") {
    val s = DedupJob.run(spark, docs(), tmp("graft-dedup-empty"))
    assert(s === DedupJob.Summary(0, 0, 0, 0, 0, 0, 0, 0.0))
  }

  test("single document: one kept cluster, no pairs") {
    val s = DedupJob.run(spark, docs(7L -> base), tmp("graft-dedup-one"))
    assert(s.docs === 1 && s.candidates === 0 && s.edges === 0)
    assert(s.clusters === 1 && s.kept === 1 && s.dropped === 0)
  }
}
