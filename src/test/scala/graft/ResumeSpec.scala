package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.io.{LabelStore, StageManifest}
import graft.jobs.LinkJob
import graft.model.MatchConfig
import graft.pipeline.Fixtures

/** Checkpoint/resume semantics (BASELINE north_rule "resumable from checkpoint
  * with per-partition lineage + metrics"): a killed run resumed mid-pipeline
  * must equal a clean run; the snapshot label store must support overwrite
  * and time-travel by snapshot id.
  */
class ResumeSpec extends SparkSpec {

  private def tmpDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  private def clusterMap(dir: String): Map[String, String] =
    spark.read.parquet(s"$dir/clusters").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  test("empty corpus: LinkJob completes with zero counts") {
    val s = LinkJob.run(spark, Fixtures.docs(spark, 0), MatchConfig.fixture,
      tmpDir("graft-link-empty").toString)
    assert(s.docs === 0 && s.records === 0 && s.pairs === 0)
    assert(s.matches === 0 && s.clusters === 0)
  }

  test("LinkJob end-to-end: counts, lineage, metrics, clusters") {
    val out = tmpDir("graft-link").toString
    val docs = Fixtures.docs(spark, 250)
    val s = LinkJob.run(spark, docs, MatchConfig.fixture, out)
    assert(s.docs > 250 && s.records === s.docs)
    assert(s.pairs > 0 && s.matches > 0)
    assert(s.clusters > 0 && s.clusters < s.docs)
    // lineage rows exist for every stage
    val lineage = spark.read.parquet(s"$out/lineage")
    val stages = lineage.select("stage").distinct().collect().map(_.getString(0)).toSet
    assert(stages === Set("records", "blocks", "scored", "edges", "clusters"))
    // pairs are scored and classified where they are generated: no stage
    // of their own before or after `scored`
    assert(Seq("pairs", "classified").forall(d => !new java.io.File(s"$out/$d").exists()))
    // lineage row counts reconcile with the manifest's stage totals
    val manifest = new StageManifest(out)
    assert(manifest.completed.keySet ===
      Set("records", "blocks", "scored", "edges", "clusters", "lineage", "metrics"))
    val recRows = lineage.where(col("stage") === "records")
      .agg(sum("rows")).collect()(0).getLong(0)
    assert(recRows === s.records)
    // lineage is writer-side provenance: one row per part FILE actually
    // written for the stage (each writer task emits one file)
    val recFiles = new java.io.File(s"$out/records").listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    val recLineageRows = lineage.where(col("stage") === "records").count()
    assert(recLineageRows === recFiles,
      s"lineage rows ($recLineageRows) != written part files ($recFiles)")
    // metrics persisted
    val metrics = spark.read.parquet(s"$out/metrics").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(metrics(("job", "pairs")) === s.pairs.toDouble)
  }

  test("lookup-flagged config drives production blocking in LinkJob") {
    import graft.model.PropertySpec
    val out = tmpDir("graft-lookup").toString
    val docs = Fixtures.docs(spark, 250)
    // flag phone as the only lookup property: every blocking key must be its
    // exact cleaned value (fromConfig's "<prop>:" prefix), and the pipeline
    // still finds matches through it
    val cfg = MatchConfig.fixture.copy(properties =
      MatchConfig.fixture.properties.map(p =>
        if (p.name == "phone") p.copy(lookup = "required") else p))
    val s = LinkJob.run(spark, docs, cfg, out)
    val keys = spark.read.parquet(s"$out/blocks")
      .select("key").distinct().collect().map(_.getString(0))
    assert(keys.nonEmpty && keys.forall(_.startsWith("phone:")))
    assert(s.pairs > 0 && s.matches > 0)

    // unflagged config keeps the default scheme (soundex + phone digits) —
    // summary equals a run with the explicit default keyers
    val outDefault = tmpDir("graft-default").toString
    val sDefault = LinkJob.run(spark, docs, MatchConfig.fixture, outDefault)
    val defKeys = spark.read.parquet(s"$outDefault/blocks")
      .select("key").distinct().collect().map(_.getString(0))
    assert(defKeys.exists(_.startsWith("n:")) && defKeys.exists(_.startsWith("p:")))
    assert(sDefault.matches > 0)
  }

  test("resume mid-pipeline reproduces the clean run exactly") {
    val cleanOut = tmpDir("graft-clean").toString
    val resumeOut = tmpDir("graft-resume").toString
    val docs = Fixtures.docs(spark, 250)

    val cleanSummary = LinkJob.run(spark, docs, MatchConfig.fixture, cleanOut)

    // simulate a killed run: run fully, then strip the manifest + outputs back
    // to the first two stages (records/blocks) — as if the crash hit during
    // pair scoring — and resume.
    LinkJob.run(spark, docs, MatchConfig.fixture, resumeOut)
    val manifestPath = java.nio.file.Paths.get(resumeOut, "_graft_manifest.tsv")
    val keep = Set("records", "blocks")
    val lines = Files.readAllLines(manifestPath)
    val kept = new java.util.ArrayList[String]()
    lines.forEach { l => if (keep.contains(l.split('\t')(0))) kept.add(l) }
    Files.write(manifestPath, kept)
    // delete downstream stage outputs so resume must recompute them
    new java.io.File(resumeOut).listFiles().foreach { f =>
      if (f.isDirectory && !keep.contains(f.getName)) {
        def rm(x: java.io.File): Unit = {
          if (x.isDirectory) x.listFiles().foreach(rm)
          x.delete()
        }
        rm(f)
      }
    }

    val resumedSummary = LinkJob.run(spark, docs, MatchConfig.fixture, resumeOut)
    assert(resumedSummary === cleanSummary)
    assert(clusterMap(resumeOut) === clusterMap(cleanOut))
  }

  test("an outDir holding a cc_iter_1 stage from an older run resumes to the same result") {
    val cleanOut = tmpDir("graft-cc-clean").toString
    val oldOut = tmpDir("graft-cc-old").toString
    val docs = Fixtures.docs(spark, 250)
    val cleanSummary = LinkJob.run(spark, docs, MatchConfig.fixture, cleanOut)
    // the fixture's contraction already yields the star forest: a fresh run
    // stages no CC iteration
    assert(!new StageManifest(cleanOut).completed.keys.exists(_.startsWith("cc_iter_")))
    assert(!new java.io.File(cleanOut).list().exists(_.startsWith("cc_iter_")))

    // an older run confirmed that forest in one staged iteration and was
    // killed before `clusters` landed: its outDir holds the stages up to
    // `edges` plus `cc_iter_1`, the star forest (root a < member b)
    LinkJob.run(spark, docs, MatchConfig.fixture, oldOut)
    val forest = spark.read.parquet(s"$oldOut/clusters")
      .where(col("doc_id") =!= col("cluster_id"))
      .select(col("cluster_id").as("a"), col("doc_id").as("b"))
    forest.write.parquet(s"$oldOut/cc_iter_1")
    val manifestPath = java.nio.file.Paths.get(oldOut, "_graft_manifest.tsv")
    val downstream = Set("clusters", "lineage", "metrics")
    val kept = new java.util.ArrayList[String]()
    Files.readAllLines(manifestPath).forEach { l =>
      if (!downstream.contains(l.split('\t')(0))) kept.add(l)
    }
    kept.add(s"cc_iter_1\t$oldOut/cc_iter_1\t${forest.count()}")
    Files.write(manifestPath, kept)
    downstream.foreach(d => graft.io.LocalFs.deleteTree(java.nio.file.Paths.get(oldOut, d)))

    val resumed = LinkJob.run(spark, docs, MatchConfig.fixture, oldOut)
    assert(resumed === cleanSummary)
    assert(clusterMap(oldOut) === clusterMap(cleanOut))
  }

  test("an outDir with the older pairs/scored/classified stages resumes to the same result") {
    import spark.implicits._
    val cleanOut = tmpDir("graft-old-clean").toString
    val oldOut = tmpDir("graft-old-stages").toString
    val docs = Fixtures.docs(spark, 250)
    val cleanSummary = LinkJob.run(spark, docs, MatchConfig.fixture, cleanOut)

    // an older run staged the pair ids, their scores and the classified
    // pairs separately, recorded `scored` without counters, and was killed
    // after `edges`: rebuild that layout from a fresh run's stages
    LinkJob.run(spark, docs, MatchConfig.fixture, oldOut)
    val classified = spark.read.parquet(s"$oldOut/scored")
    classified.write.parquet(s"$oldOut/classified")
    classified.select($"a_id", $"b_id", $"block_key").write.parquet(s"$oldOut/pairs")
    classified.drop("bucket").write.parquet(s"$oldOut/scored_old")
    graft.io.LocalFs.deleteTree(java.nio.file.Paths.get(oldOut, "scored"))
    Files.move(java.nio.file.Paths.get(oldOut, "scored_old"), java.nio.file.Paths.get(oldOut, "scored"))
    val manifestPath = java.nio.file.Paths.get(oldOut, "_graft_manifest.tsv")
    val fresh = new StageManifest(oldOut).entries
    val n = fresh("scored").rows
    val counters = fresh("scored").counters.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(";")
    val lines = new java.util.ArrayList[String]()
    Seq("records", "blocks").foreach(st => lines.add(s"$st\t${fresh(st).path}\t${fresh(st).rows}"))
    lines.add(s"pairs\t$oldOut/pairs\t$n")
    lines.add(s"scored\t$oldOut/scored\t$n")
    lines.add(s"classified\t$oldOut/classified\t$n\t$counters")
    lines.add(s"edges\t${fresh("edges").path}\t${fresh("edges").rows}")
    Files.write(manifestPath, lines)
    Seq("clusters", "lineage", "metrics")
      .foreach(d => graft.io.LocalFs.deleteTree(java.nio.file.Paths.get(oldOut, d)))

    val resumed = LinkJob.run(spark, docs, MatchConfig.fixture, oldOut)
    assert(resumed === cleanSummary)
    assert(clusterMap(oldOut) === clusterMap(cleanOut))
    // the counter-less `scored` line was recomputed with its bucket
    assert(new StageManifest(oldOut).counters("scored") === new StageManifest(cleanOut).counters("scored"))
    assert(spark.read.parquet(s"$oldOut/scored").columns.contains("bucket"))
  }

  test("a second run over a completed outDir is a pure no-op read") {
    val out = tmpDir("graft-noop").toString
    val docs = Fixtures.docs(spark, 120)
    val s1 = LinkJob.run(spark, docs, MatchConfig.fixture, out)
    val mtimeBefore = java.nio.file.Paths.get(out, "_graft_manifest.tsv").toFile.lastModified()
    val s2 = LinkJob.run(spark, docs, MatchConfig.fixture, out)
    assert(s1 === s2)
    val mtimeAfter = java.nio.file.Paths.get(out, "_graft_manifest.tsv").toFile.lastModified()
    assert(mtimeBefore === mtimeAfter) // no stage recomputed or re-recorded
  }

  test("LabelStore: overwrite, time-travel by snapshot id") {
    import spark.implicits._
    val root = tmpDir("graft-tbl").toString
    val store = new LabelStore(root, 4)
    assert(store.currentSnapshot === None)
    intercept[IllegalStateException](store.read(spark))
    def labels(rows: (String, String)*) = rows.toDF("doc_id", "cluster_id")
    def read(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1))).toSet

    val s1 = store.overwrite(labels(("a", "a"), ("b", "a")))
    val s2 = store.overwrite(labels(("a", "a"), ("b", "a"), ("c", "c")))
    assert(read(store.read(spark)) === Set(("a", "a"), ("b", "a"), ("c", "c")))
    assert(store.readSnapshot(spark, s1).count() === 2)

    val s3 = store.overwrite(labels(("z", "z")))
    assert(store.currentSnapshot === Some(s3))
    assert(Seq(s1, s2, s3) === Seq(1L, 2L, 3L))
    assert(read(store.read(spark)) === Set(("z", "z")))
    // time travel still sees the pre-overwrite snapshots
    assert(read(store.readSnapshot(spark, s2)) === Set(("a", "a"), ("b", "a"), ("c", "c")))
    assert(read(store.readSnapshot(spark, s1)) === Set(("a", "a"), ("b", "a")))
  }
}
