package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.StageManifest
import graft.jobs.{DedupJob, LinkJob}
import graft.model.MatchConfig
import graft.pipeline.{ErPipeline, Fixtures}

/** The stage manifest's bookkeeping: row counts and counters observed on the
  * stage write equal what the parquet holds, read-backs carry the schema a
  * parquet read infers, counters survive a rerun, legacy 3-field lines still
  * resume, and a fresh stage costs its write's jobs and no other. A fresh
  * LinkJob writes no `pairs` or `classified` stage, and before its `scored`
  * write it runs one SQL execution that writes nothing.
  */
class StageManifestSpec extends SparkSpec {

  private def tmp(prefix: String) = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p.toString
  }

  private def mtime(out: String) = Paths.get(out, "_graft_manifest.tsv").toFile.lastModified()

  private def dedupDocs: DataFrame = {
    import spark.implicits._
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    Seq(1L -> base, 2L -> base, 3L -> (base + " x1"), 4L -> (base + " x2"),
      5L -> (1 to 20).map(i => s"other$i").mkString(" ")).toDF("doc_id", "text")
  }

  test("manifest rows and counters equal the stage parquet; a rerun recomputes nothing") {
    import spark.implicits._
    val docs = Fixtures.docs(spark, 150)
    val link = tmp("graft-sm-link")
    val ls = LinkJob.run(spark, docs, MatchConfig.fixture, link)
    val dedup = tmp("graft-sm-dedup")
    val ds = DedupJob.run(spark, dedupDocs, dedup)

    for (out <- Seq(link, dedup)) {
      val entries = new StageManifest(out).entries
      assert(entries.contains("metrics"))
      entries.foreach { case (name, e) =>
        assert(e.rows === spark.read.parquet(e.path).count(), s"$out: stage $name")
      }
    }

    def read(out: String, s: String) = spark.read.parquet(s"$out/$s")
    val lm = new StageManifest(link)
    val scored = read(link, "scored")
    assert(lm.counters("scored") === Map(
      "matches" -> scored.where($"bucket" === "match").count(),
      "maybes" -> scored.where($"bucket" === "maybe").count()))
    assert(lm.counters("clusters") ===
      Map("clusters" -> read(link, "clusters").select("cluster_id").distinct().count()))
    assert(lm.counters("lineage") === Map("records" -> lm.completedRows("records"),
      "blocks" -> lm.completedRows("blocks"), "pairs" -> lm.completedRows("scored")))
    assert(ls.clusters === lm.counters("clusters")("clusters") && ls.pairs > 0)

    val dm = new StageManifest(dedup)
    val decisions = read(dedup, "decisions")
    assert(dm.counters("grouped") ===
      Map("exact_groups" -> read(dedup, "grouped").where($"doc_id" === $"rep").count()))
    assert(dm.counters("decisions") === Map(
      "kept" -> decisions.where($"keep").count(),
      "dropped" -> decisions.where(!$"keep").count()))
    assert(ds.clusters === decisions.select("cluster_id").distinct().count())
    assert(ds.exactGroups === 4 && ds.docs === 5)

    // counters round-trip through the manifest: the summaries are served
    // from it and no stage is recomputed or re-recorded
    val (lt, dt) = (mtime(link), mtime(dedup))
    assert(LinkJob.run(spark, docs, MatchConfig.fixture, link) === ls)
    assert(DedupJob.run(spark, dedupDocs, dedup).copy(droppedPairsMass = ds.droppedPairsMass) === ds)
    assert(mtime(link) === lt && mtime(dedup) === dt)
  }

  test("a stage's frame has the schema its parquet infers, nested types included") {
    import spark.implicits._
    val out = tmp("graft-sm-schema")
    val m = new StageManifest(out)
    val df = spark.range(5).select(
      $"id",
      array($"id".cast("int"), lit(1)).as("arr"),
      map(lit("k"), $"id".cast("double")).as("m"),
      struct($"id".as("a"), array(struct(lit("x").as("s"))).as("nested")).as("st"),
      lit("s").as("str"))
    val got = m.stage(spark, "typed")(df)
    val inferred = spark.read.parquet(s"$out/typed").schema
    assert(df.schema !== inferred) // the non-null fields do change on read
    assert(got.schema === inferred)
    assert(got.orderBy("id").collect().toSeq === df.orderBy("id").collect().toSeq)

    // a production stage: map<string, array<string>> props
    val records = m.stage(spark, "records") {
      ErPipeline.extract(Fixtures.docs(spark, 20), MatchConfig.fixture).toDF()
    }
    assert(records.schema === spark.read.parquet(s"$out/records").schema)
  }

  test("legacy 3-field lines resume; a line lacking a needed counter recomputes that stage") {
    import spark.implicits._
    val out = tmp("graft-sm-legacy")
    spark.range(10).write.parquet(s"$out/a")
    spark.range(4).write.parquet(s"$out/b")
    Files.write(Paths.get(out, "_graft_manifest.tsv"),
      Seq(s"a\t$out/a\t10", s"b\t$out/b\t4").asJava)
    val m = new StageManifest(out)
    assert(m.completedRows === Map("a" -> 10L, "b" -> 4L))
    assert(m.counters("a") === Map.empty)

    assert(m.stage(spark, "a")(fail("completed stage a recomputed")).count() === 10)
    val even = "even" -> count(when($"id" % 2 === 0, 1))
    assert(m.stage(spark, "b", even)(spark.range(4).toDF()).count() === 4)
    assert(m.counters("b") === Map("even" -> 2L))
    assert(m.stage(spark, "b", even)(fail("stage b recomputed twice")).count() === 4)

    // a whole LinkJob outDir in the legacy format resumes to the same summary
    val docs = Fixtures.docs(spark, 120)
    val link = tmp("graft-sm-legacy-link")
    val s = LinkJob.run(spark, docs, MatchConfig.fixture, link)
    val manifest = Paths.get(link, "_graft_manifest.tsv")
    Files.write(manifest, Files.readAllLines(manifest).asScala
      .map(_.split('\t').take(3).mkString("\t")).asJava)
    assert(new StageManifest(link).entries.values.forall(_.counters.isEmpty))
    assert(LinkJob.run(spark, docs, MatchConfig.fixture, link) === s)
    assert(new StageManifest(link).counters("lineage").keySet === Set("records", "blocks", "pairs"))
  }

  test("an empty input observes 0 rows and 0 counters instead of hanging") {
    import spark.implicits._
    val m = new StageManifest(tmp("graft-sm-empty"))
    val empties = Seq(
      "local" -> Seq.empty[(Long, String)].toDF("id", "s"),
      "filtered" -> spark.range(10).where($"id" < 0).select($"id", lit("x").as("s")),
      "no_partitions" -> spark.range(0, 0, 1, 0).select($"id", lit("x").as("s")))
    empties.foreach { case (name, df) =>
      val got = Await.result(Future(m.stage(spark, name,
        "positive" -> count(when($"id" > 0, 1)), "total" -> sum($"id"))(df)), 2.minutes)
      assert(m.completedRows(name) === 0L, name)
      assert(m.counters(name) === Map("positive" -> 0L, "total" -> 0L), name)
      assert(got.count() === 0, name)
    }
  }

  test("a fresh stage runs only its write's jobs: no recount, no schema inference") {
    import spark.implicits._
    val m = new StageManifest(tmp("graft-sm-jobs"))
    val sc = spark.sparkContext
    // (job id, root SQL execution id) of every job started
    val jobs = new ConcurrentLinkedQueue[(Int, Option[String])]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = js.properties
        jobs.add((js.jobId, Option(p.getProperty("spark.sql.execution.root.id"))
          .orElse(Option(p.getProperty("spark.sql.execution.id")))))
      }
    }
    ListenerBusShim.drain(sc)
    sc.addSparkListener(listener)
    try {
      m.stage(spark, "small", "big" -> count(when($"id" >= 15, 1))) {
        spark.range(0, 20, 1, 2).select($"id", ($"id" % 3).as("r"))
      }
      ListenerBusShim.drain(sc)
    } finally sc.removeSparkListener(listener)

    // the compute is lazy, so the first job is the write's; a re-count is a
    // second SQL execution and a schema inference a job outside any
    val all = jobs.asScala.toSeq.sortBy(_._1)
    assert(all.nonEmpty && all.head._2.isDefined, s"the write ran no SQL job: $all")
    val beyond = all.filter(_._2 != all.head._2)
    assert(beyond.isEmpty, s"jobs beyond the write's own (recount or inference): $beyond")
    assert(m.completedRows("small") === 20L && m.counters("small") === Map("big" -> 5L))
  }

  test("a fresh LinkJob runs one SQL execution before its scored write: the skew-tail collect") {
    val out = tmp("graft-sm-link-jobs")
    val docs = Fixtures.docs(spark, 150)
    val sc = spark.sparkContext
    // (execution id, physical plan) of every top-level SQL execution
    val execs = new ConcurrentLinkedQueue[(Long, String)]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
          execs.add((s.executionId, s.physicalPlanDescription))
        case _ =>
      }
    }
    ListenerBusShim.drain(sc)
    sc.addSparkListener(listener)
    try {
      LinkJob.run(spark, docs, MatchConfig.fixture, out)
      ListenerBusShim.drain(sc)
    } finally sc.removeSparkListener(listener)

    val all = execs.asScala.toSeq.sortBy(_._1)
    // a write's plan details name its output path
    val writeTo = "(?s)\\) Execute InsertIntoHadoopFsRelationCommand\\s.*?Arguments: file:([^,\\s]+)".r
    def target(plan: String) = writeTo.findFirstMatchIn(plan).map(m => Paths.get(m.group(1)))
    val targets = all.flatMap(e => target(e._2))
    val scoredAt = all.indexWhere(e => target(e._2).contains(Paths.get(out, "scored")))
    assert(scoredAt >= 0, s"no scored write among ${targets.mkString(", ")}")
    val nonWrites = all.take(scoredAt).filter(e => target(e._2).isEmpty)
    assert(nonWrites.size === 1,
      s"executions before the scored write that write nothing:\n${nonWrites.map(_._2).mkString("\n")}")
    assert(nonWrites.head._2.contains(s"$out/blocks"), "the one execution is not the skew-tail read of blocks")
    assert(!targets.exists(t => Set("pairs", "classified")(t.getFileName.toString)),
      s"a pairs or classified stage was written: $targets")
    assert(Seq("pairs", "classified").forall(d => !Files.exists(Paths.get(out, d))))
  }
}
