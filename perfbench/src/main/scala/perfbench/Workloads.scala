package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.io.StageManifest
import graft.jobs.{DedupJob, DedupScale, LinkJob}
import graft.model.{Doc, MatchConfig}
import graft.pipeline.{ErPipeline, Eval, Fixtures}
import graft.streaming.IncrementalLink

/** What one workload needs from Main. */
final case class Ctx(spark: SparkSession, work: Path, seed: Long, reference: Reference)

/** One operation: its wall time, the CPU time the JVM spent in it, the
  * share of the host's CPU time stolen by other tenants meanwhile, its
  * decision fingerprint, its interval on the trace clock and its parts
  * (triggers or queries) on that clock.
  */
final case class Op(index: Int, wallS: Double, cpuS: Double, steal: Double, fingerprint: String,
    start: Double, end: Double, parts: Seq[(String, Double, Double)] = Nil) {
  def partSeconds: Seq[Double] = parts.map { case (_, s, e) => (e - s) / 1000 }
}

/** A gate verdict over the run: the quality metric, the operations that
  * missed a gate and why.
  */
final case class Gate(quality: Double, failedOps: Int, notes: Seq[String])

abstract class Workload(val ctx: Ctx) {
  def name: String
  def spark: SparkSession = ctx.spark
  def dir(name: String): Path = ctx.work.resolve(name)
  /** Generates the inputs, once per run, during set-up. */
  def prepare(): Unit
  /** Runs operation `i` into its own fresh output directories. Operation 0
    * of a batch workload is the warm-up, on a small input of the same
    * generator: it compiles every stage's code in the cold JVM.
    */
  def op(i: Int): Op
  /** Per-layer figures of one traced operation. */
  def layers(op: Op, tree: SpanTree, opSpan: Span): Map[String, Double]
  /** Quality metric and correctness gates, outside the timed region. */
  def gate(ops: Seq[Op]): Gate
  /** Deletes what operation `op` wrote. */
  def release(op: Op): Unit = deleteTree(outDir(op.index))
  /** Workloads a traced run also measures, after this one's traced
    * operation: the layers this workload does not reach.
    */
  def companions: Seq[Workload] = Nil

  /** A fresh output directory per operation: a reused StageManifest
    * directory would make the job a resume that times nothing.
    */
  protected def outDir(i: Int): Path = dir(s"$name-op-$i")

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Runs `body` as operation `i` and times it. */
  protected def timed[T](i: Int)(body: => T)(fingerprint: T => String): (T, Op) = {
    val s = Clock.ms()
    val c0 = os.getProcessCpuTime
    val st0 = Workload.cpuTicks()
    val t0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (os.getProcessCpuTime - c0) / 1e9
    val st1 = Workload.cpuTicks()
    val end = Clock.ms()
    val steal = (st1._1 - st0._1).toDouble / math.max(1L, st1._2 - st0._2)
    (r, Op(i, wall, cpu, steal, fingerprint(r), s, end))
  }

  protected def deleteTree(p: Path): Unit = graft.io.LocalFs.deleteTree(p)

  /** Every operation's fingerprint equals the expected one for this seed:
    * the pinned one in `reference.json`, else the one the first run of this
    * seed recorded, else the first operation's.
    */
  protected def fingerprintGate(ops: Seq[Op]): (Int, Seq[String]) = {
    val expected = ctx.reference.fingerprint(name, ctx.seed).getOrElse(ops.head.fingerprint)
    val bad = ops.filter(_.fingerprint != expected)
    (bad.size, bad.map(o => s"op ${o.index} fingerprint ${o.fingerprint} != $expected"))
  }
}

object Workload {
  /** Host CPU ticks `(stolen, total)` from `/proc/stat`; zeros where it
    * does not exist.
    */
  def cpuTicks(): (Long, Long) = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }.getOrElse((0L, 0L))
}

/** Tiles an operation into consecutive layer spans. Each SQL execution is
  * assigned a layer; a tile runs from the end of the previous tile to the end
  * of the last execution of its layer, so the tiles cover the operation, and
  * a tile's wall minus what its Spark jobs cover is the driver time spent in
  * that layer.
  */
object Tiles {
  final case class Assigned(exec: Exec, layer: String, role: String)

  def build(tree: SpanTree, opSpan: Span, assigned: Seq[Assigned]): Seq[(Span, Seq[Assigned])] = {
    val groups = mutable.ArrayBuffer[(String, mutable.ArrayBuffer[Assigned])]()
    assigned.foreach { a =>
      if (groups.nonEmpty && groups.last._1 == a.layer) groups.last._2 += a
      else groups += ((a.layer, mutable.ArrayBuffer(a)))
    }
    var from = opSpan.start
    val tiles = groups.zipWithIndex.map { case ((layer, as), k) =>
      val to = if (k == groups.size - 1) opSpan.end else math.max(from, as.map(_.exec.end.toDouble).max)
      val t = tree.add(opSpan.id, "layer", layer, from, to)
      from = to
      (t, as.toSeq)
    }.toSeq
    // executions, then jobs, then stages under each tile; jobs outside any
    // execution (footer reads, RDD actions) hang off the tile they start in
    val execJobs = tree.jobsIn(opSpan.start, opSpan.end).groupBy(j =>
      j.execId.map(tree.rootOf))
    tiles.foreach { case (tile, as) =>
      as.foreach { a =>
        val es = tree.add(tile.id, "exec", s"${a.layer}:${a.role}:${a.exec.id}",
          a.exec.start.toDouble, a.exec.end.toDouble)
        tree.addJobs(es, execJobs.getOrElse(Some(a.exec.id), Nil))
      }
      tree.addJobs(tile, execJobs.getOrElse(None, Nil)
        .filter(j => j.start >= tile.start && j.start < tile.end))
    }
    tiles
  }

  /** Sums per layer: wall, Spark jobs, task CPU, shuffle written. */
  def sums(tree: SpanTree, tiles: Seq[(Span, Seq[Assigned])]): Map[String, Map[String, Double]] =
    tiles.groupBy(_._1.name).map { case (layer, ts) =>
      val jobIds = ts.flatMap(t => tree.jobsUnder(t._1)).map(_.name.stripPrefix("job ").toInt).toSet
      val stages = tree.rec.stages.values.asScala.filter(s => s.jobId.exists(jobIds.contains))
      layer -> Map(
        "wall_s" -> ts.map(_._1.dur).sum / 1000.0,
        "jobs" -> jobIds.size.toDouble,
        "cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
        "shuffle_mb" -> stages.map(_.shuffleWrite).sum / 1048576.0)
    }

  /** Assigns the executions of a StageManifest job: a write into `outDir/<s>`
    * belongs to stage `s` with every execution since the previous write; the
    * read that follows it and touches only that directory is its re-count.
    */
  def manifest(tree: SpanTree, opSpan: Span, outDir: Path,
      layerOf: String => String): Seq[Assigned] = {
    val root = outDir.toAbsolutePath.normalize().toString + "/"
    def stageOf(p: String): Option[String] =
      if (p.startsWith(root)) Some(p.stripPrefix(root).takeWhile(_ != '/')) else None
    val out = mutable.ArrayBuffer[Assigned]()
    val pending = mutable.ArrayBuffer[Exec]()
    var lastWrite: Option[String] = None
    tree.execsIn(opSpan.start, opSpan.end).filter(e => e.root == e.id).foreach { e =>
      val io = tree.ioOf(e)
      io.writes.flatMap(stageOf).headOption match {
        case Some(st) =>
          out ++= pending.map(p => Assigned(p, layerOf(st), "compute"))
          out += Assigned(e, layerOf(st), "write")
          pending.clear()
          lastWrite = Some(st)
        case None =>
          val readStages = io.reads.flatMap(stageOf).distinct
          if (pending.isEmpty && lastWrite.nonEmpty && readStages == lastWrite.toSeq &&
              io.reads.size == 1) {
            out += Assigned(e, layerOf(lastWrite.get), "recount")
            lastWrite = None
          } else pending += e
      }
    }
    out ++= pending.map(p => Assigned(p, "job.tail", "tail"))
    out.toSeq
  }

  /** Manifest I/O figures over assigned executions. */
  def manifestIo(tree: SpanTree, assigned: Seq[Assigned]): Map[String, Double] = {
    val jobsByExec = tree.jobsIn(0, Double.MaxValue).groupBy(_.execId)
    val writes = assigned.filter(_.role == "write")
    val commitTail = writes.map { a =>
      val js = jobsByExec.getOrElse(Some(a.exec.id), Nil)
      if (js.isEmpty) a.exec.end - a.exec.start
      else a.exec.end - js.map(_.end).max
    }.map(_.toDouble.max(0.0)).sum
    val bytes = writes.flatMap(a => jobsByExec.getOrElse(Some(a.exec.id), Nil))
      .flatMap(tree.rec.stagesOf).map(_.bytesWritten).sum
    Map(
      "io.manifest.write_s" -> commitTail / 1000.0,
      "io.manifest.recount_s" -> assigned.filter(_.role == "recount")
        .map(a => (a.exec.end - a.exec.start).toDouble).sum / 1000.0,
      "io.manifest.bytes_written_mb" -> bytes / 1048576.0)
  }
}

/** `LinkJob.run` over the ScalingBench fixture generator. */
final class LinkBatch(ctx: Ctx, entities: Long, warmUpEntities: Long) extends Workload(ctx) {
  import ctx.spark.implicits._
  def name = "link_batch"
  private val gen = Fixtures.GenConfig(seed = ctx.seed, hotKeyFraction = 0.001, surnameSpace = 30000)
  private def input(i: Int) = dir(if (i == 0) "warm-up-input" else "input").toString
  private val summaries = mutable.Map[Int, LinkJob.Summary]()

  def prepare(): Unit = Seq(0 -> warmUpEntities, 1 -> entities).foreach { case (i, n) =>
    Fixtures.docs(spark, n, gen).write.mode("overwrite").parquet(input(i))
  }

  def docs: Dataset[Doc] = spark.read.parquet(input(1)).as[Doc]

  def op(i: Int): Op = {
    val docs = spark.read.parquet(input(i)).as[Doc]
    val (s, op) = timed(i)(LinkJob.run(spark, docs, MatchConfig.fixture, outDir(i).toString))(s =>
      s"docs=${s.docs} pairs=${s.pairs} matches=${s.matches} clusters=${s.clusters}")
    summaries(i) = s
    op
  }

  /** The same docs streamed, checked against this job's edges. */
  override val companions: Seq[Workload] = Seq(new LinkStream(ctx, this, files = 3))

  /** Edges of the latest operation, as `(a_id, b_id)` with `a_id < b_id`. */
  def latestEdges: DataFrame =
    spark.read.parquet(outDir(summaries.keys.max).resolve("edges").toString)

  private val layerOf: String => String = {
    case "records" => "pipeline.extract"
    case "blocks" => "pipeline.block"
    case "pairs" => "pipeline.pairs"
    case "scored" => "pipeline.score"
    case "classified" | "edges" => "pipeline.classify"
    case s if s.startsWith("cc_iter_") || s == "clusters" => "pipeline.cluster"
    case "lineage" => "io.lineage"
    case other => s"job.$other"
  }

  def layers(op: Op, tree: SpanTree, opSpan: Span): Map[String, Double] = {
    val assigned = Tiles.manifest(tree, opSpan, outDir(op.index), layerOf)
    val l = Tiles.sums(tree, Tiles.build(tree, opSpan, assigned))
    def g(layer: String, k: String) = l.get(layer).flatMap(_.get(k)).getOrElse(0.0)
    val rows = new StageManifest(outDir(op.index).toString).completedRows
    val s = summaries(op.index)
    val ccIters = rows.keys.count(_.startsWith("cc_iter_"))
    Tiles.manifestIo(tree, assigned) ++ Map(
      "pipeline.extract.wall_s" -> g("pipeline.extract", "wall_s"),
      "pipeline.block.wall_s" -> g("pipeline.block", "wall_s"),
      "pipeline.block.out_rows" -> rows.getOrElse("blocks", 0L).toDouble,
      "pipeline.pairs.wall_s" -> g("pipeline.pairs", "wall_s"),
      "pipeline.pairs.out_rows" -> rows.getOrElse("pairs", 0L).toDouble,
      "pipeline.pairs.shuffle_mb" -> g("pipeline.pairs", "shuffle_mb"),
      "pipeline.pairs.salted_blocks" -> s.saltedBlocks.toDouble,
      "pipeline.pairs.dropped_blocks" -> s.droppedBlocks.toDouble,
      "pipeline.match_yield" -> s.matches.toDouble / math.max(1L, s.pairs),
      "pipeline.score.wall_s" -> g("pipeline.score", "wall_s"),
      "pipeline.score.cpu_s" -> g("pipeline.score", "cpu_s"),
      "pipeline.score.pairs_per_s" -> s.pairs / math.max(1e-9, g("pipeline.score", "wall_s")),
      "pipeline.cluster.wall_s" -> g("pipeline.cluster", "wall_s"),
      "pipeline.cluster.iterations" -> ccIters.toDouble,
      "pipeline.cluster.jobs" -> g("pipeline.cluster", "jobs"),
      "io.lineage.wall_s" -> g("io.lineage", "wall_s"))
  }

  def gate(ops: Seq[Op]): Gate = {
    val (badFp, notes) = fingerprintGate(ops)
    // the F1 of the last operation; every operation's decisions equal it
    // when no fingerprint differs, so a miss fails them all
    val out = outDir(ops.last.index).toString
    val labeled = Eval.labeledPairs(
      spark.read.parquet(s"$out/blocks").as[ErPipeline.BlockRow],
      Fixtures.goldClusters(spark, entities, gen))
    val f1 = Eval.pairwiseF1(spark.read.parquet(s"$out/edges"), labeled).f1
    if (f1 >= 0.99) Gate(f1, badFp, notes)
    else Gate(f1, ops.size, notes :+ f"pair_f1 $f1%.5f < 0.99")
  }
}

/** `IncrementalLink.linkStream` over the docs of a [[LinkBatch]], pre-split
  * into single-file drops and replayed one file per trigger: the next drop
  * is read only after the previous trigger has committed. An operation runs
  * from stream start until the stream has drained.
  */
final class LinkStream(ctx: Ctx, batch: LinkBatch, files: Int) extends Workload(ctx) {
  import ctx.spark.implicits._
  def name = "link_stream"
  private def in = dir("drops")
  private val nBuckets = 4
  private def table(i: Int) = s"perfbench_corpus_$i"

  def prepare(): Unit = Inputs.drops(batch.docs, files, in, dir("stage"))

  private def sub(i: Int, d: String) = outDir(i).resolve(d).toString

  def op(i: Int): Op = {
    val schema = spark.read.parquet(in.toString).schema
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(in.toString).as[Doc]
    val (q, op) = timed(i) {
      val q = IncrementalLink.linkStream(stream, MatchConfig.fixture,
        corpusDir = sub(i, "corpus"), edgesDir = sub(i, "edges"), checkpointDir = sub(i, "ckpt"),
        corpusTable = Some(table(i)), nBuckets = nBuckets,
        clustersDir = Some(sub(i, "labels")), nClusterBuckets = nBuckets)
      try q.processAllAvailable() finally q.stop()
      q
    }(q => s"triggers=${q.recentProgress.count(_.numInputRows > 0)} " +
      s"edges=${graft.io.EdgeLog.read(spark, sub(i, "edges")).count()}")
    val triggers = q.recentProgress.filter(_.numInputRows > 0).map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      (s"trigger ${p.batchId}", start, start + p.durationMs.get("triggerExecution").doubleValue)
    }
    op.copy(parts = triggers.toSeq)
  }

  override def release(op: Op): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${table(op.index)}")
    spark.sql(s"DROP TABLE IF EXISTS ${table(op.index)}_blocks")
    super.release(op)
  }

  def layers(op: Op, tree: SpanTree, opSpan: Span): Map[String, Double] = {
    val i = op.index
    def under(d: String)(p: String) = p.startsWith(sub(i, d) + "/") || p == sub(i, d)
    // the writes and reads of each micro-batch are executions nested in the
    // trigger's own, so every execution counts here, not only the roots
    val execs = tree.execsIn(opSpan.start, opSpan.end)
    def secs(es: Seq[Exec]) = es.map(e => (e.end - e.start).toDouble).sum / 1000
    val io = execs.map(e => e -> tree.ioOf(e))
    def writing(d: String) = io.collect { case (e, x) if x.writes.exists(under(d)) => e }
    // the probe: reads of the accumulated corpus that write nothing
    val probes = io.collect { case (e, x) if x.writes.isEmpty && x.reads.exists(under("corpus")) => e }
    val progress = tree.rec.progress.asScala.toSeq
    def phase(k: String) = progress.map(_.durations.getOrElse(k, 0L)).sum / 1000.0
    val triggers = op.parts.size
    op.parts.foreach { case (n, s, e) => tree.addJobs(tree.add(opSpan.id, "trigger", n, s, e), tree.jobsIn(s, e)) }
    Map(
      "streaming.wall_s" -> op.wallS,
      "streaming.trigger.add_batch_s" -> phase("addBatch"),
      "streaming.trigger.plan_s" -> phase("queryPlanning"),
      "streaming.trigger.commit_s" -> (phase("walCommit") + phase("commitOffsets")),
      "streaming.probe_s" -> secs(probes),
      "streaming.jobs_per_trigger" -> tree.jobsIn(opSpan.start, opSpan.end).size.toDouble / math.max(1, triggers),
      "streaming.trigger_p50_s" -> Stats.median(op.partSeconds),
      "io.corpus.append_s" -> secs(writing("corpus")),
      "io.edgelog.append_s" -> secs(writing("edges")),
      "io.labels.commit_s" -> secs(writing("labels")))
  }

  /** Streamed edges equal the batch job's over the same docs, and the
    * fingerprint holds.
    */
  def gate(ops: Seq[Op]): Gate = {
    val (badFp, notes) = fingerprintGate(ops)
    val edges = batch.latestEdges.select("a_id", "b_id")
    val streamed = graft.io.EdgeLog.read(spark, sub(ops.last.index, "edges")).select("a_id", "b_id")
    val extra = streamed.exceptAll(edges).count()
    val missing = edges.exceptAll(streamed).count()
    val same = if (extra == 0 && missing == 0) 1.0 else 0.0
    if (same == 1.0) Gate(same, badFp, notes)
    else Gate(same, ops.size, notes :+ s"streamed edges differ from batch: $extra extra, $missing missing")
  }
}

/** `DedupJob.run` over the 50x `DedupScale.expand` of seeded documents. */
final class DedupBatch(ctx: Ctx, baseDocs: Long, warmUpDocs: Long) extends Workload(ctx) {
  def name = "dedup_batch"
  private def corpus(i: Int) = dir(if (i == 0) "warm-up-corpus" else "corpus").toString
  private val summaries = mutable.Map[Int, DedupJob.Summary]()

  def prepare(): Unit = Seq(0 -> warmUpDocs, 1 -> baseDocs).foreach { case (i, n) =>
    DedupScale.expand(Inputs.documents(spark, ctx.seed, n))
      .repartition(4).write.mode("overwrite").parquet(corpus(i))
  }

  def op(i: Int): Op = {
    val docs = spark.read.parquet(corpus(i))
    val (s, op) = timed(i)(DedupJob.run(spark, docs, outDir(i).toString))(s =>
      s"clusters=${s.clusters} kept=${s.kept} edges=${s.edges} candidates=${s.candidates}")
    summaries(i) = s
    op
  }

  private val layerOf: String => String = {
    case "grouped" => "training.fps"
    case "banded" | "candidates" => "pipeline.banded"
    case "edges" => "pipeline.verify"
    case "decisions" => "pipeline.cluster"
    case other => s"job.$other"
  }

  def layers(op: Op, tree: SpanTree, opSpan: Span): Map[String, Double] = {
    val assigned = Tiles.manifest(tree, opSpan, outDir(op.index), layerOf)
    val l = Tiles.sums(tree, Tiles.build(tree, opSpan, assigned))
    def g(layer: String, k: String) = l.get(layer).flatMap(_.get(k)).getOrElse(0.0)
    val s = summaries(op.index)
    // one signature collect before the loop, then one per iteration
    val signatures = assigned.count(a => a.layer == "pipeline.cluster" && a.role == "compute")
    Tiles.manifestIo(tree, assigned) ++ Map(
      "training.fps.wall_s" -> g("training.fps", "wall_s"),
      "pipeline.banded.wall_s" -> g("pipeline.banded", "wall_s"),
      "pipeline.banded.out_rows" -> s.candidates.toDouble,
      "pipeline.verify.wall_s" -> g("pipeline.verify", "wall_s"),
      "pipeline.verify_yield" -> s.edges.toDouble / math.max(1L, s.candidates),
      "pipeline.cluster.wall_s" -> g("pipeline.cluster", "wall_s"),
      "pipeline.cluster.iterations" -> math.max(0, signatures - 1).toDouble,
      "pipeline.cluster.jobs" -> g("pipeline.cluster", "jobs"))
  }

  def gate(ops: Seq[Op]): Gate = {
    val (badFp, notes) = fingerprintGate(ops)
    val recall = DedupScale.recall(spark.read.parquet(corpus(1)),
      spark.read.parquet(outDir(ops.last.index).resolve("decisions").toString)).recall
    Gate(recall, badFp, notes)
  }

  /** The catalog queries the dedup and pair kernels serve. */
  override val companions: Seq[Workload] = Seq(new QueryCatalog(ctx, scale = 1,
    SparkEntry.queries.keys.toSeq.filter(QueryCatalog.traced)))
}

object QueryCatalog {
  /** The query families the catalog layers name: near-dup, connected
    * components, sorted neighbourhood, ANN and the pair kernels.
    */
  def traced(q: String): Boolean = q.contains("near_dup") || q.startsWith("q_embed_") ||
    q.startsWith("q_pair_") || q == "q_cc_order_chains" || q == "q_sorted_neighborhood"
}

/** One pass of `SparkEntry.queries` entries over a seeded catalog. Each
  * query is forced by its row count and an order-independent hash of its
  * rows, one aggregate over every column: unlike `count()`, which lets the
  * optimizer prune the columns nothing reads, it computes every kernel the
  * query projects.
  */
final class QueryCatalog(ctx: Ctx, scale: Int, queries: Seq[String]) extends Workload(ctx) {
  def name = "query_catalog"
  private def tables = dir("catalog").toString
  private val names = queries.sorted
  /** Row count and hash per query, by operation. */
  private val digests = mutable.Map[Int, Map[String, (Long, BigDecimal)]]()

  def prepare(): Unit = Inputs.catalog(spark, ctx.seed, scale, dir("catalog"))

  private def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(c => col(s"`$c`")): _*)
      .cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  def op(i: Int): Op = {
    val parts = mutable.ArrayBuffer[(String, Double, Double)]()
    val (d, op) = timed(i) {
      names.map { q =>
        val s = Clock.ms()
        val d = digest(SparkEntry.queries(q)(spark, tables))
        parts += ((q, s, Clock.ms()))
        q -> d
      }.toMap
    }(d => s"queries=${d.size} rows=${d.values.map(_._1).sum} " +
      s"hash=${d.values.map(_._2).sum.abs % 1000000007}")
    digests(i) = d
    op.copy(parts = parts.toSeq)
  }

  def layers(op: Op, tree: SpanTree, opSpan: Span): Map[String, Double] = {
    val spans = op.parts.map { case (q, s, e) =>
      val sp = tree.add(opSpan.id, "query", q, s, e)
      tree.addJobs(sp, tree.jobsIn(s, e))
      sp
    }
    def wall(p: String => Boolean) = op.parts.collect { case (q, s, e) if p(q) => (e - s) / 1000 }.sum
    val gap = spans.map(sp => sp.dur - Intervals.covered(
      tree.jobsIn(sp.start, sp.end).map(j => (j.start.toDouble, j.end.toDouble)), sp.start, sp.end)).sum
    Map(
      "catalog.wall_s" -> op.wallS,
      "catalog.jobs_per_query" -> tree.jobsIn(opSpan.start, opSpan.end).size.toDouble / names.size,
      "catalog.driver_gap_s" -> gap / 1000,
      "catalog.query_p50_s" -> Stats.median(op.partSeconds),
      "catalog.near_dup_s" -> wall(_.contains("near_dup")),
      "catalog.cc_order_chains_s" -> wall(_ == "q_cc_order_chains"),
      "catalog.sorted_neighborhood_s" -> wall(_ == "q_sorted_neighborhood"),
      "catalog.ann_s" -> wall(q => q.startsWith("q_embed_ann") || q == "q_embed_cosine_topk"),
      "catalog.pair_kernels_s" -> wall(_.startsWith("q_pair_")))
  }

  override def release(op: Op): Unit = ()

  /** Every query returns its pinned row count and hash (`reference.json`);
    * for an unpinned seed the fingerprint gate covers the totals. A query
    * that misses fails its operation.
    */
  def gate(ops: Seq[Op]): Gate = {
    val (badFp, fpNotes) = fingerprintGate(ops)
    val ref = ctx.reference.queries(ctx.seed)
    val notes = mutable.ArrayBuffer[String]() ++ fpNotes
    val bad = ops.count { o =>
      val d = digests(o.index)
      val miss = names.filter(q => ref.get(q).exists(_ != d(q)))
      miss.foreach(q => notes += s"op ${o.index} $q: [rows, hash] ${d(q)} != ${ref(q)}")
      miss.nonEmpty
    }
    if (ref.isEmpty) System.err.println(names.map(q => s"${Json.str(q)}: " +
      s"[${digests(ops.head.index)(q)._1}, ${Json.str(digests(ops.head.index)(q)._2.toString)}]")
      .mkString(s"[perfbench] no pinned rows for seed ${ctx.seed}:\n", ",\n", ""))
    Gate(1.0, math.max(bad, badFp), notes.toSeq)
  }
}
