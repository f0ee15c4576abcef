package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-clock milliseconds with sub-millisecond resolution, on the same
  * epoch as the `time` fields of Spark's listener events.
  */
object Clock {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6
}

/** One interval of a traced run, in epoch milliseconds. `parent` is the id
  * of the span that caused it (0 for the root).
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Double, end: Double) {
  def dur: Double = end - start
}

object Intervals {
  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def covered(ivs: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val sorted = ivs.iterator.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    sorted.foreach { case (s, e) =>
      if (cs.isNaN) { cs = s; ce = e }
      else if (s <= ce) ce = math.max(ce, e)
      else { total += ce - cs; cs = s; ce = e }
    }
    if (!cs.isNaN) total += ce - cs
    total
  }
}

final case class Job(id: Int, start: Long, execId: Option[Long]) {
  @volatile var end: Long = -1L
}
final case class StageRun(id: Int, jobId: Option[Int], start: Long, end: Long,
    cpuNs: Long, gcMs: Long, shuffleWrite: Long, spill: Long, bytesWritten: Long)
final case class Exec(id: Long, root: Long, start: Long) {
  @volatile var end: Long = -1L
  /** Id of the query execution behind it (not the SQL execution id). */
  @volatile var qeId: Long = -1L
}
final case class ExecIo(writes: Seq[String], reads: Seq[String])
/** One streaming trigger: its batch id, input rows and phase durations (ms). */
final case class Progress(batchId: Long, rows: Long, durations: Map[String, Long])

/** Raw Spark events of a traced region, collected from outside the program:
  *  - a [[SparkListener]] for job and stage intervals with task metrics and
  *    for SQL execution intervals;
  *  - a [[QueryExecutionListener]] for the directories each SQL execution
  *    writes and reads;
  *  - a [[StreamingQueryListener]] for the phase durations of each trigger
  *    that read input.
  * Everything stays in memory until the run ends.
  */
final class Recorder {
  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[(Int, Int), StageRun]()
  val execs = new ConcurrentHashMap[Long, Exec]()
  /** Directories read and written, by query execution id. */
  val execIo = new ConcurrentHashMap[Long, ExecIo]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
  /** Job ends whose start this recorder never saw (a job already running
    * when the listener was attached): counted and otherwise ignored.
    */
  val orphanJobEnds = new java.util.concurrent.atomic.AtomicInteger()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val exec = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      js.stageIds.foreach(s => stageToJob.put(s, js.jobId))
      jobs.put(js.jobId, Job(js.jobId, js.time, exec))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(jobs.get(je.jobId)) match {
        case Some(j) => j.end = je.time
        case None => orphanJobEnds.incrementAndGet()
      }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val tm = si.taskMetrics
      if (tm != null) stages.put((si.stageId, si.attemptNumber()), StageRun(
        si.stageId, Option(stageToJob.get(si.stageId)),
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
        tm.executorCpuTime, tm.jvmGCTime, tm.shuffleWriteMetrics.bytesWritten,
        tm.memoryBytesSpilled + tm.diskBytesSpilled, tm.outputMetrics.bytesWritten))
    }
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case s: SparkListenerSQLExecutionStart =>
        execs.put(s.executionId, Exec(s.executionId,
          s.rootExecutionId.getOrElse(s.executionId), s.time))
      case e: SparkListenerSQLExecutionEnd =>
        Option(execs.get(e.executionId)).foreach { x =>
          x.end = e.time
          org.apache.spark.sql.PerfbenchQe.idOf(e).foreach(x.qeId = _)
        }
      case _ =>
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      execIo.put(qe.id, Recorder.ioOf(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      execIo.put(qe.id, Recorder.ioOf(qe))
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) progress.add(Progress(p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Completed stage runs of job `j`. */
  def stagesOf(j: Job): Seq[StageRun] =
    stages.values.asScala.filter(s => s.jobId.contains(j.id)).toSeq
}

object Recorder {
  private def norm(p: String): String =
    java.nio.file.Paths.get(new java.net.URI(
      if (p.startsWith("file:")) p else "file://" + p)).normalize().toString

  /** Directories a query execution writes (file-source inserts) and reads
    * (file-source relations), from its analyzed plan.
    */
  def ioOf(qe: QueryExecution): ExecIo = {
    val writes = mutable.ArrayBuffer[String]()
    val reads = mutable.ArrayBuffer[String]()
    def visit(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit = p.foreach {
      case c: InsertIntoHadoopFsRelationCommand => writes += norm(c.outputPath.toString)
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => reads ++= h.location.rootPaths.map(r => norm(r.toString))
        case _ =>
      }
      case _ =>
    }
    scala.util.Try(visit(qe.analyzed))
    ExecIo(writes.toSeq, reads.toSeq)
  }
}

/** Builds the span tree of one traced operation and the per-layer figures
  * derived from it: operation -> layer -> SQL execution -> Spark job -> Spark
  * stage. A layer span covers a consecutive run of SQL executions that the
  * workload's classifier assigns to the same layer.
  */
final class SpanTree(val rec: Recorder) {
  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1L
  def add(parent: Long, kind: String, name: String, start: Double, end: Double): Span = {
    val s = Span(nextId, parent, kind, name, start, end)
    nextId += 1
    spans += s
    s
  }

  def close(s: Span, end: Double): Unit = spans(spans.indexOf(s)) = s.copy(end = end)

  def jobsIn(lo: Double, hi: Double): Seq[Job] =
    rec.jobs.values.asScala.filter(j => j.end >= 0 && j.start >= lo && j.start <= hi)
      .toSeq.sortBy(_.start)

  def execsIn(lo: Double, hi: Double): Seq[Exec] =
    rec.execs.values.asScala.filter(e => e.end >= 0 && e.start >= lo && e.start <= hi)
      .toSeq.sortBy(e => (e.start, e.id))

  /** The root SQL execution of `execId` (nested executions roll up). */
  def rootOf(execId: Long): Long = Option(rec.execs.get(execId)).map(_.root).getOrElse(execId)

  def ioOf(e: Exec): ExecIo =
    Option(rec.execIo.get(e.qeId)).getOrElse(ExecIo(Nil, Nil))

  /** Spark-level totals over the jobs started inside [lo, hi]. */
  def sparkTotals(lo: Double, hi: Double): Map[String, Double] = {
    val js = jobsIn(lo, hi)
    val ss = js.flatMap(rec.stagesOf)
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> ss.size.toDouble,
      "spark.task_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
      "spark.shuffle_write_mb" -> ss.map(_.shuffleWrite).sum / 1048576.0,
      "spark.spill_mb" -> ss.map(_.spill).sum / 1048576.0,
      "spark.gc_s" -> ss.map(_.gcMs).sum / 1000.0,
      "driver.gap_s" -> ((hi - lo) - Intervals.covered(
        js.map(j => (j.start.toDouble, j.end.toDouble)), lo, hi)) / 1000.0)
  }

  /** Job spans below `s`, through any depth of layer and execution spans. */
  def jobsUnder(s: Span): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def walk(p: Span): Seq[Span] = kids.getOrElse(p.id, Nil).toSeq.flatMap { c =>
      if (c.kind == "job") Seq(c) else walk(c)
    }
    walk(s)
  }

  /** Adds a span for each job in `js`, with its stages, under `parent`. */
  def addJobs(parent: Span, js: Seq[Job]): Unit = js.foreach { j =>
    val js0 = add(parent.id, "job", s"job ${j.id}", j.start.toDouble, j.end.toDouble)
    rec.stagesOf(j).foreach(s => add(js0.id, "stage", s"stage ${s.id}", s.start.toDouble, s.end.toDouble))
  }

  /** Self time of every span: its duration minus the part its children cover. */
  def selfTimes: Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.dur - Intervals.covered(
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end))
    }.toMap
  }

  def toJson: String = {
    val self = selfTimes
    spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"kind":${Json.str(s.kind)},""" +
        s""""name":${Json.str(s.name)},"start_ms":${s.start},"end_ms":${s.end},""" +
        s""""self_ms":${self(s.id)}}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}
