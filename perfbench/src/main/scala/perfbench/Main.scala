package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Expected results by workload and seed: the ones pinned in
  * `reference.json`, and for any other seed the fingerprint the first run of
  * that seed in this checkout recorded under `store`.
  */
final class Reference(node: Option[JsonNode], store: Option[Path]) {
  private def stored(workload: String, seed: Long) = store.map(_.resolve(s"$workload-$seed"))

  def fingerprint(workload: String, seed: Long): Option[String] =
    node.flatMap(n => Option(n.path(workload).get(seed.toString))).map(_.asText)
      .orElse(stored(workload, seed).filter(Files.exists(_))
        .map(p => new String(Files.readAllBytes(p), StandardCharsets.UTF_8)))

  /** Records `fp` as the expected fingerprint of an unpinned seed. */
  def remember(workload: String, seed: Long, fp: String): Unit =
    if (fingerprint(workload, seed).isEmpty) stored(workload, seed).foreach { p =>
      Files.createDirectories(p.getParent)
      Files.write(p, fp.getBytes(StandardCharsets.UTF_8))
    }

  /** Pinned `[rows, hash]` per catalog query. */
  def queries(seed: Long): Map[String, (Long, BigDecimal)] =
    node.flatMap(n => Option(n.path("query_catalog_rows").get(seed.toString))).map { q =>
      q.fields().asScala.map(e => e.getKey -> ((e.getValue.get(0).asLong, BigDecimal(e.getValue.get(1).asText))))
        .toMap
    }.getOrElse(Map.empty)
}

object Reference {
  def load(path: Option[Path], store: Option[Path]): Reference =
    new Reference(path.filter(Files.exists(_)).map(p => new ObjectMapper().readTree(p.toFile)), store)
}

/** Runs one workload: set-up (session, inputs and one warm-up operation),
  * the timed operations, then the correctness gates, and writes one JSON
  * result line.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *        --result <file> --reference <json> --fingerprints <dir> --trace-out <file>
  *
  * With `--trace 1` the result carries the per-layer metrics of a traced
  * operation and the traced-minus-untraced wall as `trace.overhead_s`.
  */
object Main {

  val workloads = Seq("link_batch", "dedup_batch")

  /** Sizing of each workload on a 4-core host (see perfbench/README.md). */
  def make(name: String, ctx: Ctx): Workload = name match {
    case "link_batch" => new LinkBatch(ctx, entities = 500, warmUpEntities = 50)
    case "dedup_batch" => new DedupBatch(ctx, baseDocs = 50, warmUpDocs = 5)
  }

  /** Heap bytes still in use after full collections: the live set that
    * caches and pins retain. Spark frees the blocks of unreferenced pinned
    * frames on its cleaner thread once a collection has found them, so the
    * reading follows three collections with pauses between them.
    */
  private def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The one session config of every workload: 4 local cores, one shuffle
    * partition per core as graft.Bench uses, adaptive execution on.
    */
  private def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def secondsSince(t0: Long) = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    require(workloads.contains(name), s"unknown workload $name (one of ${workloads.mkString(", ")})")
    val seed = opts("seed").toLong
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath.normalize()
    Files.createDirectories(work)
    val reference = Reference.load(opts.get("reference").map(Paths.get(_)),
      opts.get("fingerprints").map(Paths.get(_)))

    var attempted = 0
    var failed = 0
    /** Runs operation `i` of `w`; a throw counts as a failed operation. */
    def attempt(w: Workload, i: Int): Option[Op] = {
      attempted += 1
      try {
        w.spark.catalog.clearCache()
        val op = w.op(i)
        System.err.println(f"[perfbench] ${w.name} op $i: wall ${op.wallS}%.3f s, " +
          f"cpu ${op.cpuS}%.3f s, steal ${op.steal * 100}%.0f%%, ${op.fingerprint}")
        Some(op)
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] ${w.name} op $i failed: $e")
          e.printStackTrace()
          failed += 1
          None
      }
    }
    /** Gates `ops` of `w`, outside the timed region, and deletes their output. */
    def gate(w: Workload, ops: Seq[Op]): Gate = {
      val g = if (ops.isEmpty) Gate(0.0, 0, Seq("no operation completed"))
        else try w.gate(ops) catch {
          case e: Exception =>
            e.printStackTrace()
            Gate(0.0, ops.size, Seq(s"gate threw: $e"))
        }
      ops.foreach(w.release)
      failed += math.min(ops.size, g.failedOps)
      g.notes.foreach(n => System.err.println(s"[perfbench] ${w.name} gate: $n"))
      if (g.failedOps == 0) ops.headOption.foreach(o => reference.remember(w.name, seed, o.fingerprint))
      g
    }

    // ---- set-up: session, inputs, and the warm-up operation in the cold JVM
    val s0 = System.nanoTime()
    val ss = session(work)
    val sessionS = secondsSince(s0)
    val w = make(name, Ctx(ss, work, seed, reference))
    val p0 = System.nanoTime()
    w.prepare()
    val prepareS = secondsSince(p0)
    val c0 = System.nanoTime()
    attempt(w, 0).foreach(w.release)
    val coldS = secondsSince(c0)
    val setupS = secondsSince(s0)
    System.err.println(f"[perfbench] $name set-up $setupS%.2f s: session $sessionS%.2f s, " +
      f"inputs $prepareS%.2f s, warm-up operation $coldS%.2f s")

    // ---- timed: warm operations until they have taken `seconds`, at least
    // two; wall_s is the median of their walls. Traced: one untraced
    // operation, then one under the recorder (its wall minus the untraced
    // one's is the tracing overhead), then each companion prepares its
    // inputs and runs one traced operation.
    val seconds = opts("seconds").toDouble
    val t0 = System.nanoTime()
    val untraced = mutable.ArrayBuffer[Op]()
    var next = 1
    def more = if (trace) next == 1 else next <= 2 || secondsSince(t0) < seconds
    while (more) {
      attempt(w, next).foreach(untraced += _)
      next += 1
    }
    val heapMb = liveHeapMb()
    val recorder = if (trace) Some(new Recorder) else None
    val tree = recorder.map(new SpanTree(_))
    val runSpan = tree.map(_.add(0, "run", name, Clock.ms(), Double.NaN))
    /** Operation `i` of `x` under the recorder, with its per-layer figures;
      * the `spark.*` totals and `driver.gap_s` are those of this workload's
      * own operation.
      */
    def traced(x: Workload, i: Int): (Option[Op], Map[String, Double]) = {
      recorder.get.attach(ss)
      val op = try attempt(x, i) finally recorder.get.detach(ss)
      (op, op.map { o =>
        val t = tree.get
        val opSpan = t.add(runSpan.get.id, "op", s"${x.name} op $i", o.start, o.end)
        (if (x eq w) t.sparkTotals(o.start, o.end) else Map.empty[String, Double]) ++ x.layers(o, t, opSpan)
      }.getOrElse(Map.empty))
    }
    val (second, layerRow) = if (trace) traced(w, next) else (None, Map.empty[String, Double])
    val extraRows = if (!trace) Map.empty[String, Double] else w.companions.flatMap { x =>
      x.prepare()
      val (op, row) = traced(x, 0)
      gate(x, op.toSeq)
      row
    }.toMap
    val timed = (untraced ++ second).toSeq
    val g = gate(w, timed)

    // every figure this run measured; run.py reports the ones BENCHMARK.json
    // names, with their units
    val values: Map[String, Double] =
      if (!trace) Map(
        "wall_s" -> Stats.median(untraced.map(_.wallS).toSeq),
        "setup_s" -> setupS,
        "quality" -> g.quality,
        "heap_live_peak_mb" -> heapMb)
      else layerRow ++ extraRows + ("trace.overhead_s" ->
        (second.map(_.wallS).getOrElse(Double.NaN) - untraced.headOption.map(_.wallS).getOrElse(Double.NaN)))

    tree.foreach { t =>
      t.close(runSpan.get, Clock.ms())
      val out = Paths.get(opts("trace-out"))
      Files.createDirectories(out.toAbsolutePath.getParent)
      Files.write(out, t.toJson.getBytes(StandardCharsets.UTF_8))
      System.err.println(s"[perfbench] spans written to $out " +
        s"(${t.spans.size} spans, ${recorder.get.orphanJobEnds.get} job ends without a start)")
      Report.lines(t).foreach(l => System.err.println(s"[perfbench] $l"))
    }

    val correct = failed == 0 && untraced.nonEmpty
    System.err.println(f"[perfbench] $name seed=$seed attempted_ops=$attempted " +
      f"failed_ops=$failed correct=$correct fingerprint=${timed.headOption.map(_.fingerprint).getOrElse("")}")
    val json = s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "values": {""" +
      values.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }
        .mkString(", ") + "}}"
    Files.write(Paths.get(opts("result")), json.getBytes(StandardCharsets.UTF_8))
    ss.stop()
  }
}

/** Human-readable digest of a span tree: per layer its wall, the part its
  * Spark jobs cover and the driver time left over, and the same split of
  * each traced operation.
  */
object Report {
  def lines(t: SpanTree): Seq[String] = {
    def split(s: Span): (Double, Double) = {
      val jobs = Intervals.covered(t.jobsUnder(s).map(j => (j.start, j.end)), s.start, s.end)
      (jobs / 1000, (s.dur - jobs) / 1000)
    }
    val layers = t.spans.filter(_.kind == "layer").groupBy(_.name).toSeq
      .sortBy(-_._2.map(_.dur).sum).map { case (n, ss) =>
        val (jobs, driver) = ss.map(split).foldLeft((0.0, 0.0)) { case (a, b) => (a._1 + b._1, a._2 + b._2) }
        f"layer $n%-20s wall ${jobs + driver}%7.3f s = jobs $jobs%7.3f s + driver $driver%6.3f s"
      }
    val ops = t.spans.filter(_.kind == "op").map { op =>
      val (jobs, driver) = split(op)
      f"${op.name}: wall ${op.dur / 1000}%.3f s = jobs $jobs%.3f s + driver gap $driver%.3f s"
    }
    layers.toSeq ++ ops
  }
}
