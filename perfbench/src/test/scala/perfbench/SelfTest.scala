package perfbench

import java.util.Properties

import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart}

/** Checks of the benchmark's own recorder that need no Spark session.
  *
  *   python3 perfbench/run.py --self-test
  */
object SelfTest {
  private var failures = 0

  private def check(what: String)(ok: => Boolean): Unit = {
    val passed = scala.util.Try(ok).getOrElse(false)
    if (!passed) failures += 1
    println(s"${if (passed) "PASS" else "FAIL"} $what")
  }

  def main(args: Array[String]): Unit = {
    check("a job end whose start was never seen is counted, not thrown") {
      val rec = new Recorder
      rec.sparkListener.onJobEnd(SparkListenerJobEnd(7, 1000L, JobSucceeded))
      rec.orphanJobEnds.get == 1 && rec.jobs.isEmpty
    }

    check("a seen job gets its end time and SQL execution id") {
      val rec = new Recorder
      val props = new Properties()
      props.setProperty("spark.sql.execution.id", "3")
      rec.sparkListener.onJobStart(SparkListenerJobStart(1, 100L, Nil, props))
      rec.sparkListener.onJobEnd(SparkListenerJobEnd(1, 250L, JobSucceeded))
      val j = rec.jobs.get(1)
      j.end == 250L && j.execId.contains(3L) && rec.orphanJobEnds.get == 0
    }

    check("a job start without properties is recorded without an execution") {
      val rec = new Recorder
      rec.sparkListener.onJobStart(SparkListenerJobStart(2, 100L, Nil, null))
      rec.jobs.get(2).execId.isEmpty
    }

    check("covered length merges overlapping intervals and clips to the window") {
      val c = Intervals.covered(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 30.0), (40.0, 50.0)), 2.0, 45.0)
      math.abs(c - (13.0 + 10.0 + 5.0)) < 1e-9
    }

    check("self time is duration minus what the children cover") {
      val t = new SpanTree(new Recorder)
      val op = t.add(0, "op", "op", 0.0, 100.0)
      t.add(op.id, "layer", "a", 0.0, 40.0)
      t.add(op.id, "layer", "b", 30.0, 70.0)
      math.abs(t.selfTimes(op.id) - 30.0) < 1e-9
    }

    check("the median of an even count is the mean of the middle two") {
      Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5 && Stats.median(Seq(5.0, 1.0, 2.0)) == 2.0
    }

    check("an unpinned seed's first fingerprint is recorded and then expected") {
      val store = java.nio.file.Files.createTempDirectory("perfbench-selftest")
      val ref = Reference.load(None, Some(store))
      val before = ref.fingerprint("w", 7L)
      ref.remember("w", 7L, "a=1")
      ref.remember("w", 7L, "a=2")
      graft.io.LocalFs.deleteTree(store.resolve("w-7"))
      before.isEmpty && ref.fingerprint("w", 7L).isEmpty &&
        { ref.remember("w", 7L, "a=3"); ref.fingerprint("w", 7L).contains("a=3") }
    }

    if (failures > 0) {
      println(s"$failures check(s) failed")
      sys.exit(1)
    }
  }
}
