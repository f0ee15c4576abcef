package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Optimization-round side harness (guide §1.1/§1.4) — NOT the driver bench:
  * `graft.Bench` stays the frozen measurement contract; this main exists so
  * plan shapes and noop-sink timings can be captured per query without
  * touching it.
  *
  *   runMain graft.BenchExtra plans <outDir> [q1,q2,...]   -> explain("formatted") per query
  *   runMain graft.BenchExtra noop [reps] [q1,q2,...]      -> min-of-reps noop-sink seconds per query
  *
  * The noop sink computes every column of every row (unlike Bench's count(),
  * which lets Catalyst prune unused projections), so kernel-heavy queries are
  * timed as computations here even when the count-shape prunes them.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(100000).selectExpr("sum(xxhash64(id) / 1e9)").collect()

    val mode = args.headOption.getOrElse("plans")
    mode match {
      case "plans" =>
        val outDir = args(1)
        val only = args.lift(2).map(_.split(',').toSet)
        Files.createDirectories(Paths.get(outDir))
        SparkEntry.queries.toSeq.sortBy(_._1)
          .filter { case (n, _) => only.forall(_.contains(n)) }
          .foreach { case (name, fn) =>
            spark.sparkContext.setJobDescription(s"plan: $name")
            try {
              val df = fn(spark, sfDir)
              Files.writeString(Paths.get(s"$outDir/$name.txt"),
                df.queryExecution.explainString(
                  org.apache.spark.sql.execution.FormattedMode))
            } catch {
              case e: Throwable => System.err.println(s"[plans] $name failed: $e")
            }
          }
      case "noop" =>
        val reps = args.lift(1).map(_.toInt).getOrElse(3)
        val only = args.lift(2).map(_.split(',').toSet)
        val names = SparkEntry.queries.keys.toSeq.sorted
          .filter(n => only.forall(_.contains(n)))
        val best = scala.collection.mutable.Map.empty[String, Double]
        for (_ <- 1 to reps; name <- names) {
          spark.sparkContext.setJobDescription(s"noop: $name")
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          if (!best.get(name).exists(_ <= dt)) best(name) = dt
        }
        val qs = names.map(k => s"\"" + k + "\":" + best(k)).mkString("{", ",", "}")
        println(s"""{"metric":"noop_total","value":${names.map(best).sum},"unit":"sec","queries":$qs,"sf":"$sfDir","reps":$reps,"agg":"min"}""")
      case "jobs" =>
        // per-Spark-job wall times for ONE query (guide §7.1 stand-in — the
        // UI is disabled in this sandbox): shows how many sequential driver
        // actions a query costs and where the time goes
        val name = args(1)
        val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
        val done = scala.collection.mutable.ArrayBuffer[(Int, Double, String)]()
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobs.put(js.jobId, (System.nanoTime(),
              Option(js.properties.getProperty("spark.job.description")).getOrElse("")))
          // a job end whose start this listener never saw is ignored
          override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
            Option(jobs.get(je.jobId)).foreach { case (t0, d) =>
              done.synchronized { done += ((je.jobId, (System.nanoTime() - t0) / 1e9, d)) }
            }
        })
        for (rep <- 1 to 2) {
          done.synchronized(done.clear())
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          Thread.sleep(200)
          println(f"== rep $rep: $name total $dt%.3f s")
          done.synchronized(done.sortBy(_._1)).foreach { case (id, t, d) =>
            println(f"  job $id%3d  $t%7.3f s  $d")
          }
        }
      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }
}
