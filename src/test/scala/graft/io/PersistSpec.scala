package graft.io

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Both pins of `Persist` compute their frame once, under the sandbox's
  * local checkpoints and under a reliable checkpoint dir alike.
  */
class PersistSpec extends SparkSpec {

  /** Evaluations of a 40-row frame's per-row UDF across two actions on its pin. */
  private def evaluations(pin: DataFrame => DataFrame): Long = {
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator
    val tick = udf { (x: Long) => acc.add(1); x }
    val pinned = pin(spark.range(0, 40, 1, 4).select(tick($"id").as("id")))
    assert(pinned.count() === 40)
    assert(pinned.agg(sum("id")).head().getLong(0) === 780)
    acc.value
  }

  test("pinLazy and truncate compute the frame once, with and without a checkpoint dir") {
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("graft-persist-ckpt")
    dir.toFile.deleteOnExit()
    for (reliable <- Seq(false, true)) {
      sc.setCheckpointDir(if (reliable) dir.toString else null)
      try {
        assert(evaluations(Persist.pinLazy) === 40, s"pinLazy, reliable checkpoint = $reliable")
        assert(evaluations(Persist.truncate) === 40, s"truncate, reliable checkpoint = $reliable")
      } finally sc.setCheckpointDir(null)
    }
  }
}
