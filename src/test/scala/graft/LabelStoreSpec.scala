package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.io.LabelStore
import graft.streaming.LabelCommit

/** Unit coverage for the storage behind the streaming cluster labels
  * ([[LabelStore]]: append-only doc rows plus one forwarding map per batch):
  * time travel, the empty store, and expiry. LabelCommitSpec and the stream
  * specs prove the commit and the stream integration.
  */
class LabelStoreSpec extends SparkSpec {
  import spark.implicits._

  private def readSet(df: DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSet

  /** Commits four batches that grow, merge and re-merge clusters; returns the
    * labeling after each.
    */
  private def fourBatches(root: String): Seq[Set[(String, String)]] = {
    val batches = Seq(
      (Seq("b" -> "c"), Seq("b", "c", "x")),
      (Seq("a" -> "d"), Seq("a", "d")),
      (Seq("d" -> "c"), Seq("e")),        // merges b's cluster into a's
      (Seq("x" -> "a", "e" -> "f"), Seq("f")))
    batches.zipWithIndex.map { case ((e, ids), k) =>
      LabelCommit.commit(spark, root, 4, k.toLong, e.toDF("a_id", "b_id"), ids.toDF("doc_id"), None)
      readSet(new LabelStore(root, 4).read(spark))
    }
  }

  test("time travel: every committed batch reads back its own labeling") {
    val root = Files.createTempDirectory("graft-ls-tt").toString
    val store = new LabelStore(root, 4)
    assert(store.currentSnapshot === None)
    intercept[IllegalStateException](store.read(spark))

    val after = fourBatches(root)
    assert(store.currentSnapshot === Some(3L))
    assert(after(0) === Set("b" -> "b", "c" -> "b", "x" -> "x"))
    assert(after(2) === Set("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a", "e" -> "e", "x" -> "x"))
    assert(after(3) === Set("a", "b", "c", "d", "x").map(_ -> "a") ++ Set("e" -> "e", "f" -> "e"))
    for (k <- 0 to 3)
      assert(readSet(store.readSnapshot(spark, k.toLong)) === after(k), s"snapshot $k")
  }

  test("expire keeps the newest maps and every doc row; an expired snapshot read throws") {
    val root = Files.createTempDirectory("graft-ls-exp").toString
    val store = new LabelStore(root, 4)
    val after = fourBatches(root)
    def maps = new java.io.File(s"$root/fwd").list().toSet

    LabelStore.expire(root, keepLast = 2)
    assert(maps === Set("batch_id=2", "batch_id=3"))
    assert(readSet(store.read(spark)) === after(3))
    assert(readSet(store.readSnapshot(spark, 2L)) === after(2))
    intercept[Exception](store.readSnapshot(spark, 1L).collect())
    // the doc rows are shared by every snapshot: none is dropped
    assert(spark.read.parquet(s"$root/docs").count() === 7L)

    LabelStore.expire(root, keepLast = 1)
    assert(maps === Set("batch_id=3"))
    assert(!Files.exists(Paths.get(s"$root/fwd/batch_id=2")), "an expired map leaves no dir behind")
    assert(store.currentSnapshot === Some(3L))
    assert(readSet(store.read(spark)) === after(3))
    // a second call is a no-op
    LabelStore.expire(root, keepLast = 1)
    assert(maps === Set("batch_id=3"))
    intercept[IllegalArgumentException](LabelStore.expire(root, keepLast = 0))
  }
}
