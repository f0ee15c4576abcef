package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec
import graft.io.LabelStore
import graft.streaming.LabelCommit

/** Incremental CC label maintenance: folding edge batches into the labeling
  * one at a time (`Cluster.mergeDelta` through the stream's label commit)
  * must equal a from-scratch CC over all edges seen so far — on every round,
  * for random graphs, including cross-batch merges of previously separate
  * clusters.
  */
class IncrementalCcSpec extends SparkSpec {
  import spark.implicits._

  /** Commits `edges` as batch `k` (its endpoints are the batch's docs) and
    * returns the labeling after it.
    */
  private def commit(dir: String, k: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    LabelCommit.commit(spark, dir, 4, k, edges.toDF("a_id", "b_id"),
      edges.flatMap(e => Seq(e._1, e._2)).distinct.toDF("doc_id"), None)
    new LabelStore(dir, 4).read(spark).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def full(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Cluster.connectedComponents(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("multi-round merge equals full recompute (randomized, seeded)") {
    val r = new scala.util.Random(23)
    // 3 batches over a 120-node id space: plenty of cross-batch merges
    val batches = Seq.fill(3)(
      Seq.fill(60)((r.nextInt(120).toLong, r.nextInt(120).toLong))
        .filter(e => e._1 != e._2))
    val dir = Files.createTempDirectory("graft-inccc").toString

    var seen = Seq.empty[(Long, Long)]
    for ((batch, k) <- batches.zipWithIndex) {
      seen = seen ++ batch
      assert(commit(dir, k.toLong, batch) === full(seen), s"divergence after ${seen.size} edges")
    }
  }

  test("edges inside existing clusters and empty batches are no-ops") {
    val dir = Files.createTempDirectory("graft-inccc-noop").toString
    val before = commit(dir, 0L, Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    // an edge already implied by the labeling
    assert(commit(dir, 1L, Seq((1L, 3L))) === before)
    // an empty batch
    assert(commit(dir, 2L, Seq.empty) === before)
    // a merge of two existing clusters picks the global minimum label
    assert(commit(dir, 3L, Seq((3L, 10L))) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L))
  }
}
