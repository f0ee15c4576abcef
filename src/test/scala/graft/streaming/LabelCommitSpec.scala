package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.io.{LabelStore, LocalFs}

/** The shared per-batch label commit: labels equal full CC over the edges
  * so far, a batch writes only its new doc rows and one forwarding map, and
  * the commit is idempotent under foreachBatch's at-least-once replay — from
  * the crash window between the doc append and the map write as well as
  * after a committed batch.
  */
class LabelCommitSpec extends SparkSpec {
  import spark.implicits._

  private def edges(ps: (String, String)*) = ps.toDF("a_id", "b_id")
  private def ids(is: String*) = is.toDF("doc_id")

  private def labelsOf(dir: String, nBuckets: Int = 8): Seq[(String, String)] =
    new LabelStore(dir, nBuckets).read(spark)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted

  /** `(doc_id, lab)` rows batch `k` appended. */
  private def docRows(dir: String, k: Long): Seq[(String, String)] = {
    val p = s"$dir/docs/batch_id=$k"
    if (!Files.exists(Paths.get(p))) Nil
    else spark.read.parquet(p).collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
  }

  private def allDocRows(dir: String): Long = spark.read.parquet(s"$dir/docs").count()

  /** The `lab -> root` map batch `k` committed. */
  private def fwdOf(dir: String, k: Long): Map[String, String] =
    spark.read.parquet(s"$dir/fwd/batch_id=$k").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  /** The crash window: the batch's doc rows landed, its map did not. */
  private def dropNewestMap(dir: String): Unit = {
    val k = new LabelStore(dir, 8).currentSnapshot.get
    LocalFs.deleteTree(Paths.get(s"$dir/fwd/batch_id=$k"))
  }

  test("replayed batch (labels ahead of every other artifact) is a no-op on content") {
    val dir = Files.createTempDirectory("graft-labelcommit").toString
    // batch 0: d1-d2 edge + edge-free singleton s1
    LabelCommit.commit(spark, dir, 8, 0L, edges("d1" -> "d2"), ids("d1", "d2", "s1"),
      keepSnapshots = None)
    val after0 = labelsOf(dir)
    assert(after0 === Seq("d1" -> "d1", "d2" -> "d1", "s1" -> "s1"))

    // batch 1: new doc d3 joins the cluster, singleton s2
    val b1Edges = edges("d2" -> "d3")
    val b1Ids = ids("d2", "d3", "s2")
    LabelCommit.commit(spark, dir, 8, 1L, b1Edges, b1Ids, None)
    val after1 = labelsOf(dir)
    assert(after1 === Seq("d1" -> "d1", "d2" -> "d1", "d3" -> "d1", "s1" -> "s1", "s2" -> "s2"))
    // the re-sent d2 is not appended again
    assert(docRows(dir, 1L) === Seq("d3" -> "d1", "s2" -> "s2"))

    // REPLAY batch 1 after its commit point, then from the crash window:
    // the same rows, the same map, the same labels
    for (crashWindow <- Seq(false, true)) {
      if (crashWindow) dropNewestMap(dir)
      LabelCommit.commit(spark, dir, 8, 1L, b1Edges, b1Ids, None)
      assert(labelsOf(dir) === after1)
      assert(allDocRows(dir) === 5L)
      assert(new LabelStore(dir, 8).currentSnapshot === Some(1L))
    }
  }

  test("only old roots enter the forwarding map") {
    val dir = Files.createTempDirectory("graft-lc-fwd").toString
    /** Replays batch `k` after its commit point, then from the crash window. */
    def replayLeavesAlone(k: Long, e: DataFrame, is: DataFrame): Unit = {
      val want = labelsOf(dir)
      for (crashWindow <- Seq(false, true)) {
        if (crashWindow) dropNewestMap(dir)
        LabelCommit.commit(spark, dir, 8, k, e, is, None)
        assert(labelsOf(dir) === want, s"replay of batch $k")
        assert(allDocRows(dir) === 5L)
        assert(new LabelStore(dir, 8).currentSnapshot === Some(k))
      }
    }
    LabelCommit.commit(spark, dir, 8, 0L, edges("d1" -> "d2", "d5" -> "d6"),
      ids("d1", "d2", "d5", "d6"), None)
    assert(fwdOf(dir, 0L).isEmpty)

    // a new doc joining an existing cluster: mergeDelta relabels d3's own id
    // to d1, but that row is d3's doc row, not a map entry
    LabelCommit.commit(spark, dir, 8, 1L, edges("d2" -> "d3"), ids("d3"), None)
    assert(docRows(dir, 1L) === Seq("d3" -> "d1"))
    assert(fwdOf(dir, 1L).isEmpty)
    replayLeavesAlone(1L, edges("d2" -> "d3"), ids("d3"))

    // merging two old clusters: exactly one entry, the larger root to the
    // smaller, and no doc row
    LabelCommit.commit(spark, dir, 8, 2L, edges("d6" -> "d3"), ids(), None)
    assert(docRows(dir, 2L) === Nil)
    assert(fwdOf(dir, 2L) === Map("d5" -> "d1"))
    assert(labelsOf(dir) === Seq("d1", "d2", "d3", "d5", "d6").map(_ -> "d1"))
    replayLeavesAlone(2L, edges("d6" -> "d3"), ids())
  }

  test("crash between the doc append and the map write: the previous labeling, then exact recovery") {
    val dir = Files.createTempDirectory("graft-lc-crash").toString
    val batches = Seq(
      (edges("a1" -> "a2"), ids("a1", "a2", "z1")),
      (edges("b1" -> "b2", "a2" -> "a3"), ids("b1", "b2", "a3")),
      (edges("a3" -> "b2", "c1" -> "b1"), ids("c1", "z2")))
    val after = batches.zipWithIndex.map { case ((e, is), k) =>
      LabelCommit.commit(spark, dir, 8, k.toLong, e, is, None)
      labelsOf(dir)
    }
    dropNewestMap(dir)
    val store = new LabelStore(dir, 8)
    assert(store.currentSnapshot === Some(1L))
    // batch 1's labeling; batch 2's doc rows (c1, z2) are not visible
    assert(labelsOf(dir) === after(1))
    assert(docRows(dir, 2L).map(_._1) === Seq("c1", "z2"))
    // re-running batch 2's commit restores the final labeling exactly
    LabelCommit.commit(spark, dir, 8, 2L, batches(2)._1, batches(2)._2, None)
    assert(labelsOf(dir) === after(2))
    assert(after(2).toMap.apply("b2") === "a1" && after(2).toMap.apply("c1") === "a1")
    assert(fwdOf(dir, 2L) === Map("b1" -> "a1"))
  }

  test("per-batch label reads prune to the batch's doc partitions (VERDICT r4 #2)") {
    val dir = Files.createTempDirectory("graft-lc-prune").toString
    val store = new LabelStore(dir, 8)
    LabelCommit.commit(spark, dir, 8, 0L,
      edges("d1" -> "d2"), (1 to 400).map(i => s"d$i").toDF("doc_id"), None)
    // batch 1 touches endpoints {d2, d401} and new doc {d401}: the lookup scan
    // of the doc table (bucketed on doc_id) must select at most those ids'
    // 2 of 8 buckets, the way ProbePruneSpec reads it
    val probe = ids("d2", "d401")
    val fwd = store.fwdBefore(spark, 1L, probe.schema("doc_id").dataType).get
    val lookup = LabelCommit.lookupOf(store, spark, 1L, probe, fwd)
    val plan = {
      val q = lookup.groupBy("doc_id").count()
      q.collect()
      q.queryExecution.executedPlan.toString
    }
    """SelectedBucketsCount: (\d+) out of (\d+)""".r.findFirstMatchIn(plan) match {
      case Some(m) =>
        val (picked, total) = (m.group(1).toInt, m.group(2).toInt)
        assert(total === 8 && picked >= 1 && picked <= 2,
          s"expected <= 2 of 8 buckets selected, got ${m.matched}")
      case None => fail(s"no bucket pruning in plan:\n$plan")
    }
    assert(plan.contains("In(doc_id"), "In filter not pushed to the scan")
    assert(lookup.collect().map(r => (r.getString(0), r.getString(1))).toSet ===
      Set("d2" -> "d1"))
    // and the write is the changed doc only
    LabelCommit.commit(spark, dir, 8, 1L, edges("d2" -> "d401"), ids("d401"), None)
    assert(docRows(dir, 1L) === Seq("d401" -> "d1"))
    assert(fwdOf(dir, 1L).isEmpty)
  }

  test("property: random batch streams with random replays equal full CC (seeded)") {
    for (seed <- Seq(11, 47)) {
      val r = new scala.util.Random(seed)
      val dir = Files.createTempDirectory(s"graft-lc-fuzz$seed").toString
      val allEdges = scala.collection.mutable.ArrayBuffer[(String, String)]()
      val allIds = scala.collection.mutable.Set[String]()
      var nextId = 0
      for (k <- 0L until 5L) {
        // each batch: a few brand-new docs, edges among new docs and back to
        // random earlier docs (cross-batch cluster growth + merges)
        val fresh = (1 to (2 + r.nextInt(4))).map { _ =>
          nextId += 1; f"d$nextId%04d"
        }
        val pool = (allIds.toSeq.sorted ++ fresh)
        val batchEdges = (1 to r.nextInt(4)).flatMap { _ =>
          val a = fresh(r.nextInt(fresh.size))
          val b = pool(r.nextInt(pool.size))
          if (a == b) None else Some((a, b))
        }
        allEdges ++= batchEdges
        allIds ++= fresh
        val commitOnce = () => LabelCommit.commit(spark, dir, 4, k,
          batchEdges.toDF("a_id", "b_id"), fresh.toDF("doc_id"), None)
        commitOnce()
        // at-least-once replay, after the commit point or from the crash window
        r.nextInt(3) match {
          case 0 => commitOnce()
          case 1 => dropNewestMap(dir); commitOnce()
          case _ =>
        }
        // the batch's writes: its own new docs, once each
        assert(docRows(dir, k).map(_._1) === fresh.sorted, s"seed=$seed batch $k")
      }
      val got = labelsOf(dir, nBuckets = 4).toMap
      val full =
        if (allEdges.isEmpty) Map.empty[String, String]
        else graft.pipeline.Cluster.connectedComponents(allEdges.toSeq.toDF("a", "b"))
          .collect().map(x => x.getString(0) -> x.getString(1)).toMap
      val want = allIds.map(d => d -> full.getOrElse(d, d)).toMap
      assert(got === want, s"seed=$seed")
      // the map holds exactly the roots merged away so far, each pointing at
      // a current root: every root a doc row ever recorded but no current one
      val recorded = spark.read.parquet(s"$dir/docs").select("lab").distinct()
        .collect().map(_.getString(0)).toSet
      val fwd = fwdOf(dir, 4L)
      assert(fwd.keySet === recorded -- want.values.toSet, s"seed=$seed map keys")
      assert(fwd.values.toSet.subsetOf(want.values.toSet), s"seed=$seed map compressed")
      assert(allDocRows(dir) === allIds.size.toLong)
    }
  }
}
