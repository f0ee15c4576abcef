package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.LabelStore

/** Unit coverage for the hash-partitioned snapshot storage behind the
  * streaming cluster labels ([[LabelStore]]: manifest commits, partial
  * partition rewrites, pruned reads, time travel, expiry) — BucketedCorpusSpec
  * and LabelCommitSpec prove the stream integration; this spec pins the
  * storage semantics on their own.
  */
class HashPartitionedTableSpec extends SparkSpec {
  import spark.implicits._

  /** The partition `v` hashes to (both layouts use the same expression). */
  private def partOf(store: LabelStore, v: String): Int =
    spark.range(1).select(store.clusterPart(lit(v))).collect()(0).getInt(0)

  private def rows(pairs: (String, String)*): DataFrame = pairs.toDF("doc_id", "cluster_id")

  private def singletons(ids: String*): DataFrame = rows(ids.map(i => (i, i)): _*)

  private def readSet(df: DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSet

  /** Commit `labels` as the new content of the partitions `parts` of both
    * layouts (for singleton labels a doc's cluster and doc partitions agree).
    */
  private def commitParts(store: LabelStore, labels: Seq[String], parts: Set[Int]): Long = {
    val in = singletons(labels.filter(i => parts(partOf(store, i))): _*)
    store.commitPartitions(in, parts, in, parts)
  }

  test("overwrite/read round trip; readPartitions prunes by manifest") {
    val root = Files.createTempDirectory("hpt1").toString
    val store = new LabelStore(root, 4)
    val labels = (1 to 12).map(i => (s"d$i", s"c${i % 3}"))
    store.overwrite(rows(labels: _*))
    assert(readSet(store.read(spark)) === labels.toSet)
    // cluster layout: one partition holds exactly the rows whose CLUSTER hashes there
    val pc = partOf(store, "c0")
    val byCluster = store.readClusterPartitions(spark, Set(pc))
    assert(readSet(byCluster) === labels.filter(l => partOf(store, l._2) == pc).toSet)
    assert(byCluster.inputFiles.forall(_.contains(s"/c/__part=$pc/")), byCluster.inputFiles.toSeq)
    // doc layout: one partition holds exactly the rows whose DOC hashes there
    val pd = partOf(store, "d1")
    val byDoc = store.readDocPartitions(spark, Set(pd))
    assert(readSet(byDoc) === labels.filter(l => partOf(store, l._1) == pd).toSet)
    assert(byDoc.inputFiles.forall(_.contains(s"/d/__part=$pd/")), byDoc.inputFiles.toSeq)
    // absent partition set -> empty frame with the table schema, either layout
    for (none <- Seq(store.readClusterPartitions(spark, Set(-1)),
        store.readDocPartitions(spark, Set(-1))))
      assert(none.columns.toSeq === Seq("doc_id", "cluster_id") && none.count() === 0)
  }

  test("commitPartitions replaces a subset; other partitions and time travel intact") {
    val root = Files.createTempDirectory("hpt2").toString
    val store = new LabelStore(root, 4)
    val ids = (1 to 12).map(i => s"d$i")
    store.overwrite(singletons(ids: _*)) // s1
    val p = partOf(store, "d1")
    val keptInP = ids.filter(i => partOf(store, i) == p && i != "d1")
    commitParts(store, keptInP, Set(p)) // s2: drop d1 from its partition
    assert(store.currentSnapshot === Some(2L))
    val outP = ids.filterNot(i => partOf(store, i) == p)
    val want = (outP ++ keptInP).map(i => (i, i)).toSet
    assert(readSet(store.read(spark)) === want)
    assert(readSet(store.readDocPartitions(spark, Set(0, 1, 2, 3))) === want)
    // snapshot 1 still reads the full original labeling
    assert(readSet(store.readSnapshot(spark, 1L)) === ids.map(i => (i, i)).toSet)
    // the commit physically wrote only the replaced partition, once per layout
    val written = store.dirsWrittenBy(2L)
    assert(written.sorted === Seq(s"data/s2/c/__part=$p", s"data/s2/d/__part=$p"), written)
  }

  test("partial commits accumulate; expireSnapshots keeps shared partition dirs alive") {
    val root = Files.createTempDirectory("hpt3").toString
    val store = new LabelStore(root, 4)
    val ids = (1 to 12).map(i => s"d$i")
    store.overwrite(singletons(ids: _*)) // s1
    val all = ids :+ "e1"
    commitParts(store, all, Set(partOf(store, "e1"))) // s2: e1 joins its partition
    assert(readSet(store.read(spark)) === all.map(i => (i, i)).toSet)
    val p = partOf(store, "d1")
    commitParts(store, all, Set(p)) // s3: rewrite one partition
    val before = readSet(store.read(spark))
    store.expireSnapshots(keepLast = 1)
    // v1/v2 manifests gone, current read unchanged
    assert(!Files.exists(Paths.get(s"$root/snapshots/v1.json")))
    assert(!Files.exists(Paths.get(s"$root/snapshots/v2.json")))
    assert(Files.exists(Paths.get(s"$root/snapshots/v3.json")))
    assert(readSet(store.read(spark)) === before)
    assert(readSet(store.readDocPartitions(spark, Set(0, 1, 2, 3))) === before)
    // s1 dirs for partitions OTHER than the rewritten ones are still
    // referenced by s3 -> alive; s1's dirs for p were replaced -> deleted
    assert(!Files.exists(Paths.get(s"$root/data/s1/c/__part=$p")))
    assert(!Files.exists(Paths.get(s"$root/data/s1/d/__part=$p")))
    assert(Files.exists(Paths.get(s"$root/data/s1")), "shared s1 partition dirs must survive")
    intercept[Exception](store.readSnapshot(spark, 1L)) // time travel window gone
  }

  test("LabelStore expiry collapses fully-replaced snapshot dirs, markers included") {
    val root = Files.createTempDirectory("lsexp").toString
    val store = new LabelStore(root, 4)
    store.overwrite(singletons("d1", "d2", "d3")) // s1, both layouts
    store.overwrite(singletons("d1", "d2", "d3", "d4")) // s2 full rewrite: s1 unreferenced
    store.expireSnapshots(keepLast = 1)
    // partitionBy leaves a _SUCCESS at data/s1/{c,d}; the sweep must treat a
    // marker-only dir as empty, or one dead s<k> dir pair survives per
    // expired snapshot forever (unbounded listing growth on a long stream)
    assert(!Files.exists(Paths.get(s"$root/data/s1")),
      "fully-replaced snapshot dir must collapse entirely")
    val want = Seq("d1", "d2", "d3", "d4").map(i => (i, i)).toSet
    assert(readSet(store.read(spark)) === want)
    assert(readSet(store.readDocPartitions(spark, Set(0, 1, 2, 3))) === want)
  }

  test("expiry reclaims overwritten snapshots' data; dirs shared with the current one survive") {
    val root = Files.createTempDirectory("ppt1").toString
    val store = new LabelStore(root, 4)
    store.overwrite(singletons("a")) // s1
    val bs = (1 to 8).map(i => s"b$i")
    store.overwrite(singletons(bs: _*)) // s2: s1's dirs unreferenced
    commitParts(store, bs :+ "c", Set(partOf(store, "c"))) // s3 references s2 + s3 dirs
    store.expireSnapshots(keepLast = 1)
    assert(!Files.exists(Paths.get(s"$root/data/s1")), "unreferenced dir reclaimed")
    assert(Files.exists(Paths.get(s"$root/data/s2")), "dir shared with current survives")
    assert(store.read(spark).collect().map(_.getString(0)).toSet === (bs :+ "c").toSet)
  }

  test("expiry self-heals a crashed sweep (gap in the manifest range)") {
    val root = Files.createTempDirectory("ppt2").toString
    val store = new LabelStore(root, 4)
    for (i <- 1 to 4) store.overwrite(singletons(s"r$i"))
    // simulate a crash mid-sweep: v2 deleted, v1 left behind, mark unwritten
    Files.delete(Paths.get(s"$root/snapshots/v2.json"))
    store.expireSnapshots(keepLast = 1)
    // the low-water sweep must cover the gap: v1 and v3 expired despite the
    // missing v2 (a stop-at-first-gap walk would have orphaned v1 forever)
    assert(!Files.exists(Paths.get(s"$root/snapshots/v1.json")))
    assert(!Files.exists(Paths.get(s"$root/snapshots/v3.json")))
    assert(!Files.exists(Paths.get(s"$root/data/s1")))
    assert(Files.readString(Paths.get(s"$root/OLDEST")).trim === "4")
    assert(store.read(spark).collect().map(_.getString(0)).toSet === Set("r4"))
    // and a second expire call is a cheap no-op
    store.expireSnapshots(keepLast = 1)
    assert(store.read(spark).count() === 1)
  }
}
