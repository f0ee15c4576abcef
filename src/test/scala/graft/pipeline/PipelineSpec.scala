package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Duke
import graft.model.MatchConfig

class FixtureSpec extends SparkSpec {
  import spark.implicits._

  test("fixture docs satisfy the span-sequence invariant on every row") {
    val docs = Fixtures.docs(spark, 300)
    assert(ErPipeline.invariantViolations(docs.toDF()) == 0)
    // typed assert path also passes
    docs.mapPartitions(_.map(ErPipeline.assertInvariant)).count()
  }

  test("invariant catches corrupted rows (order and shape)") {
    import graft.model.{Doc, Span}
    val bad = Seq(
      Doc("x1", Seq(Span("name", "a", null, 5), Span("text", "b", null, 3))), // order
      Doc("x2", Seq(Span("media", "oops", null, 1))), // media with text, no ref
      Doc("x3", Seq(Span("name", null, "m://x", 1)))) // text span with media_ref
    val df = spark.createDataset(bad).toDF()
    assert(ErPipeline.invariantViolations(df) == 3)
    intercept[Exception] {
      spark.createDataset(bad).mapPartitions(_.map(ErPipeline.assertInvariant)).count()
    }
  }

  test("empty-spans docs pass the invariant and extract to empty-prop records") {
    import graft.model.{Doc, Span}
    val docs = spark.createDataset(Seq(
      Doc("e0", Nil), // zero spans: slice length must clamp, not throw
      Doc("e1", Seq(Span("name", "ann", null, 1)))))
    assert(ErPipeline.invariantViolations(docs.toDF()) == 0)
    val recs = ErPipeline.extract(docs, MatchConfig.fixture).collect()
      .map(r => r.doc_id -> r.props).toMap
    assert(recs("e0").forall(_.isEmpty))
    assert(recs("e1")(0).toSeq == Seq("ann")) // name, the fixture's first property
  }

  test("generation is deterministic and partitioning-independent") {
    val a = Fixtures.docs(spark, 200).collect().sortBy(_.doc_id)
    val b = Fixtures.docs(spark, 200).repartition(7).collect().sortBy(_.doc_id)
    assert(a.toSeq == b.toSeq)
  }

  test("skew knob plants a hot blocking key") {
    val cfg = Fixtures.GenConfig(hotKeyFraction = 0.2)
    val records = ErPipeline.extract(Fixtures.docs(spark, 500, cfg), MatchConfig.fixture)
    val keyCounts = ErPipeline.block(records, MatchConfig.fixture).groupBy($"key").count()
      .orderBy(desc("count")).collect()
    // smith -> S530 should dominate
    assert(keyCounts.head.getString(0) == "n:S530", keyCounts.take(3).mkString(","))
    assert(keyCounts.head.getLong(1) > 100)
  }
}

class ClusterSpec extends SparkSpec {
  import spark.implicits._

  /** Union-find oracle: every node of `edges` -> its component's minimum. */
  private def oracle[T](edges: Seq[(T, T)])(implicit ord: Ordering[T]): Map[T, T] = {
    val parent = scala.collection.mutable.Map[T, T]()
    def find(x: T): T = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ord.max(ra, rb)) = ord.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(n => n -> find(n)).toMap
  }

  private def cc(edges: Seq[(String, String)]): Map[String, String] =
    Cluster.connectedComponents(edges.toDF("a", "b"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("chain, star, and disjoint components") {
    val labels = cc(Seq("b" -> "c", "a" -> "b", "x" -> "y", "c" -> "d", "p" -> "q", "q" -> "p"))
    assert(Seq("a", "b", "c", "d").map(labels) == Seq.fill(4)("a"))
    assert(Seq("x", "y").map(labels) == Seq.fill(2)("x"))
    assert(Seq("p", "q").map(labels) == Seq.fill(2)("p"))
  }

  test("random graphs match a union-find oracle") {
    val rnd = new scala.util.Random(13)
    (1 to 3).foreach { _ =>
      val n = 60
      val edges = (1 to 80).map(_ => (s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}"))
        .filter(e => e._1 != e._2)
      assert(cc(edges) == oracle(edges), s"edges=$edges")
    }
  }

  test("star-forest test: exact on a < b edge sets") {
    def forest(edges: (String, String)*) = Cluster.isStarForest(edges.toDF("a", "b"))
    assert(forest())
    assert(forest("a" -> "b", "a" -> "c", "x" -> "y"))
    assert(!forest("a" -> "c", "b" -> "c"), "node with two parents")
    assert(!forest("a" -> "b", "b" -> "c"), "two-hop chain a<b<c")
    assert(!forest("a" -> "b", "a" -> "b"), "duplicated edge")
  }

  test("every component in one partition: the contraction is final, no iteration runs") {
    val rnd = new scala.util.Random(5)
    val edges = (1 to 200).map(_ => (rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      .filter(e => e._1 != e._2)
    var iterations = 0
    val got = Cluster.connectedComponents(edges.toDF("x", "y").coalesce(1),
        onIteration = (_, df) => { iterations += 1; graft.io.Persist.truncate(df) })
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(iterations === 0)
    assert(got === oracle(edges))
  }

  test("long chains over 13 partitions: every iteration changes the edge set") {
    // three chains of length 80, dealt round-robin: components span
    // partitions, so iterations run — and each must move something, i.e.
    // the loop never spends an iteration confirming a fixed point
    val edges = (0 until 3).flatMap(c => (0 until 80).map(i => (c * 1000L + i, c * 1000L + i + 1)))
    val df = edges.toDF("x", "y").repartition(13)
    def edgeSet(f: org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getLong(0), r.getLong(1))).toList.sorted
    val contracted = edgeSet(Cluster.localContract(
      df.select(least($"x", $"y").as("a"), greatest($"x", $"y").as("b"))))
    val frames = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.DataFrame]()
    val got = Cluster.connectedComponents(df,
        onIteration = (_, f) => { val p = graft.io.Persist.truncate(f); frames += p; p })
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(frames.nonEmpty)
    val sets = contracted +: frames.map(edgeSet).toSeq
    sets.sliding(2).foreach { case Seq(in, out) => assert(in !== out) }
    assert(Cluster.isStarForest(frames.last))
    assert(got === oracle(edges))
  }
}

/** The correctness gate (BASELINE.json:2): pairwise F1 >= 0.99 on labeled pairs
  * at the same blocking key + cluster equality vs a brute-force oracle at
  * fix-unit scale (SURVEY.md §5.2).
  */
class ErEndToEndSpec extends SparkSpec {
  import spark.implicits._

  private val config = MatchConfig.fixture

  test("pairwise F1 >= 0.99 on labeled pairs at the same blocking key (fix-e2e)") {
    val nEntities = 2000
    val docs = Fixtures.docs(spark, nEntities)
    val gold = Fixtures.goldClusters(spark, nEntities)

    val records = ErPipeline.extract(docs, config)
    val blocks = ErPipeline.block(records, config)
    val (pairIds, _) = ErPipeline.pairs(blocks)
    val scored = ErPipeline.score(pairIds, records, config)

    // labeled pairs = all candidate pairs, labeled by gold entity equality
    val g = gold.toDF("doc_id", "entity_id")
    val labeled = scored.toDF()
      .join(g.toDF("a_id", "ea"), "a_id")
      .join(g.toDF("b_id", "eb"), "b_id")
      .withColumn("is_match", $"ea" === $"eb")
      .withColumn("predicted", $"score" >= config.threshold)
    val agg = labeled.agg(
      sum(when($"predicted" && $"is_match", 1).otherwise(0)).as("tp"),
      sum(when($"predicted" && !$"is_match", 1).otherwise(0)).as("fp"),
      sum(when(!$"predicted" && $"is_match", 1).otherwise(0)).as("fn")).collect()(0)
    val (tp, fp, fn) = (agg.getLong(0).toDouble, agg.getLong(1).toDouble, agg.getLong(2).toDouble)
    val precision = tp / (tp + fp)
    val recall = tp / (tp + fn)
    val f1 = 2 * precision * recall / (precision + recall)
    info(f"tp=$tp%.0f fp=$fp%.0f fn=$fn%.0f precision=$precision%.4f recall=$recall%.4f f1=$f1%.4f")
    assert(f1 >= 0.99, f"F1 $f1%.4f < 0.99 (p=$precision%.4f r=$recall%.4f)")
  }

  test("clusters equal brute-force oracle at fix-unit scale") {
    val nEntities = 60
    val docs = Fixtures.docs(spark, nEntities)
    val records = ErPipeline.extract(docs, config)
    val blocks = ErPipeline.block(records, config)
    val (pairIds, _) = ErPipeline.pairs(blocks)
    val scored = ErPipeline.score(pairIds, records, config)
    val edges = ErPipeline.matchEdges(scored, config)
    val labeled = Cluster.connectedComponents(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

    // brute-force oracle: score every co-blocked pair with the pure kernel
    val cc = Duke.compile(config)
    val recs = records.collect()
    val blockKeys = Blocking.keys(Blocking.default, config)
    val keysOf = recs.map(r => r.doc_id -> blockKeys(r).toSet).toMap
    val props = recs.map(r => r.doc_id -> r.props).toMap
    val ids = recs.map(_.doc_id).sorted
    val parent = scala.collection.mutable.Map[String, String]()
    def find(x: String): String = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for (i <- ids.indices; j <- (i + 1) until ids.length) {
      val (a, b) = (ids(i), ids(j))
      if (keysOf(a).intersect(keysOf(b)).nonEmpty &&
        cc.score(props(a), props(b)) >= config.threshold) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(if (ra < rb) rb else ra) = if (ra < rb) ra else rb
      }
    }
    val oracle: Map[String, String] = ids.groupBy(find).toSeq.flatMap { case (_, ms) =>
      val m = ms.min; ms.toSeq.map(_ -> m)
    }.toMap
    // pipeline labels cover exactly the docs that appear in any match edge;
    // same pairs + same kernel => identical edges => identical components
    val oracleNonSingleton = oracle.filter { case (_, v) => oracle.count(_._2 == v) > 1 }
    assert(labeled == oracleNonSingleton,
      s"pipeline=${labeled.toSeq.sorted} oracle=${oracleNonSingleton.toSeq.sorted}")
  }

  test("resume from mid-pipeline checkpoint equals clean run") {
    val dirA = java.nio.file.Files.createTempDirectory("graft-a").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-b").toString
    val n = 300L
    val docs = Fixtures.docs(spark, n)
    val a = graft.jobs.LinkJob.run(spark, docs, config, dirA)

    // simulate a killed run: copy only the first two completed stages into B
    val mB = new graft.io.StageManifest(dirB)
    def copyDir(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
      import java.nio.file._
      Files.walk(src).forEach { p =>
        val t = dst.resolve(src.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      }
    }
    Seq("records", "blocks").foreach { s =>
      copyDir(java.nio.file.Paths.get(dirA, s), java.nio.file.Paths.get(dirB, s))
      mB.record(s, java.nio.file.Paths.get(dirB, s).toString, 0)
    }
    val b = graft.jobs.LinkJob.run(spark, docs, config, dirB)
    assert(a == b, s"summaries differ: $a vs $b")
    val ca = spark.read.parquet(s"$dirA/clusters").orderBy("doc_id").collect().toSeq
    val cb = spark.read.parquet(s"$dirB/clusters").orderBy("doc_id").collect().toSeq
    assert(ca == cb)
  }

  test("deterministic under different shuffle partitioning") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      def clustersWith(parts: String): Seq[(String, String)] = {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        val docs = Fixtures.docs(spark, 200)
        val records = ErPipeline.extract(docs, config)
        val (pairIds, _) = ErPipeline.pairs(ErPipeline.block(records, config))
        val scored = ErPipeline.score(pairIds, records, config)
        Cluster.connectedComponents(ErPipeline.matchEdges(scored, config))
          .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      }
      assert(clustersWith("3") == clustersWith("11"))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
