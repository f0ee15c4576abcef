package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Doc

/** Correctness evaluation against the fixture ground truth (FIXTURES.md §2,
  * BASELINE.json:2): pairwise F1 over labeled pairs at the same blocking key,
  * and exact cluster-partition equality at brute-force-oracle scale.
  */
object Eval {

  case class F1(tp: Long, fp: Long, fn: Long) {
    def precision: Double = if (tp + fp == 0) 1.0 else tp.toDouble / (tp + fp)
    def recall: Double = if (tp + fn == 0) 1.0 else tp.toDouble / (tp + fn)
    def f1: Double =
      if (precision + recall == 0.0) 0.0 else 2 * precision * recall / (precision + recall)
  }

  /** Labeled pairs (FIXTURES.md §2): every unordered doc pair co-occurring under
    * at least one blocking key, labeled is_match from the gold entity ids. This
    * is "labeled pairs at the same blocking key" — recall lost to blocking
    * itself is by construction out of scope of the F1 gate (it mirrors the
    * reference, where the ES query fixes the candidate set).
    */
  def labeledPairs(
      blocks: Dataset[ErPipeline.BlockRow],
      gold: Dataset[Fixtures.GoldRow]): DataFrame = {
    val spark = blocks.sparkSession
    import spark.implicits._
    val a = blocks.toDF("a_id", "key")
    val b = blocks.toDF("b_id", "key")
    val pairs = a.join(b, "key").where($"a_id" < $"b_id")
      .select($"a_id", $"b_id").distinct()
    val ga = gold.toDF("a_id", "a_entity")
    val gb = gold.toDF("b_id", "b_entity")
    pairs.join(ga, "a_id").join(gb, "b_id")
      .select($"a_id", $"b_id", ($"a_entity" === $"b_entity").as("is_match"))
  }

  /** Pairwise F1 of predicted match pairs vs the labeled pairs. Predicted pairs
    * outside the labeled set (cross-block transitive edges) are ignored, per
    * "vs labeled pairs at same blocking key".
    */
  def pairwiseF1(predicted: DataFrame, labeled: DataFrame): F1 = {
    val spark = predicted.sparkSession
    import spark.implicits._
    val pred = predicted.select(
      least(col(predicted.columns(0)), col(predicted.columns(1))).as("a_id"),
      greatest(col(predicted.columns(0)), col(predicted.columns(1))).as("b_id"))
      .distinct()
      .withColumn("predicted", lit(true))
    val j = labeled.join(pred, Seq("a_id", "b_id"), "left")
      .select($"is_match", coalesce($"predicted", lit(false)).as("predicted"))
    val r = j.agg(
      sum(when($"is_match" && $"predicted", 1L).otherwise(0L)).as("tp"),
      sum(when(!$"is_match" && $"predicted", 1L).otherwise(0L)).as("fp"),
      sum(when($"is_match" && !$"predicted", 1L).otherwise(0L)).as("fn"))
      .collect()(0)
    F1(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Cluster-partition equality: two (doc_id, label) assignments induce the same
    * partition iff the sets of unordered same-cluster pairs coincide. Returns
    * the number of differing pairs (0 = identical partitions).
    */
  def partitionDiff(left: DataFrame, right: DataFrame): Long = {
    def pairsOf(df: DataFrame): DataFrame = {
      val id = col(df.columns(0)).as("id")
      val lab = col(df.columns(1)).as("lab")
      val n = df.select(id, lab)
      val a = n.toDF("a_id", "lab")
      val b = n.toDF("b_id", "lab")
      a.join(b, "lab").where(col("a_id") < col("b_id")).select(col("a_id"), col("b_id"))
    }
    val l = pairsOf(left)
    val r = pairsOf(right)
    l.exceptAll(r).count() + r.exceptAll(l).count()
  }

  /** Brute-force O(n²) oracle (SURVEY.md §5.2 #4): single-threaded driver-side
    * re-implementation of the whole pipeline — clean every doc on the JVM
    * (`Duke.CompiledConfig.clean`, not the Spark extract), consider every
    * unordered pair (restricted to pairs co-blocked under the config's
    * scheme, `Blocking.fromConfig`, when `blockedOnly` — exactly like the
    * distributed path), score with the same compiled Duke config, link at
    * threshold, transitively close with union-find. Only for fix-unit scale.
    */
  def bruteForceClusters(
      docs: Seq[Doc],
      config: graft.model.MatchConfig,
      blockedOnly: Boolean = true): Map[String, String] = {
    val cc = graft.core.Duke.compile(config)
    val recs = docs.map { d =>
      val byKind = d.spans.groupBy(_.kind)
      val raw = config.properties.map { p =>
        p.name -> byKind.getOrElse(p.name, Nil)
          .map(s => if (p.name == "media") s.media_ref else s.text)
      }.toMap
      ErPipeline.CleanRecord(d.doc_id, cc.clean(raw))
    }.sortBy(_.doc_id)
    val keysOf = Blocking.keys(Blocking.fromConfig(config), config)
    val keys: Map[String, Set[String]] = recs.map(r => r.doc_id -> keysOf(r).toSet).toMap
    val parent = scala.collection.mutable.Map[String, String](recs.map(r => r.doc_id -> r.doc_id): _*)
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    def union(a: String, b: String): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    for (i <- recs.indices; j <- (i + 1) until recs.size)
      if (!blockedOnly || keys(recs(i).doc_id).exists(keys(recs(j).doc_id).contains))
        if (cc.score(recs(i).props, recs(j).props) >= config.threshold)
          union(recs(i).doc_id, recs(j).doc_id)
    recs.map(r => r.doc_id -> find(r.doc_id)).toMap
  }
}
