package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Transitive clustering of match edges: the large-star/small-star
  * connected-components algorithm (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SOCC'14 — PAPERS.md), as iterative DataFrame joins
  * (SURVEY.md §2.7 G8). Mandated by BASELINE.json:6,14; the reference serves
  * pairwise scores only, Duke's LinkDatabase keeps pairwise links — transitive
  * closure is the scale-path addition.
  *
  * Determinism: cluster label = min doc_id of the component (lexicographic),
  * no `first()`-style nondeterminism (SURVEY.md §7.4).
  *
  * Scale shape (round-2 rework):
  *  - **partition-local union-find pre-contraction**: one `mapPartitions` pass
  *    replaces each partition's edges by a local star forest before the first
  *    shuffle (the classic two-phase CC). Long chains — the adversarial input
  *    for star iterations — collapse by ~|partition| before the loop, so the
  *    iteration count depends on the number of partitions a component spans,
  *    not on its diameter.
  *  - **large-star output is materialized once per iteration**: small-star
  *    scans its input three times (direction, min-agg, join); without
  *    truncation those scans re-ran the whole large-star union+agg+join each
  *    time (the round-1 158 s plan).
  *  - **the loop stops at the first star forest** (`isStarForest`, tested on
  *    the contraction and after each iteration): no pass confirms a fixed point.
  */
object Cluster {

  /** Result: (doc_id, cluster_id) for every node that appears in `edges`;
    * callers union in singletons (docs with no edge) with cluster_id = doc_id.
    *
    * The default per-iteration pin is LAZY (optimization r6, guide §1.2): the
    * star-forest test right after it is the first action, so one job both
    * materializes and tests the iteration's edges. LinkJob passes an eager
    * `onIteration` (durable stages); it runs only for iterations that run.
    */
  def connectedComponents(
      edges0: DataFrame,
      maxIter: Int = 50,
      onIteration: (Int, DataFrame) => DataFrame = (_, df) => graft.io.Persist.pinLazy(df),
      preContract: Boolean = true): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._

    // normalization is NARROW (optimization r6, guide §2.4): the old upfront
    // `.distinct()` hash-shuffled the edges by (a, b), destroying any
    // co-location the caller established (e.g. q_cc_order_chains repartitions
    // by its component key so every chain is partition-local) right before
    // the partition-local contraction that depends on it. Union-find is
    // idempotent under duplicate edges, so the pre-contraction path needs no
    // dedup at all — its output is a per-partition star forest; the
    // no-contraction path keeps the distinct (it feeds the star loop raw).
    val normalized = edges0.select(
      least(col(edges0.columns(0)), col(edges0.columns(1))).as("a"),
      greatest(col(edges0.columns(0)), col(edges0.columns(1))).as("b"))
      .where($"a" =!= $"b")

    var edges = graft.io.Persist.pinLazy(
      if (preContract) localContract(normalized) else normalized.distinct())

    var iter = 0
    var forest = isStarForest(edges) // materializes the lazy pin in the same job
    while (!forest && iter < maxIter) {
      iter += 1
      // large-star output is CACHED lazily, not eagerly checkpointed
      // (optimization r6, guide §5 "caching"): small-star scans it three
      // times within ONE materializing job — the first scan populates the
      // blocks, the other two read them — so the extra eager job per
      // iteration bought nothing. Lineage stays bounded: `edges` itself is
      // truncated every iteration below.
      val ls = largeStar(edges).persist()
      val ss = smallStar(ls)
      // truncate lineage every iteration (iterative joins grow the plan
      // exponentially otherwise — SURVEY.md §4 "CC lineage explosion")
      edges = onIteration(iter, ss)
      forest = isStarForest(edges)
      ls.unpersist(false)
    }
    require(forest, s"connected components did not converge in $maxIter iterations")

    // Final edge set is a star forest rooted at component minima — the
    // FIXED POINTS of the large-star/small-star iteration are exactly such
    // forests (Kiveris et al. §3), and the loop only exits on one. Labeling
    // reads off directly (guide §2.3): every b is a member appearing
    // exactly once with its root a, so members need NO aggregation at all;
    // only the roots dedup (|components| rows), where the old shape
    // symmetrized to 2|E| rows and ran a corpus-wide min-aggregate.
    val roots = edges.select($"a").distinct()
      .select($"a".as("doc_id"), $"a".as("cluster_id"))
    edges.select($"b".as("doc_id"), $"a".as("cluster_id")).unionByName(roots)
  }

  case class MergeDelta(relabel: DataFrame, added: DataFrame)

  /** Incremental label maintenance — fold a batch of NEW edges into an
    * existing labeling at cost proportional to the DELTA, never the corpus
    * (the streaming counterpart of `connectedComponents`; per-batch full
    * recomputes are the scale mistake once the accumulated edge set dwarfs
    * each micro-batch):
    *
    *  1. map each new edge's endpoints through the current labels (unknown
    *     endpoints are fresh singletons labeled by their own id);
    *  2. run CC on the CONTRACTED graph — one node per affected cluster, so
    *     the iterative stage sees |affected clusters| nodes, not |corpus|;
    *  3. return the relabel map and the new docs; docs in untouched clusters
    *     keep their label.
    *
    * Labels stay canonical (cluster id = min member id): old labels are
    * cluster minima, new nodes enter labeled by themselves, and the
    * contracted CC takes the minimum of the merged label set. `relabel`
    * covers every label whose cluster the batch AFFECTS, identity rows (lab
    * = new_lab) included: rows with that `lab` move to `new_lab`, rows with
    * any other label are untouched. Applied to the labeling, the result
    * equals a from-scratch CC over (all previous edges ∪ batch);
    * `LabelCommit` keeps it as a forwarding map, and IncrementalCcSpec
    * proves the equality on randomized multi-round streams.
    *
    * @param labels (doc_id, cluster_id) of at least every edge endpoint that
    *               is already labeled; docs absent from it are treated as
    *               singletons (LinkJob's convention)
    * @return relabel: (lab, new_lab); added: (doc_id, cluster_id) for edge
    *         endpoints absent from `labels` (edge-free new docs are the
    *         caller's to add — this function only sees the edge batch)
    */
  def mergeDelta(labels: DataFrame, newEdges: DataFrame): MergeDelta = {
    val spark = labels.sparkSession
    import spark.implicits._

    val lab = labels.select(col(labels.columns(0)).as("id"), col(labels.columns(1)).as("lab"))
    val e = newEdges.select(col(newEdges.columns(0)).as("ea"), col(newEdges.columns(1)).as("eb"))

    // ① endpoint -> current label (own id when unseen)
    val ends = e.select($"ea".as("id")).union(e.select($"eb".as("id"))).distinct()
    val endLab = ends.join(lab, Seq("id"), "left")
      .select($"id", coalesce($"lab", $"id").as("lab"))
    val contracted = e
      .join(endLab.select($"id".as("ea"), $"lab".as("la")), "ea")
      .join(endLab.select($"id".as("eb"), $"lab".as("lb")), "eb")
      .select($"la", $"lb").where($"la" =!= $"lb").distinct()

    // ② CC over affected cluster labels only (tiny vs the corpus)
    val relabel = connectedComponents(contracted)
      .select(col("doc_id").as("lab"), col("cluster_id").as("new_lab"))

    // ③ new docs enter with their (possibly relabeled) own id
    val newDocs = endLab.join(lab.select($"id"), Seq("id"), "left_anti")
    val added = newDocs.join(relabel, Seq("lab"), "left")
      .select($"id".as("doc_id"), coalesce($"new_lab", $"lab").as("cluster_id"))
    MergeDelta(relabel, added)
  }

  /** Partition-local union-find contraction: within each partition, replace
    * the local edges by the star forest (local-min root -> node). Exactly
    * connectivity-preserving; output edges satisfy a < b because the root is
    * the partition-local component minimum. One narrow pass, no shuffle; the
    * per-partition hash map holds only that partition's node ids (same memory
    * scale as a partial hash aggregate). Falls through to the input unchanged
    * for id types without a total order mapped here.
    */
  private[pipeline] def localContract(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val dt = edges.schema(0).dataType
    val ord: Ordering[Any] = (dt match {
      case StringType  => Ordering.String
      case LongType    => Ordering.Long
      case IntegerType => Ordering.Int
      case ShortType   => Ordering.Short
      case ByteType    => Ordering.Byte
      case _           => null
    }).asInstanceOf[Ordering[Any]]
    if (ord == null) return edges

    val schema = StructType(Seq(
      StructField("a", dt, nullable = true),
      StructField("b", edges.schema(1).dataType, nullable = true)))
    val rdd = edges.rdd.mapPartitions { it =>
      val parent = new java.util.HashMap[Any, Any]()
      def find(x: Any): Any = {
        var r = x
        var p = parent.get(r)
        while (p != null && p != r) { r = p; p = parent.get(r) }
        var c = x // path compression (value updates only — no structural change)
        while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      it.foreach { row =>
        val a = row.get(0); val b = row.get(1)
        if (a != null && b != null && a != b) {
          if (parent.get(a) == null) parent.put(a, a)
          if (parent.get(b) == null) parent.put(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) {
            if (ord.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
      }
      val out = scala.collection.mutable.ArrayBuffer[Row]()
      val keys = parent.keySet().iterator()
      while (keys.hasNext) {
        val n = keys.next()
        val r = find(n)
        if (r != n) out += Row(r, n)
      }
      out.iterator
    }
    spark.createDataFrame(rdd, schema)
  }

  /** large-star: for each node u, connect every strictly larger neighbor to
    * m(u) = min(N(u) ∪ {u}). Output may carry duplicate edges — the algorithm
    * is idempotent under multi-edges and small-star dedups right after, so we
    * skip a distinct here (one less shuffle per iteration).
    */
  private[pipeline] def largeStar(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val sym = edges.select($"a".as("u"), $"b".as("v"))
      .union(edges.select($"b".as("u"), $"a".as("v")))
    val mins = sym.groupBy($"u").agg(min($"v").as("mv"))
      .select($"u", least($"u", $"mv").as("m"))
    sym.join(mins, "u")
      .where($"v" > $"u")
      .select(least($"v", $"m").as("a"), greatest($"v", $"m").as("b"))
      .where($"a" =!= $"b")
  }

  /** small-star: direct each edge large->small; for each node u connect all of
    * its smaller neighbors (and u itself) to m(u) = min neighbor. The single
    * distinct per iteration lives here.
    */
  private[pipeline] def smallStar(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val dir = edges.select(greatest($"a", $"b").as("u"), least($"a", $"b").as("v"))
      .where($"u" =!= $"v")
    val mins = dir.groupBy($"u").agg(min($"v").as("m"))
    val nbrs = dir.join(mins, "u").where($"v" =!= $"m")
      .select($"v".as("a"), $"m".as("b"))
    val self = mins.select($"u".as("a"), $"m".as("b"))
    nbrs.union(self).where($"a" =!= $"b")
      .select(least($"a", $"b").as("a"), greatest($"a", $"b").as("b"))
      .distinct()
  }

  /** Exact fixed-point test: an `a < b` edge set is a star forest (the unique
    * fixed point of both star steps for its components) iff every `b` occurs
    * once and no node is both an `a` and a `b` — i.e. no node seen as a `b`
    * (posexplode position 1) is seen twice. One scan of the pinned edges.
    */
  private[pipeline] def isStarForest(edges: DataFrame): Boolean =
    edges.select(posexplode(array(col("a"), col("b"))).as(Seq("isB", "node")))
      .groupBy(col("node"))
      .agg(sum(col("isB")).as("asB"), count(lit(1)).as("n"))
      .where(col("asB") > 0 && col("n") > 1)
      .isEmpty
}
