package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sorted-neighborhood blocking (SURVEY.md §2.6 J4, Duke
  * `InMemoryBlockingDatabase` + `KeyFunction`): records sorted by a blocking
  * key; each record pairs with its `w` successors in sort order.
  *
  * Scale path: a naive `row_number() OVER (ORDER BY key)` funnels the whole
  * table through ONE task. Here the global rank is computed distributed —
  * range-partition by the sort key, rank locally per partition, then add
  * per-partition offsets via a broadcast join; the neighborhood join is
  * equi-ized by exploding each row to its `w` successor ranks, so it stays a
  * hash join, never a nested loop.
  */
object Neighborhood {

  /** Globally contiguous dense rank (1-based) by (key, id) without a
    * single-partition sort. Output: input columns + `rank`.
    *
    * The range partitioning is **pinned** (`Persist.truncate`: reliable
    * checkpoint when a dir is configured — this is a corpus-scale
    * materialization, and executor-local blocks would not survive executor
    * loss on a real cluster — else eager localCheckpoint) before
    * anything reads it: `repartitionByRange` boundaries are sample-based and
    * not stable across separate executions of the same plan, so the offsets
    * job and the consuming job MUST observe one physical partitioning — at
    * scale the reservoir sample differs run to run and unpinned offsets would
    * silently mismatch (duplicate/skipped ranks).
    *
    * Offsets are a one-row-per-partition frame cumulated with a single-task
    * window (≤ `partitions` rows — trivially small) and broadcast-joined back:
    * no chained `when()` offset expression, so codegen survives 10⁴ partitions.
    */
  def globalRank(df: DataFrame, key: Column, id: Column, partitions: Int): DataFrame = {
    // range exchange + narrow in-partition sort, pinned; the ONLY shuffle
    // here. LAZY pin (optimization r6): the first consuming stage
    // materializes the blocks — stability across the offsets job and the
    // consuming joins is preserved (each checkpoint partition is computed
    // once and every later scan reads those blocks), the dedicated eager
    // materialization job is gone.
    val ranged = graft.io.Persist.pinLazy(
      df.repartitionByRange(partitions, key, id)
        .sortWithinPartitions(key, id))
    // local rank WITHOUT a window: a window partitioned by __pid would force
    // Catalyst to insert a hash exchange + sort on __pid (RangePartitioning
    // does not satisfy the window's clustering requirement even though rows
    // of one pid are physically co-located). monotonically_increasing_id is
    // pid·2³³ + in-partition index, and the checkpointed sorted order is
    // stable, so the low 33 bits ARE the local rank — one narrow pass.
    val local = ranged
      .withColumn("__pid", spark_partition_id())
      .withColumn("__lrn", pmod(monotonically_increasing_id(), lit(1L << 33)) + 1)
    val cumw = Window.orderBy(col("__pid")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col("__pid")).count()
      .withColumn("__off", coalesce(sum(col("count")).over(cumw), lit(0L)))
      .select(col("__pid"), col("__off"))
    local.join(broadcast(offsets), "__pid")
      .withColumn("rank", col("__lrn") + col("__off"))
      .drop("__pid", "__lrn", "__off")
  }

  /** Candidate pairs (a_id, b_id): every record with its 1..w successors in
    * (key, id) order.
    *
    * Shuffle-free successor lookup (optimization r6, guide §2.4): the old
    * shape exploded every row to its w successor ranks and equi-joined the
    * whole ranked corpus with itself — two corpus-scale exchanges to look up
    * rows that are PHYSICALLY ADJACENT in the pinned range partitioning.
    * Now: ① in-partition successors come from a narrow sliding pass over
    * each (key, id)-sorted partition (no join, no shuffle); ② pairs that
    * span a partition boundary have their left end among the last w rows of
    * one partition and their right end among the first w rows of a later
    * one, so a boundary frame of ≤ 2w rows per partition (with global
    * ranks) covers them via the old exploded-rank equi-join — over 2w·P
    * rows instead of the corpus. Union ① ∪ ② is exactly the naive w-window
    * pair set: in-partition and cross-partition pairs are disjoint, and
    * each arises exactly once.
    */
  def pairs(df: DataFrame, key: Column, id: Column, w: Int, partitions: Int = 32): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.graftshim
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val idType = df.select(id).schema.head.dataType
    // scan rows are reused buffers; buffered values must be copied out.
    // copyVal copies UTF8String, and the other atomic values come out of an
    // UnsafeRow as fresh objects. An array, map or struct id comes out as a
    // view into the buffer and would alias it.
    require(idType match {
      case _: ArrayType | _: MapType | _: StructType | _: UserDefinedType[_] => false
      case _ => true
    }, s"Neighborhood.pairs: id must have an atomic type, got ${idType.simpleString}")
    def copyVal(v: Any): Any = v match {
      case u: UTF8String => u.copy()
      case x => x
    }
    val ranked = globalRank(df.select(id.as("__id"), key.as("__k")), col("__k"), col("__id"), partitions)
    val spark = ranked.sparkSession

    // ① narrow in-partition sliding window: each row pairs with the ≤ w
    // predecessors buffered from its own partition (iteration order = the
    // checkpointed sorted order, stable across scans). InternalRow in and
    // out (graftshim.internalCreateDataFrame): the external Row/encoder
    // path tripled the per-row cost of this corpus-linear pass (noop A/B).
    val pairSchema = StructType(Seq(
      StructField("a_id", idType, nullable = true),
      StructField("b_id", idType, nullable = true)))
    val localRdd = ranked.select(col("__id")).queryExecution.toRdd.mapPartitions { it =>
      val buf = new scala.collection.mutable.ArrayDeque[Any]()
      it.flatMap { row =>
        val cur = copyVal(row.get(0, idType))
        val out = buf.iterator
          .map(prev => new GenericInternalRow(Array[Any](prev, cur)): InternalRow)
          .toVector
        buf.append(cur)
        if (buf.size > w) buf.removeHead()
        out.iterator
      }
    }
    val local = graftshim.internalCreateDataFrame(spark, localRdd, pairSchema)

    // ② boundary rows: first w and last w rows of every partition (disjoint
    // by construction), with their global ranks and partition index
    val bSchema = StructType(Seq(
      StructField("__id", idType, nullable = true),
      StructField("rank", LongType, nullable = true),
      StructField("__pid", IntegerType, nullable = false)))
    val bRdd = ranked.select(col("__id"), col("rank")).queryExecution.toRdd
      .mapPartitionsWithIndex { (pid, it) =>
        val first = scala.collection.mutable.ArrayBuffer[(Any, Long)]()
        val last = new scala.collection.mutable.ArrayDeque[(Any, Long)]()
        var n = 0
        it.foreach { r =>
          val v = (copyVal(r.get(0, idType)), r.getLong(1))
          if (n < w) first += v
          else { last.append(v); if (last.size > w) last.removeHead() }
          n += 1
        }
        (first.iterator ++ last.iterator).map { case (idv, rk) =>
          new GenericInternalRow(Array[Any](idv, rk, pid)): InternalRow
        }
      }
    val boundary = graftshim.internalCreateDataFrame(spark, bRdd, bSchema)
    val bLeft = boundary.select(col("__id").as("a_id"),
      explode(sequence(col("rank") + 1, col("rank") + w)).as("rank"),
      col("__pid").as("__apid"))
    val bRight = boundary.select(col("__id").as("b_id"), col("rank"), col("__pid").as("__bpid"))
    val cross = bLeft.join(bRight, "rank")
      .where(col("__apid") =!= col("__bpid"))
      .select(col("a_id"), col("b_id"))

    local.unionByName(cross)
  }
}
