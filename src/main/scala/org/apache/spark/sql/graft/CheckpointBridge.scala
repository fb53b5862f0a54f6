package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/**
 * Partitioning-preserving eager local checkpoint — the missing half of
 * `Dataset.localCheckpoint()` for iterative jobs: under AQE the
 * checkpoint's `LogicalRDD` records `UnknownPartitioning`, so a frame
 * deliberately laid out for reuse (a fixed-point loop's invariant edge
 * set, re-joined every round on the same key) is re-shuffled by every
 * consumer anyway — measured on the hostRank loop, ALL per-round
 * exchanges came back despite an explicit pre-checkpoint repartition.
 *
 * This helper APPLIES the layout itself (`repartition(numParts, keys)`
 * — a user-numbered shuffle AQE never coalesces — plus an optional
 * in-partition sort), checkpoints the executed rows exactly like
 * `Dataset.checkpoint` does (row-copy, localCheckpoint, eager count),
 * and wraps them in a `LogicalRDD` that DECLARES the hash partitioning
 * and sort order the rows were just written in. Downstream joins and
 * aggregations keyed on `keys` then plan no exchange (and sort-merge
 * joins no sort) against it. The declared layout is true by
 * construction — the repartition/sort happen here, callers cannot
 * desynchronize claim and data.
 *
 * Same `private[sql]` bridge rationale as [[ColumnBridge]] /
 * [[RegistryBridge]]: `Dataset.ofRows` and `LogicalRDD` are internal,
 * and this package-located shim is the sanctioned access pattern.
 * Statistics come from the MATERIALIZED checkpoint blocks (the block
 * manager's storage report — true bytes, not estimates), so the
 * planner can still broadcast a genuinely small checkpointed frame;
 * frames that grow with the corpus report their real size and stay
 * on the sort-merge/co-partitioned path.
 */
object CheckpointBridge {

  /** [[localCheckpointHashedWithCount]] discarding the count — the
    * common non-iterative entry point. */
  def localCheckpointHashed(df: DataFrame, keys: Seq[String],
      numParts: Int, sort: Boolean = true,
      dedupAfter: Seq[String] = Nil): DataFrame =
    localCheckpointHashedWithCount(df, keys, numParts, sort, dedupAfter)._1

  /** Eagerly local-checkpoint `df` laid out as `numParts` hash
    * partitions of `keys` (sorted within partitions by `keys` when
    * `sort`), recording that layout for downstream planning, and
    * return the row count the eager materialization already takes —
    * iterative callers whose convergence check is a count of the same
    * frame save one job per round by reading it here instead of
    * re-running `df.count()`. (Self-contained — no shared mutable
    * state, so concurrent query construction from several driver
    * threads cannot cross-attribute counts.)
    *
    * `dedupAfter` (when non-empty) applies `dropDuplicates(dedupAfter)`
    * AFTER the layout: `keys` must be a subset of `dedupAfter`, so the
    * hash layout already clusters every duplicate group into one
    * partition and the dedup aggregate is partition-local — the fused
    * "distinct rides the loop layout" shape (one exchange where
    * distinct-then-repartition would pay two). The aggregate does not
    * preserve sort order, so `sort` is ignored with a dedup. */
  def localCheckpointHashedWithCount(df: DataFrame, keys: Seq[String],
      numParts: Int, sort: Boolean = true,
      dedupAfter: Seq[String] = Nil): (DataFrame, Long) = {
    require(keys.nonEmpty, "at least one partitioning key required")
    require(numParts > 0, "numParts must be positive")
    require(dedupAfter.isEmpty || keys.forall(dedupAfter.contains),
      "dedupAfter must contain every partitioning key (else the dedup " +
        "aggregate is not partition-local and the declared layout lies)")
    val laid0 = df.repartition(numParts, keys.map(col): _*)
    val laid =
      if (dedupAfter.nonEmpty) laid0.dropDuplicates(dedupAfter)
      else if (sort) laid0.sortWithinPartitions(keys.map(col): _*)
      else laid0
    val sorted = sort && dedupAfter.isEmpty
    val ds = laid.asInstanceOf[Dataset[_]]
    val spark = ds.sparkSession.asInstanceOf[ClassicSession]
    // the Dataset.checkpoint materialization recipe: copy the unsafe
    // rows (operators reuse row buffers), mark, and run one count to
    // checkpoint eagerly
    val executed = ds.queryExecution.toRdd
    // AQE's empty-relation propagation can hand back a ZERO-partition
    // RDD (e.g. a fixed-point loop's final empty edge set); a global
    // aggregate over 0 partitions yields 0 rows, so Dataset.count()
    // on the checkpointed frame would throw. Normalize to numParts
    // EMPTY partitions — not one — so the partition count matches the
    // declared HashPartitioning(keys, numParts): a downstream
    // co-partitioned join that trusts the declaration and skips its
    // exchange zips partition-by-partition, and unequal counts fail.
    val rdd =
      if (executed.getNumPartitions == 0)
        spark.sparkContext.parallelize(
          Seq.empty[org.apache.spark.sql.catalyst.InternalRow], numParts)
      else executed.map(_.copy())
    rdd.localCheckpoint()
    // ONE action materializes the checkpoint (an action on a child of a
    // checkpoint-marked RDD checkpoints the parent) AND takes the count
    val count = rdd.count()
    val output = ds.queryExecution.analyzed.output
    val byName = output.map(a => a.name -> a).toMap
    val keyAttrs = keys.map(k => byName.getOrElse(k,
      throw new IllegalArgumentException(s"unknown partitioning column $k")))
    val partitioning = HashPartitioning(keyAttrs, numParts)
    val ordering =
      if (sorted) keyAttrs.map(a => SortOrder(a, Ascending)) else Nil
    // honest size statistics from the checkpoint's storage blocks: the
    // count above materialized them, so the block manager knows the
    // true byte size — small frames stay broadcastable downstream
    val stats = spark.sparkContext.getRDDStorageInfo
      .find(_.id == rdd.id)
      .map(i => org.apache.spark.sql.catalyst.plans.logical.Statistics(
        sizeInBytes = BigInt(i.memSize + i.diskSize).max(1)))
    (Dataset.ofRows(spark,
      LogicalRDD(output, rdd, partitioning, ordering, isStreaming = false)(
        spark, stats, None)), count)
  }
}
