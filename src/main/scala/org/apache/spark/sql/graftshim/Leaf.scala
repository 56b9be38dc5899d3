package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** The one place graft cuts a Catalyst plan: `Leaf(df, eager)` returns
  * `df`'s rows behind a single `LogicalRDD` leaf, so an iterative operator
  * (closure, k-core, PageRank/HITS, label propagation, components,
  * framing) hands the optimizer an O(1)-deep plan per round and a frame
  * read by several plan branches is computed once. Call sites say why
  * they cut and why lazily or eagerly; the mechanism lives here.
  *
  * '''Lazy''' (`eager = false`) is `Dataset.localCheckpoint(false)`
  * without the RDD checkpoint: the frame's executed plan becomes an RDD
  * inside an SQL execution, exactly as there (so AQE may run the stages
  * below the final one right away), its rows are copied into an RDD
  * persisted `MEMORY_AND_DISK`, and that RDD becomes the leaf with the
  * frame's output partitioning, ordering and statistics
  * (`LogicalRDD.fromDataset`, as `Dataset.checkpoint` builds it). The
  * blocks fill inside the caller's first action: the leaf adds no job of
  * its own. No `RDDCheckpointData` exists on this path. With a lazy
  * `localCheckpoint`, the first job over the frame checkpoints the RDD
  * when it ends, and when that job is a broadcast, its
  * `broadcast-exchange` thread takes the checkpoint lock and then the
  * RDD's lock while the scheduler's event loop, in `getCacheLocs`, holds
  * the RDD's and waits for the checkpoint's: the two threads deadlock.
  *
  * The cost: a persisted RDD keeps its lineage, so a lazy leaf built over
  * an earlier leaf keeps that leaf's blocks reachable. A loop of lazy
  * leaves holds every round's blocks until its last frame is dropped
  * (the ContextCleaner frees them then); `Dataset.unpersist` does not
  * reach them, as the leaf is not in the cache manager.
  *
  * '''Eager''' (`eager = true`) is Spark's `localCheckpoint(true)`: it
  * materializes and truncates the lineage in the caller's own job,
  * before any other job can see the frame, so it runs one job at
  * construction and a loop of eager leaves holds O(1) rounds of blocks.
  *
  * A union of leaves is already O(1)-deep: never cut it again. Spark 4's
  * `LogicalRDD` constraint rewrite fails on a leaf over a union of
  * leaves. */
object Leaf {
  def apply(df: DataFrame, eager: Boolean): DataFrame =
    if (eager) df.localCheckpoint(true)
    else {
      val ds = df.asInstanceOf[classic.Dataset[_]]
      val qe = ds.queryExecution
      val rdd = SQLExecution.withNewExecutionId(qe, Some("leaf")) {
        qe.executedPlan.resetMetrics()
        qe.executedPlan.execute().map(_.copy())
      }.persist(StorageLevel.MEMORY_AND_DISK)
      classic.Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
    }
}
