package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project, Repartition}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.col

/** Scan-parallelism floor for per-row-CPU-heavy operator inputs
  * (optimization guide §2: derive partitioning from the input and the
  * session, never a constant tuned for one deployment).
  *
  * A parquet scan's map-side parallelism equals its split count, and a
  * compact input — one or few files under `maxPartitionBytes`, the shape
  * of this repo's sf tables and build-once aux artifacts — runs the
  * whole fused scan→tokenize/explode/hash stage on ONE core no matter
  * how many the session has (measured: the 5000-row single-file
  * `shingle_sets` scan+explode+agg stage ran 1 task for 0.5–0.9 s while
  * 31 cores idled, in a per-stage profile). Operators whose first phase
  * does heavy per-row compute call [[minParallel]] on their input: when
  * the input already has at least the target's partitions — the
  * production multi-file shape at corpus scale — it is a NO-OP and adds
  * no exchange; only a narrow input pays one small hash exchange on
  * `key` to unlock every core. The target is the smaller of
  * `spark.sql.shuffle.partitions` and the session's default parallelism
  * (more partitions than cores buys nothing), and the EXPLICIT partition
  * number keeps AQE from byte-coalescing the spread back down — these
  * rows are small; it is the per-row work downstream that needs the
  * cores.
  */
object Spread {
  /** CONTRACT, checked: pass a raw file read or an already-materialized
    * frame (a `graftshim.Leaf`, or driver-local rows), under nothing but
    * projections, filters and coalesces. The split probe below goes
    * through `df.rdd`: on such a frame it starts no job, while on a frame
    * with UNMATERIALIZED upstream exchanges AQE would materialize those
    * query stages right here, and the caller would re-execute them at
    * action time. The probe counts the scan's splits, not its files:
    * many small files bin-pack into fewer splits. */
  def minParallel(df: DataFrame, key: String): DataFrame = {
    val plan = df.queryExecution.optimizedPlan
    require(narrowOverLeaves(plan),
      "Spread.minParallel takes a file read or a Leaf under projections, filters and coalesces, got:\n" +
        plan.treeString)
    val session = df.sparkSession
    val target = math.min(session.sessionState.conf.numShufflePartitions,
      session.sparkContext.defaultParallelism)
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target, col(key))
  }

  private def narrowOverLeaves(p: LogicalPlan): Boolean = p match {
    case _: LogicalRelation | _: LogicalRDD | _: LocalRelation => true
    case Project(_, child) => narrowOverLeaves(child)
    case Filter(_, child) => narrowOverLeaves(child)
    case Repartition(_, false, child) => narrowOverLeaves(child)
    case _ => false
  }
}
