package graft.pipeline

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Leaf
import org.scalatest.funsuite.AnyFunSuite

/** The one plan-cut helper: both paths keep the rows and become a single
  * `LogicalRDD` with the input's partitioning; the lazy path creates no
  * RDD checkpoint and starts exactly the jobs `localCheckpoint(false)`
  * starts, the eager path those of `localCheckpoint(true)`. */
class LeafSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** An aggregate joined back onto its input (the aggregate side is small
    * enough to broadcast). */
  private def frame(): DataFrame = {
    val base = spark.range(0, 2000).select((col("id") % 97).as("k"), col("id").as("v"))
    val agg = base.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
    base.join(agg, Seq("k"))
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.mkString(",")).sorted.toSeq

  private def leaf(df: DataFrame): LogicalRDD = df.queryExecution.optimizedPlan match {
    case l: LogicalRDD => l
    case p => fail(s"not one LogicalRDD:\n$p")
  }

  private def lineage(r: RDD[_]): Seq[RDD[_]] = r +: r.dependencies.flatMap(d => lineage(d.rdd))

  test("both paths keep the rows behind one LogicalRDD with the input's partitioning") {
    val expected = rows(frame())
    for (eager <- Seq(false, true)) {
      val in = frame()
      val out = Leaf(in, eager)
      val plan = leaf(out)
      assert(plan.outputPartitioning == in.queryExecution.executedPlan.outputPartitioning, s"eager=$eager")
      assert(plan.rdd.getNumPartitions == in.rdd.getNumPartitions, s"eager=$eager")
      assert(rows(out) == expected, s"eager=$eager")
    }
  }

  test("a lazy leaf creates no RDD checkpoint; localCheckpoint(false) does") {
    val lazyLeaf = Leaf(frame(), eager = false)
    lazyLeaf.count()
    val checkpointed = lineage(leaf(lazyLeaf).rdd).filter(_.isCheckpointed)
    assert(checkpointed.isEmpty, s"checkpointed under a lazy leaf: $checkpointed")
    val local = frame().localCheckpoint(false)
    local.count()
    assert(leaf(local).rdd.isCheckpointed)
  }

  test("a leaf starts as many jobs as the localCheckpoint it replaces") {
    frame().count() // compile the shapes once, outside the counts
    def jobs(body: => Unit): Int = SparkTestBase.jobDescriptions(body).size
    assert(jobs(Leaf(frame(), eager = false).count()) == jobs(frame().localCheckpoint(false).count()))
    assert(jobs(Leaf(frame(), eager = true).count()) == jobs(frame().localCheckpoint(true).count()))
  }
}
