package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.SparkTestBase

/** The scan-parallelism floor (optimization r6 batch 4): a compact input
  * is repartitioned up to the smaller of the session's shuffle
  * parallelism and its default parallelism, an already-parallel input
  * passes through untouched (the production multi-file shape must not pay
  * an exchange), row content is preserved either way, and an input that
  * still holds a shuffle is refused. */
class SpreadSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def target: Int =
    math.min(spark.sessionState.conf.numShufflePartitions, spark.sparkContext.defaultParallelism)

  private val rows = (1L to 100L).map(i => (i, s"doc$i"))

  private def content(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq

  test("narrow input is spread to the session parallelism, content intact") {
    import spark.implicits._
    val in = rows.toDF("doc_id", "text").coalesce(1)
    assert(in.rdd.getNumPartitions == 1)
    val out = Spread.minParallel(in, "doc_id")
    // local[4] with 8 shuffle partitions: the target is the 4 cores
    assert(target == 4)
    assert(out.rdd.getNumPartitions == target)
    assert(content(out) === rows)
  }

  test("already-parallel input is returned untouched (no exchange added)") {
    import spark.implicits._
    val in = rows.toDF("doc_id", "text").repartition(target + 1).localCheckpoint(true)
    val out = Spread.minParallel(in, "doc_id")
    assert(out eq in, "a sufficiently-parallel frame must pass through as-is")
  }

  test("a shuffled input is refused; the same rows behind a Leaf are spread") {
    import spark.implicits._
    import org.apache.spark.sql.functions.max
    val shuffled = rows.toDF("doc_id", "text").groupBy("doc_id").agg(max("text").as("text"))
    val e = intercept[IllegalArgumentException](Spread.minParallel(shuffled, "doc_id"))
    assert(e.getMessage.contains("a file read or a Leaf"), e.getMessage)
    val leaf = org.apache.spark.sql.graftshim.Leaf(shuffled.coalesce(1), eager = false)
    assert(content(Spread.minParallel(leaf, "doc_id")) === rows)
  }

  test("many tiny files that scan as fewer splits than the target are spread") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("spread").toString + "/t"
    rows.toDF("doc_id", "text").repartition(2 * target).write.parquet(dir)
    // every file into one split: the files outnumber the target, the
    // splits do not
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    try {
      val in = spark.read.parquet(dir)
      assert(in.inputFiles.length >= target)
      assert(in.rdd.getNumPartitions < target)
      val out = Spread.minParallel(in, "doc_id")
      assert(out.rdd.getNumPartitions == target)
      assert(content(out) === rows)
    } finally spark.conf.unset("spark.sql.files.minPartitionNum")
  }
}
