package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.{PageGen, SparkTestBase, TripleEmit}

class CompactSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("compaction removes cross-partition duplicates and buckets by subject") {
    val perPartitionDeduped = TripleEmit.keyedTriples(
      TripleEmit.emitKeyed(PageGen.pages(spark, 400, 42L, partitions = 4)))
    val compacted = KgCompact.compact(perPartitionDeduped, buckets = 16)
    val globalDistinct = perPartitionDeduped.drop("partition_key").distinct().count()
    assert(compacted.count() == globalDistinct)
    // same triple on two hosts must have collapsed to one row
    assert(compacted.count() <= perPartitionDeduped.count())
    val buckets = compacted.select(countDistinct(col("subj_bucket"))).collect()(0).getLong(0)
    assert(buckets > 1 && buckets <= 16)
    // bucket assignment is a pure function of subj: every subj in one bucket
    val multi = compacted.groupBy("subj")
      .agg(countDistinct(col("subj_bucket")).as("nb")).filter(col("nb") > 1).count()
    assert(multi == 0)
  }
}
