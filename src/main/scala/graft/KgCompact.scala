package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Downstream compaction: globally deduplicate the triples table across
  * lineage partitions (KgRun dedups only WITHIN a partition — a triple
  * observed on two hosts, e.g. the same event IRI embedded on many
  * pages, exists once per partition until compacted).
  *
  * Shape at 100 TB: one hash-aggregate shuffle keyed on the full triple
  * (map-side partial combine eliminates most duplicates before the
  * exchange), written back partitioned by a hash bucket of the subject —
  * the read pattern downstream of compaction is subject-keyed (adjacency,
  * entity joins), so re-keying here co-locates those consumers' joins.
  *
  * Usage: KgCompact <triplesDir> <outDir> [buckets]
  */
object KgCompact {

  def compact(triples: DataFrame, buckets: Int = 64): DataFrame =
    triples
      .select(col("subj"), col("pred"), col("objKind"), col("objValue"),
        col("objDatatype"), col("objLang"), col("graph"))
      .dropDuplicates()
      .withColumn("subj_bucket", pmod(xxhash64(col("subj")), lit(buckets)).cast("int"))

  def main(args: Array[String]): Unit = {
    val triplesDir = args(0)
    val outDir = args(1)
    val buckets = if (args.length > 2) args(2).toInt else 64
    val spark = Sessions.local()
    spark.conf.set("spark.sql.shuffle.partitions", "256")
    val in = spark.read.parquet(triplesDir)
    val out = compact(in, buckets)
    out.write.mode(SaveMode.Overwrite).partitionBy("subj_bucket").parquet(outDir)
    val n = spark.read.parquet(outDir).count()
    println(s"""{"job":"compact","in":"$triplesDir","out":"$outDir","distinct_triples":$n}""")
    spark.stop()
  }
}
