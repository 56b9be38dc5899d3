package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.{PageGen, SparkTestBase, TripleEmit}

/** Streaming skin: the backlog drain must produce exactly the batch
  * spine's triples, and a restart over the same checkpoint must not
  * duplicate them (file-source offsets = exactly-once per input file). */
class KgStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("AvailableNow drain matches the batch spine and restart is idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("kgstream").toString
    val pagesDir = s"$dir/pages"
    val outDir = s"$dir/out"
    PageGen.pages(spark, 200, 42L, partitions = 4).write.parquet(pagesDir)

    val q = KgStream.run(spark, pagesDir, outDir, maxFilesPerTrigger = 2)
    q.awaitTermination(120000)

    // dedup is per micro-batch (global dedup = downstream compaction), so
    // compare DISTINCT triple sets against the batch spine
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("subj"), col("pred"), col("objKind"), col("objValue"),
        col("objDatatype"), col("objLang"), col("graph"))
      .distinct().collect().map(_.toString).sorted.toSeq
    val streamed = spark.read.parquet(s"$outDir/triples")
    val streamedKeys = key(streamed)
    val batchKeys = key(TripleEmit.keyedTriples(
      TripleEmit.emitKeyed(PageGen.pages(spark, 200, 42L, partitions = 4))))
    assert(streamedKeys == batchKeys,
      s"streamed distinct triples (${streamedKeys.size}) must equal the batch spine (${batchKeys.size})")
    val rowsAfterFirstDrain = streamed.count()

    // restart over the same checkpoint: backlog already committed -> no new rows
    val q2 = KgStream.run(spark, pagesDir, outDir, maxFilesPerTrigger = 2)
    q2.awaitTermination(120000)
    assert(spark.read.parquet(s"$outDir/triples").count() == rowsAfterFirstDrain,
      "restart must not reprocess committed files")
  }

  test("event-time windowed ingest metrics aggregate on warc_ts with a watermark") {
    val dir = java.nio.file.Files.createTempDirectory("kgevm").toString
    val pagesDir = s"$dir/pages"
    PageGen.pages(spark, 300, 42L, partitions = 4).write.parquet(pagesDir)
    val stream = spark.readStream.schema(KgStream.pageSchema).parquet(pagesDir)
    val q = KgStream.ingestByEventTime(stream)
      .writeStream.outputMode("update").format("memory").queryName("evm")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val rows = spark.sql("SELECT window.start AS ws, partition_key, pages FROM evm").collect()
    assert(rows.nonEmpty, "event-time windows must be emitted")
    assert(rows.map(_.getLong(2)).sum == 300L, "every page lands in exactly one window")
    // windows are warc_ts-aligned (2023-2024 epoch range), not wall-clock
    assert(rows.forall(_.getTimestamp(0).getTime < 1750000000000L),
      "windows must be event-time, not processing-time")
  }

  test("writeBatch replay of the same batchId is idempotent (ADVICE r2)") {
    // crash between the sink write and the checkpoint commit replays the
    // batch; the batchId-scoped overwrite must not duplicate rows
    val dir = java.nio.file.Files.createTempDirectory("kgreplay").toString
    val batch = TripleEmit.emitKeyed(PageGen.pages(spark, 20, 42L, partitions = 2)).toDF()
    KgStream.writeBatch(batch, 7L, dir)
    val n1 = spark.read.parquet(s"$dir/triples").count()
    assert(n1 > 0)
    KgStream.writeBatch(batch, 7L, dir)
    assert(spark.read.parquet(s"$dir/triples").count() == n1,
      "replayed batch must overwrite, not append")
  }
}
