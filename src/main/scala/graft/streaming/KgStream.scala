package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.pipeline._

/** Structured Streaming skin over the batch KG spine (SURVEY.md §2.4
  * "Streaming": the north rule requires RESUMABILITY, which the batch
  * lineage manifest provides; this skin adds continuous/backlog ingestion
  * with the same per-document core and the same idempotence guarantees).
  *
  * Design: `readStream` over a pages directory → the identical fused
  * extract→expand→toRDF flatMap (TripleEmit.emitKeyed — one narrow stage,
  * no per-batch recompute) → `foreachBatch` sink writing each micro-batch
  * under a batchId-scoped directory. Exactly-once across restarts needs
  * BOTH halves: the checkpointed file-source offsets guarantee a page
  * file is never part of two committed batches, and the batchId-scoped
  * OVERWRITE makes the sink write idempotent — a batch replayed after a
  * crash-between-write-and-commit rewrites the same `batch=<id>` directory
  * with identical content instead of appending duplicates (a plain append
  * here would be at-least-once; ADVICE.md round 2). `Trigger.AvailableNow`
  * drains the backlog and stops, which is the streaming equivalent of the
  * resumable batch run.
  *
  * At 100 TB the same topology holds: the file source lists incrementally
  * (`maxFilesPerTrigger` bounds batch size → bounded executor memory),
  * the flatMap is embarrassingly parallel, and the only shuffle per batch
  * is the per-partition dedup inside foreachBatch.
  */
object KgStream {

  val pageSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("warc_ts", TimestampType),
    StructField("html", BinaryType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  /** Start the backlog-draining stream: pages parquet dir → triples +
    * quarantine parquet dirs, checkpointed. */
  def run(spark: SparkSession, pagesDir: String, outDir: String,
          maxFilesPerTrigger: Int = 64): StreamingQuery = {
    import spark.implicits._
    val pages = spark.readStream
      .schema(pageSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(pagesDir)
      .as[Page]

    val emitted = TripleEmit.emitKeyed(pages).toDF()

    emitted.writeStream
      .queryName("kg-stream")
      .option("checkpointLocation", s"$outDir/checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, outDir)
      }
      .start()
  }

  /** One micro-batch: split the tagged rows into the two sinks, each
    * written to a batchId-scoped directory with OVERWRITE. Micro-batch
    * contents are deterministic functions of the batch's input files
    * (recorded in the checkpoint offset log), so a replayed batch
    * overwrites `batch=<id>` with byte-identical rows — the sink is
    * idempotent, upgrading the file-source's at-least-once replay to
    * effective exactly-once. Readers scan `$outDir/triples` and partition
    * discovery exposes `batch` + `partition_key` as partition columns. */
  private[streaming] def writeBatch(batch: DataFrame, batchId: Long, outDir: String): Unit = {
    TripleEmit.keyedTriples(batch).write.mode("overwrite").partitionBy("partition_key")
      .parquet(s"$outDir/triples/batch=$batchId")
    TripleEmit.keyedQuarantine(batch).write.mode("overwrite").partitionBy("partition_key")
      .parquet(s"$outDir/quarantine/batch=$batchId")
  }

  /** EVENT-time ingest metrics: pages per host-bucket per warc_ts window
    * with a watermark — the crawl-time view of ingest progress (a backfill
    * of year-old pages lands in year-old windows, not "now"). Watermark
    * semantics at scale: state for a window is dropped once the max seen
    * warc_ts passes window_end + delay, so unbounded backlog replays keep
    * bounded state; pages later than the watermark are dropped
    * deterministically rather than corrupting closed windows. */
  def ingestByEventTime(pages: DataFrame, delay: String = "1 day",
                        windowLen: String = "1 hour"): DataFrame =
    pages
      .withColumn("partition_key", Lineage.partitionKeyCol)
      .withWatermark("warc_ts", delay)
      .groupBy(window(col("warc_ts"), windowLen), col("partition_key"))
      .agg(count(lit(1)).as("pages"))

  /** Windowed ingest metrics (SURVEY.md §2.4 window row, streaming form):
    * triples-per-host-bucket per processing-time window with a watermark —
    * the live-dashboard companion of the per-partition lineage counts. */
  def metrics(emitted: DataFrame): DataFrame =
    emitted
      .withColumn("event_time", current_timestamp())
      .withWatermark("event_time", "1 minute")
      .groupBy(window(col("event_time"), "30 seconds"), col("partition_key"))
      .agg(sum(when(col("kind") === 0, 1).otherwise(0)).as("triples"),
        sum(when(col("kind") === 1, 1).otherwise(0)).as("quarantined"))
}
