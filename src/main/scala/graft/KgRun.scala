package graft

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline._

/** End-to-end resumable KG-construction job (the spark-submit entry point
  * of the north rule): pages → pending-partition filter → extract →
  * expand → toRDF → dedup → partitioned write + lineage manifest +
  * adjacency table. Re-running after a crash (or with new input) only
  * processes partitions whose fingerprint is new/changed. The report's
  * `triples_total` is the published manifest's per-partition
  * `triple_count` summed, so the job never counts the triples table; the
  * table is read back only as adjacency's input.
  *
  * [[run]] is the job; `main` only builds the session and the generated
  * pages, and `KgRunSpec` runs [[run]] itself.
  *
  * Usage: KgRun <outDir> [nPages] [cores]
  */
object KgRun {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "/tmp/kg_out"
    val nPages = if (args.length > 1) args(1).toLong else 100000L
    val cores = if (args.length > 2) args(2).toInt else Sessions.defaultCores
    val spark = Sessions.local(cores)
    println(run(spark, PageGen.pages(spark, nPages, 42L, cores * 4), outDir))
    spark.stop()
  }

  /** Distinct quarantine error codes one run may report: the codes are a
    * closed set (the `JsonLdError.Code` texts, `internal error` and
    * `stack overflow`), well under this bound. */
  private val MaxQuarantineCodes = 64

  /** The job over `pages` into `outDir` (tables `triples`, `lineage`,
    * `quarantine`, `adjacency`); returns its one-line JSON report.
    * `triples_total` counts the whole triples table, from the manifest;
    * `quarantined`, its split `quarantined_by_code` and
    * `observed.triples_written` count this run's rows only. */
  def run(spark: SparkSession, pages: Dataset[Page], outDir: String): String = {
    import spark.implicits._
    val triplesPath = s"$outDir/triples"
    val manifestPath = s"$outDir/lineage"
    val adjacencyPath = s"$outDir/adjacency"
    val quarantinePath = s"$outDir/quarantine"

    val nPages = pages.count()
    val manifest = Lineage.readManifest(spark, manifestPath)
    val pending = Lineage.pendingPages(pages.toDF(), manifest).cache()
    val nPending = pending.count()
    if (nPending == 0) {
      pending.unpersist()
      return s"""{"job":"kg","status":"up-to-date","pages":$nPages,"pending":0}"""
    }

    // ONE pass over the pending pages produces both triples and
    // quarantine rows (round 1 re-ran extract+expand for quarantine —
    // doubling the job at scale). persist() lets the two sinks share the
    // computation; disk-spillable so a 100 TB run degrades, not dies.
    val emitted = TripleEmit.emitKeyed(pending.drop("partition_key").as[Page])
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // observe-based metrics (SURVEY §2.4 UDAF/observe row): counts ride
    // the write pass itself — no second scan, no accumulator races
    val obs = org.apache.spark.sql.Observation("kg_metrics")
    val triplesKeyed = TripleEmit.keyedTriples(emitted)
      .observe(obs, count(lit(1)).as("triples_written"),
        sum(when(col("objKind") === 2, 1L).otherwise(0L)).as("literal_triples"))
    // the quarantine sink writes INSIDE the write-audit-publish window
    // (before the manifest publish): a crash mid-quarantine-write leaves
    // the partition pending, so the next run fully re-processes it —
    // writing after publish permanently lost those rows (ADVICE r3). A
    // re-processed partition that no longer quarantines anything must not
    // keep its old rows either (ADVICE r2) — delete before overwrite.
    Lineage.writeWithLineage(spark, triplesKeyed, pending, triplesPath, manifestPath,
      beforePublish = runKeys => {
        Lineage.deletePartitions(spark, quarantinePath, runKeys)
        TripleEmit.keyedQuarantine(emitted)
          .write.mode(SaveMode.Overwrite).partitionBy("partition_key").parquet(quarantinePath)
      })
    // this run's quarantine rows by error code, from the persisted emit
    // rather than a read-back of the quarantine table
    val byCode = Bounded.collect(
      TripleEmit.keyedQuarantine(emitted).groupBy(col("errorCode")).count().as[(String, Long)],
      MaxQuarantineCodes, "quarantine error codes").sorted
    emitted.unpersist()
    pending.unpersist()

    GraphMaterialize.adjacency(spark.read.parquet(triplesPath).drop("partition_key").as[Triple])
      .write.mode(SaveMode.Overwrite).parquet(adjacencyPath)

    val nTriples = Lineage.readManifest(spark, manifestPath).map(_.triple_count).sum
    val codes = byCode.map { case (code, n) => s""""$code":$n""" }.mkString("{", ",", "}")
    val metrics = obs.get.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    s"""{"job":"kg","status":"done","pages":$nPages,"pending":$nPending,"triples_total":$nTriples,"quarantined":${byCode.map(_._2).sum},"quarantined_by_code":$codes,"observed":$metrics,"out":"$outDir"}"""
  }
}
