package graft.pipeline

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Iceberg-style table IO seam + per-partition lineage manifest for
  * resumable runs (SURVEY.md §4.3, north rule "resumable from checkpoint
  * with per-partition lineage + metrics").
  *
  * No Iceberg runtime is available offline (SURVEY.md §7.0), so the seam
  * is Parquet partitioned by the lineage key with DYNAMIC partition
  * overwrite — re-running a partition replaces its previous files instead
  * of appending stale duplicates (round 1 appended; ADVICE.md) — plus a
  * manifest published after each data write (write-audit-publish).
  *
  * The manifest holds one row per host bucket (at most [[Buckets]]), so
  * it is driver-side metadata, not a table: the manifest is the NEWEST
  * complete snapshot file `snapshot-<n>.parquet` in the manifest
  * directory, which [[readManifest]], its one reader, returns as
  * `LineageRow`s on the driver. A publish writes the merged rows as one
  * parquet file into the hidden `_staging` directory, renames it to the
  * next snapshot number and only then deletes older snapshots, so a
  * crash at any step leaves either the old or the new snapshot readable.
  * The manifest directory is owned by this object: a publish deletes
  * everything else in it.
  * A real deployment swaps these methods for an Iceberg catalog without
  * touching the engine.
  */
object Lineage {

  /** Number of host buckets: the lineage keyspace, and so the bound of
    * every driver-side collect of manifest rows or fingerprints. */
  val Buckets = 64

  /** Stable lineage partition key for a page url: a hash bucket of its
    * host (hot hosts do NOT map 1:1 to output partitions). Pure Scala so
    * the fused flatMap (TripleEmit.emitKeyed) computes the identical key
    * without a second pass; values are non-numeric ("hb3") so Spark's
    * partition-column type inference keeps them strings on read-back. */
  def hostBucket(url: String, buckets: Int = Buckets): String = {
    val schemeEnd = url.indexOf("://")
    val hs = if (schemeEnd >= 0) schemeEnd + 3 else 0
    val slash = url.indexOf('/', hs)
    val he = if (slash >= 0) slash else url.length
    val h = graft.ops.TextHash.mix64(graft.ops.TextHash.fnv1a64(url, hs, he))
    "hb" + java.lang.Long.remainderUnsigned(h, buckets.toLong)
  }

  private val hostBucketUdf = udf((url: String) => hostBucket(url))

  /** Column form of [[hostBucket]] for DataFrame-side keying. A UDF is
    * acceptable here: it runs once per page row on the lineage path, not
    * in the triple-emission hot loop, and guarantees bit-identical keys
    * between the DataFrame and typed paths. */
  private[pipeline] def partitionKeyCol: Column = hostBucketUdf(col("url"))

  /** Fingerprint of the input slice belonging to each `partition_key` of
    * `df`, collected by one aggregate job — order-independent (xor of
    * per-row hashes) so it is reproducible regardless of task scheduling,
    * and overflow-free under ANSI mode. */
  private def fingerprints(df: DataFrame, what: String): Seq[(String, Long)] =
    Bounded.collect(df.groupBy(col("partition_key").cast("string"))
      .agg(expr("bit_xor(xxhash64(url))")), Buckets, what)
      .map(r => r.getString(0) -> r.getLong(1)).toSeq

  private val SnapshotName = """snapshot-(\d+)\.parquet""".r
  private val StagingDir = "_staging"

  /** The published snapshots among a manifest directory's entries, by number. */
  private def snapshots(entries: Seq[FileStatus]): Seq[(Long, Path)] =
    entries.flatMap { st =>
      st.getPath.getName match {
        case SnapshotName(n) if st.isFile => Some(n.toLong -> st.getPath)
        case _ => None
      }
    }

  private val ManifestEncoder = Encoders.product[LineageRow]

  /** Load the lineage manifest as driver rows: the newest snapshot. A
    * MISSING manifest is the normal first-run state and yields no rows,
    * as does a directory holding only the staging directory of a first
    * publish that crashed before its rename. A manifest that EXISTS but
    * cannot be read fails loudly instead of silently falling back to
    * empty (which would quietly schedule a full re-run — at 100 TB an
    * expensive surprise an operator must opt into by deleting the
    * manifest; VERDICT r4 #4): garbage bytes, a directory with no
    * snapshot (empty, or holding anything but `_staging`), more than
    * [[Buckets]] rows, a missing column (it reads as null) or a mistyped
    * one. The snapshot is read with the `LineageRow` schema given, so a
    * read is one bounded collect and no schema-inference job. */
  def readManifest(spark: SparkSession, manifestPath: String): Seq[LineageRow] = {
    val dir = new Path(manifestPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val source =
        if (!fs.exists(dir)) None
        else {
          val entries = fs.listStatus(dir).toSeq
          snapshots(entries).maxByOption(_._1).map(_._2.toString).orElse {
            require(entries.nonEmpty && entries.forall(_.getPath.getName == StagingDir),
              "no snapshot")
            None
          }
        }
      source.fold(Seq.empty[LineageRow]) { src =>
        val rows = Bounded.collect(spark.read.schema(ManifestEncoder.schema).parquet(src).as(ManifestEncoder),
          Buckets, "lineage manifest rows").toSeq
        rows.foreach(r => require(!r.productIterator.contains(null), s"a null field in $r"))
        rows
      }
    } catch {
      case e: Exception =>
        throw new IllegalStateException(
          s"lineage manifest at $manifestPath exists but is unreadable " +
            "(corrupt or schema-drifted) — refusing to silently treat it as " +
            "empty and re-run everything; delete the manifest to force a " +
            "full re-run", e)
    }
  }

  /** Resume filter: the pages whose partition is not marked done with a
    * matching fingerprint. Decided on the driver: `manifest` is the rows
    * of [[readManifest]] and the page fingerprints are collected (bounded
    * by [[Buckets]]) — this runs the fingerprint job when CALLED, not
    * when the result is used — and the pages are filtered by the pending
    * keys. The returned plan reads only `pages`, never the manifest. */
  def pendingPages(pages: DataFrame, manifest: Seq[LineageRow]): DataFrame = {
    val done = manifest.collect { case r if r.status == "done" => r.partition_key -> r.input_fingerprint }.toMap
    val keyed = pages.withColumn("partition_key", partitionKeyCol)
    val pendingKeys = fingerprints(keyed, "page fingerprints")
      .collect { case (k, fp) if !done.get(k).contains(fp) => k }
    keyed.filter(col("partition_key").isin(pendingKeys: _*))
  }

  /** Delete the partition directories for `keys` under `path` (bounded:
    * keys come from the 64-bucket lineage keyspace). Dynamic partition
    * overwrite only replaces partitions PRESENT in the new data, so a
    * re-run partition that now yields ZERO rows for a sink would keep its
    * stale files while the manifest publishes count=0 (ADVICE.md round 2);
    * explicitly deleting this run's partitions first makes the re-run
    * fully supersede prior state. */
  def deletePartitions(spark: SparkSession, path: String, keys: Seq[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new Path(path)
    val fs = base.getFileSystem(conf)
    if (fs.exists(base)) keys.foreach { k =>
      val p = new Path(base, s"partition_key=$k")
      if (fs.exists(p)) fs.delete(p, true)
    }
  }

  /** Rows written per partition for `keys`: reads back only those
    * partition directories (a re-run partition with zero rows has none). */
  private def auditCounts(spark: SparkSession, outPath: String, keys: Seq[String]): Map[String, Long] = {
    val base = new Path(outPath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val present = if (fs.exists(base)) fs.listStatus(base).map(_.getPath.getName).toSet else Set.empty[String]
    val dirs = keys.map(k => s"partition_key=$k").filter(present)
    if (dirs.isEmpty) Map.empty
    else Bounded.collect(spark.read.option("basePath", outPath)
        .parquet(dirs.map(d => new Path(base, d).toString): _*)
        .groupBy(col("partition_key").cast("string"))
        .agg(count(lit(1))), Buckets, "audit counts")
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Publish `rows` as the complete manifest: write them as one parquet
    * file into the staging directory, rename it to the next snapshot
    * number, then delete everything else in the manifest directory (older
    * snapshots, the staging directory). The
    * writer's output path is the staging directory, so Spark never
    * refreshes a cached plan over the manifest path. `step` is called
    * after the "staged" and "renamed" steps; a spec throws from it to
    * crash the publish there. */
  private[pipeline] def publish(spark: SparkSession, manifestPath: String, rows: Seq[LineageRow],
                                step: String => Unit = _ => ()): Unit = {
    val dir = new Path(manifestPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(dir, StagingDir)
    spark.createDataFrame(rows).coalesce(1).write.mode(SaveMode.Overwrite).parquet(staging.toString)
    step("staged")
    val parts = fs.listStatus(staging).map(_.getPath).filter(_.getName.endsWith(".parquet"))
    if (parts.length != 1)
      throw new IllegalStateException(s"lineage publish staged ${parts.length} files in $staging, expected 1")
    val next = snapshots(fs.listStatus(dir).toSeq).map(_._1).maxOption.getOrElse(0L) + 1
    val snapshot = new Path(dir, f"snapshot-$next%020d.parquet")
    if (!fs.rename(parts.head, snapshot))
      throw new IllegalStateException(s"lineage publish could not rename ${parts.head} to $snapshot")
    step("renamed")
    fs.listStatus(dir).map(_.getPath).filter(_.getName != snapshot.getName)
      .foreach(fs.delete(_, true))
  }

  /** Write triples partitioned by the lineage key with dynamic partition
    * overwrite (a re-run REPLACES a partition's files — no stale
    * duplicates; zero-row re-run partitions are explicitly deleted, see
    * [[deletePartitions]]), audit the written files, then publish the
    * manifest rows with the TRUE written triple count per partition (round
    * 1 recorded the page count under `triple_count`). `triplesKeyed` must
    * carry a `partition_key` column (TripleEmit.keyedTriples provides it).
    * Crash between delete and publish leaves the partition pending in the
    * manifest (old fingerprint), so the next run re-processes it —
    * write-audit-publish semantics are preserved. Returns this run's
    * partition keys so callers can reuse them without re-collecting.
    *
    * One fingerprint aggregate over `pagesKeyed` gives both this run's
    * keys and their new fingerprints; the published snapshot keeps the
    * previous rows of every other key.
    *
    * This sets `spark.sql.sources.partitionOverwriteMode=dynamic` for the
    * whole SESSION, not just this write: the quarantine sinks of
    * `graft.KgRun` and the perfbench kg_resume job overwrite their
    * partitioned tables after this call and rely on it.
    *
    * `beforePublish` runs with this run's keys AFTER the data write+audit
    * but BEFORE the manifest publish: auxiliary sinks (KgRun's quarantine
    * table) write there so a crash anywhere before publish leaves the
    * partition pending and fully re-processed — writing them after the
    * publish permanently lost a crashed run's quarantine rows (ADVICE r3). */
  def writeWithLineage(spark: SparkSession, triplesKeyed: DataFrame, pagesKeyed: DataFrame,
                       outPath: String, manifestPath: String,
                       beforePublish: Seq[String] => Unit = _ => ()): Seq[String] = {
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val fps = fingerprints(pagesKeyed, "run fingerprints")
    val runKeys = fps.map(_._1)
    deletePartitions(spark, outPath, runKeys)
    triplesKeyed.write.mode(SaveMode.Overwrite)
      .partitionBy("partition_key").parquet(outPath)
    val written = auditCounts(spark, outPath, runKeys)
    beforePublish(runKeys)
    if (runKeys.nonEmpty) {
      val now = new Timestamp(System.currentTimeMillis())
      val run = runKeys.toSet
      val kept = readManifest(spark, manifestPath).filterNot(r => run(r.partition_key))
      publish(spark, manifestPath, kept ++ fps.map { case (k, fp) =>
        LineageRow(k, fp, written.getOrElse(k, 0L), "done", now) })
    }
    runKeys
  }
}
