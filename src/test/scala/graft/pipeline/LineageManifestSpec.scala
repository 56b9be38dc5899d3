package graft.pipeline

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The lineage manifest as one snapshot file: crash safety of the
  * publish, the older partitioned layout, what a publish leaves on disk,
  * the caller's cached frames across a publish, and the jobs a resume
  * decision starts. */
class LineageManifestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import SparkTestBase.spark.implicits._

  private final class Crash extends RuntimeException("injected crash")

  /** One page per host; 1000 hosts fill all 64 buckets. */
  private def urls(n: Int): Seq[String] = (0 until n).map(i => s"https://host-$i.example/p")
  private def pages(us: Seq[String]): DataFrame = us.toDF("url")

  /** One resumable run over `us`, as KgRun composes it; returns the
    * pending page count and this run's keys. */
  private def run(dir: String, us: Seq[String]): (Long, Seq[String]) = {
    val pending = Lineage.pendingPages(pages(us), Lineage.readManifest(spark, s"$dir/lineage")).cache()
    val n = pending.count()
    val keys = Lineage.writeWithLineage(spark, pending.select(col("url").as("subj"), col("partition_key")),
      pending, s"$dir/triples", s"$dir/lineage")
    pending.unpersist(blocking = true)
    (n, keys)
  }

  private def manifest(dir: String): Set[LineageRow] =
    Lineage.readManifest(spark, s"$dir/lineage").as[LineageRow].collect().toSet

  private def pendingKeys(dir: String, us: Seq[String]): Set[String] =
    Lineage.pendingPages(pages(us), Lineage.readManifest(spark, s"$dir/lineage"))
      .select("partition_key").as[String].collect().toSet

  private def entries(dir: String): Set[String] = {
    val st = Files.list(Paths.get(dir, "lineage"))
    try st.iterator().asScala.map(_.getFileName.toString).toSet finally st.close()
  }

  private def snapshots(dir: String): Set[String] =
    entries(dir).filter(_.matches("""snapshot-\d+\.parquet"""))

  /** Exactly one snapshot and its checksum: no staging directory, no
    * older layout, no orphan `.crc` file. */
  private def assertOneSnapshot(dir: String): Unit = {
    val snap = snapshots(dir)
    assert(snap.size == 1, s"expected one snapshot, found ${entries(dir)}")
    assert(entries(dir) -- snap.map(s => s".$s.crc") == snap, s"stray entries: ${entries(dir)}")
  }

  private def tmp(name: String): String = Files.createTempDirectory(name).toString

  test("crash after staging, before rename: the old snapshot is read and this run's keys stay pending") {
    val dir = tmp("lineage-staged")
    val v1 = urls(200)
    run(dir, v1)
    val before = manifest(dir)
    val v2 = v1 :+ "https://host-3.example/new"
    val changed = pendingKeys(dir, v2)
    assert(changed == Set(Lineage.hostBucket(v2.last)))
    val next = before.map(r => if (changed(r.partition_key)) r.copy(input_fingerprint = r.input_fingerprint ^ 1L) else r)
    intercept[Crash] {
      Lineage.publish(spark, s"$dir/lineage", next.toSeq, step = s => if (s == "staged") throw new Crash)
    }
    assert(entries(dir).contains("_staging"), "the crash leaves the staged file behind")
    assert(manifest(dir) == before)
    assert(pendingKeys(dir, v2) == changed)
    // the next publish finishes the resume and clears the staging directory
    assert(run(dir, v2)._2.toSet == changed)
    assert(pendingKeys(dir, v2).isEmpty)
    assertOneSnapshot(dir)
    // a first publish that crashed there leaves an empty manifest
    val first = tmp("lineage-staged-first")
    intercept[Crash] {
      Lineage.publish(spark, s"$first/lineage", next.toSeq, step = s => if (s == "staged") throw new Crash)
    }
    assert(entries(first) == Set("_staging"))
    assert(manifest(first).isEmpty)
  }

  test("crash after rename, before cleanup: the newest snapshot wins") {
    val dir = tmp("lineage-renamed")
    val v1 = urls(200)
    run(dir, v1)
    val before = manifest(dir)
    val now = new Timestamp(System.currentTimeMillis())
    val next = before.map(_.copy(triple_count = 7L, updated_at = now))
    intercept[Crash] {
      Lineage.publish(spark, s"$dir/lineage", next.toSeq, step = s => if (s == "renamed") throw new Crash)
    }
    assert(snapshots(dir).size == 2)
    assert(manifest(dir) == next)
    run(dir, v1 :+ "https://host-5.example/new")
    assertOneSnapshot(dir)
  }

  test("a manifest in the partitioned layout reads back identically and the next publish replaces it") {
    val dir = tmp("lineage-legacy")
    val v1 = urls(1000)
    run(dir, v1)
    val rows = manifest(dir)
    assert(rows.map(_.partition_key).size == Lineage.Buckets)
    // rewrite it the way the partitioned publish wrote it
    val legacy = tmp("lineage-legacy-copy")
    Files.move(Paths.get(dir, "triples"), Paths.get(legacy, "triples"))
    rows.toSeq.toDF().write.partitionBy("partition_key").parquet(s"$legacy/lineage")
    assert(entries(legacy).count(_.startsWith("partition_key=")) == Lineage.Buckets)
    assert(manifest(legacy) == rows)
    assert(pendingKeys(legacy, v1).isEmpty)
    val v2 = v1 :+ "https://host-9.example/new"
    assert(run(legacy, v2)._2 == Seq(Lineage.hostBucket(v2.last)))
    assertOneSnapshot(legacy)
    val after = manifest(legacy)
    assert(after.size == Lineage.Buckets)
    assert(after.filter(_.partition_key != Lineage.hostBucket(v2.last)) ==
      rows.filter(_.partition_key != Lineage.hostBucket(v2.last)))
  }

  test("after N publishes the manifest directory holds one snapshot and nothing else") {
    val dir = tmp("lineage-publishes")
    val us = urls(100)
    (1 to 4).foreach { i =>
      val (n, _) = run(dir, us ++ (0 until i).map(j => s"https://host-$j.example/v$i"))
      assert(n > 0)
      assertOneSnapshot(dir)
    }
    assert(snapshots(dir) == Set(f"snapshot-${4}%020d.parquet"), s"numbered by publish: ${snapshots(dir)}")
  }

  test("a garbage snapshot file or an empty manifest directory fails loudly") {
    val dir = tmp("lineage-garbage")
    Files.createDirectories(Paths.get(dir, "lineage"))
    val empty = intercept[IllegalStateException](Lineage.readManifest(spark, s"$dir/lineage"))
    assert(empty.getMessage.contains("unreadable"), empty.getMessage)
    Files.write(Paths.get(dir, "lineage", "snapshot-00000000000000000001.parquet"), "not parquet".getBytes)
    val e = intercept[IllegalStateException](Lineage.readManifest(spark, s"$dir/lineage"))
    assert(e.getMessage.contains("unreadable"), e.getMessage)
  }

  test("a resume's cached pending frame keeps its rows across the publish") {
    val dir = tmp("lineage-recache")
    val v1 = urls(200)
    run(dir, v1)
    val v2 = v1 :+ "https://host-11.example/new"
    val pending = Lineage.pendingPages(pages(v2), Lineage.readManifest(spark, s"$dir/lineage")).cache()
    val n = pending.count()
    assert(n > 1 && n < v2.size)
    Lineage.writeWithLineage(spark, pending.select(col("url").as("subj"), col("partition_key")),
      pending, s"$dir/triples", s"$dir/lineage")
    assert(pending.count() == n, "a publish must not re-point the caller's cached pending pages")
    pending.unpersist(blocking = true)
  }

  test("bounded collect fails loudly past its bound") {
    assert(Bounded.collect(spark.range(10), 10, "ten ids").length == 10)
    val e = intercept[IllegalStateException](Bounded.collect(spark.range(10), 9, "ten ids"))
    assert(e.getMessage.contains("ten ids") && e.getMessage.contains("9"), e.getMessage)
    // the manifest collect is bounded by the bucket count
    val now = new Timestamp(0L)
    val tooMany = (0 to Lineage.Buckets).map(i => LineageRow(s"hb$i", 0L, 0L, "done", now)).toDF()
    val e2 = intercept[IllegalStateException](Lineage.pendingPages(pages(urls(3)), tooMany))
    assert(e2.getMessage.contains("lineage manifest rows"), e2.getMessage)
  }

  /** Descriptions of the jobs `body` starts. A marker job flushes the
    * listener queue: events reach a listener in order. */
  private def jobDescriptions(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val marker = "lineage-spec-marker"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1), 1).count()
      sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "listener never saw the marker job")
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq.filter(_ != marker)
  }

  test("reading a 64-bucket manifest and deciding a resume lists no directories in a job") {
    val dir = tmp("lineage-jobs")
    val us = urls(1000)
    run(dir, us)
    assert(manifest(dir).size == Lineage.Buckets)
    val listing = (d: String) => d.startsWith("Listing leaf files and directories")
    val jobs = jobDescriptions {
      Lineage.pendingPages(pages(us), Lineage.readManifest(spark, s"$dir/lineage")).count()
    }
    assert(jobs.nonEmpty, "the resume decision runs at least its fingerprint job")
    assert(!jobs.exists(listing), s"listing jobs: ${jobs.filter(listing)}")
    // the detector sees the listing job the partitioned layout starts
    val legacy = s"$dir/legacy"
    Lineage.readManifest(spark, s"$dir/lineage").write.partitionBy("partition_key").parquet(legacy)
    assert(jobDescriptions(Lineage.readManifest(spark, legacy)).exists(listing))
  }
}
