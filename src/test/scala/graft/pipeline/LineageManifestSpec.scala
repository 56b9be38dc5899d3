package graft.pipeline

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The lineage manifest as one snapshot file: crash safety of the
  * publish, what a publish leaves on disk, what fails to read, the
  * caller's cached frames across a publish, and the jobs a resume
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
    Lineage.readManifest(spark, s"$dir/lineage").toSet

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
    * orphan `.crc` file. */
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
    // a directory of partition directories holds no snapshot
    val partitioned = tmp("lineage-partitioned")
    Seq(LineageRow("hb0", 1L, 2L, "done", new Timestamp(0L))).toDF()
      .write.partitionBy("partition_key").parquet(s"$partitioned/lineage")
    assert(entries(partitioned).contains("partition_key=hb0"))
    val legacy = intercept[IllegalStateException](Lineage.readManifest(spark, s"$partitioned/lineage"))
    assert(legacy.getMessage.contains("unreadable"), legacy.getMessage)
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
    val tooMany = (0 to Lineage.Buckets).map(i => LineageRow(s"hb$i", 0L, 0L, "done", now))
    val dir = tmp("lineage-too-many")
    Lineage.publish(spark, s"$dir/lineage", tooMany)
    val e2 = intercept[IllegalStateException](Lineage.readManifest(spark, s"$dir/lineage"))
    val messages = Iterator.iterate[Throwable](e2)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(messages.exists(m => m.contains("lineage manifest rows") && m.contains(s"bounded at ${Lineage.Buckets}")),
      messages.mkString(" / "))
  }

  /** `df` written as the only snapshot file of `<dir>/lineage`. */
  private def writeSnapshot(df: DataFrame, dir: String): String = {
    df.coalesce(1).write.parquet(s"$dir/staged")
    val st = Files.list(Paths.get(dir, "staged"))
    val part = try st.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get finally st.close()
    Files.createDirectories(Paths.get(dir, "lineage"))
    Files.move(part, Paths.get(dir, "lineage", "snapshot-00000000000000000001.parquet"))
    s"$dir/lineage"
  }

  test("a schema-drifted snapshot fails loudly") {
    val rows = Seq(LineageRow("hb1", 1L, 2L, "done", new Timestamp(0L))).toDF()
    assert(Lineage.readManifest(spark, writeSnapshot(rows, tmp("lineage-drift-ok"))).size == 1)
    Seq("no triple_count" -> rows.drop("triple_count"), "no status" -> rows.drop("status"),
      "string input_fingerprint" -> rows.withColumn("input_fingerprint", col("input_fingerprint").cast("string"))
    ).foreach { case (drift, df) =>
      val e = intercept[IllegalStateException](Lineage.readManifest(spark, writeSnapshot(df, tmp("lineage-drift"))))
      assert(e.getMessage.contains("unreadable"), s"$drift: ${e.getMessage}")
    }
  }

  test("reading a 64-bucket manifest and deciding a resume lists no directories in a job") {
    val dir = tmp("lineage-jobs")
    val us = urls(1000)
    run(dir, us)
    assert(manifest(dir).size == Lineage.Buckets)
    val listing = (d: String) => d.startsWith("Listing leaf files and directories")
    val jobs = SparkTestBase.jobDescriptions {
      Lineage.pendingPages(pages(us), Lineage.readManifest(spark, s"$dir/lineage")).count()
    }
    assert(jobs.nonEmpty, "the resume decision runs at least its fingerprint job")
    assert(!jobs.exists(listing), s"listing jobs: ${jobs.filter(listing)}")
    // the detector sees the listing job a 64-directory partitioned read starts
    val partitioned = s"$dir/partitioned"
    Lineage.readManifest(spark, s"$dir/lineage").toDF().write.partitionBy("partition_key").parquet(partitioned)
    assert(SparkTestBase.jobDescriptions(spark.read.parquet(partitioned).collect(): Unit).exists(listing))
  }

  test("reading a 64-bucket snapshot is one job") {
    val dir = tmp("lineage-one-job")
    run(dir, urls(1000))
    var rows = Seq.empty[LineageRow]
    val jobs = SparkTestBase.jobDescriptions { rows = Lineage.readManifest(spark, s"$dir/lineage") }
    assert(rows.size == Lineage.Buckets)
    assert(jobs.size == 1, s"jobs: $jobs")
    assert(!jobs.exists(_.startsWith("Listing leaf files and directories")), s"jobs: $jobs")
  }
}
