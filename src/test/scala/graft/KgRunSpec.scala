package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline._

/** End-to-end wiring of the resumable job: one pass produces triples +
  * quarantine + manifest + adjacency; a second identical run is a no-op
  * (all partitions done); the core invariants hold on the written data. */
class KgRunSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** The job's JSON report as a map of its top-level fields. */
  private def report(line: String): Map[String, graft.jsonld.JV] = {
    val o = graft.jsonld.Json.parse(line).asInstanceOf[graft.jsonld.JObj]
    o.keys.map(k => k -> o(k)).toMap
  }

  test("resumable job: write, audit, publish, resume-as-noop") {
    import graft.jsonld.{JLong, JStr}
    val out = java.nio.file.Files.createTempDirectory("kgrun").toString
    val nPages = 300L

    // first run: everything pending
    val pages = PageGen.pages(spark, nPages, 42L, 8)
    val first = report(KgRun.run(spark, pages, out))
    assert(first("status") == JStr("done"))
    assert(first("pages") == JLong(nPages))
    assert(first("pending") == JLong(nPages), "fresh run: everything pending")

    val written = spark.read.parquet(s"$out/triples")
    assert(written.count() > 0)
    assert(first("triples_total") == JLong(written.count()))
    // manifest triple counts equal the written partition counts
    val manifest = Lineage.readManifest(spark, s"$out/lineage")
    val mTotal = manifest.agg(sum(col("triple_count"))).collect()(0).getLong(0)
    assert(mTotal == written.count())

    // second run: nothing pending
    val pending2 = Lineage.pendingPages(pages.toDF(), manifest)
    assert(pending2.count() == 0, "identical input must resume as a no-op")
    val second = report(KgRun.run(spark, pages, out))
    assert(second("status") == JStr("up-to-date") && second("pending") == JLong(0))

    // a NEW page invalidates exactly its partition's fingerprint
    val morePages = PageGen.pages(spark, nPages + 1, 42L, 8).toDF()
    val pending3 = Lineage.pendingPages(morePages, manifest)
    val changedKeys = pending3.select(col("partition_key")).distinct().count()
    assert(pending3.count() > 0 && changedKeys == 1,
      s"one new page must re-open exactly one partition, got $changedKeys")

    // adjacency the job wrote over the written table
    val adj = spark.read.parquet(s"$out/adjacency")
    assert(adj.count() > 0)
    assert(adj.filter(col("truncated")).count() == 0, "no hub exceeds the cap at this scale")
  }

  test("re-run partition with zero rows fully supersedes prior state (ADVICE r2)") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("kgrerun").toString
    def keyed(rows: Seq[(String, String)]): org.apache.spark.sql.DataFrame =
      rows.toDF("subj", "partition_key")
    def pages(urls: Seq[(String, String)]): org.apache.spark.sql.DataFrame =
      urls.toDF("url", "partition_key")
    // run 1: partitions hbA and hbB both produce rows
    Lineage.writeWithLineage(spark,
      keyed(Seq(("s1", "hbA"), ("s2", "hbB"))),
      pages(Seq(("https://a/1", "hbA"), ("https://b/1", "hbB"))),
      s"$out/triples", s"$out/lineage")
    assert(spark.read.parquet(s"$out/triples").count() == 2)
    // run 2 re-processes BOTH partitions but hbB now yields zero rows
    // (e.g. its pages all quarantine): stale hbB files must be gone and
    // the manifest must agree with the data
    Lineage.writeWithLineage(spark,
      keyed(Seq(("s1", "hbA"))),
      pages(Seq(("https://a/1", "hbA"), ("https://b/2", "hbB"))),
      s"$out/triples", s"$out/lineage")
    val data = spark.read.parquet(s"$out/triples")
    assert(data.count() == 1, "stale hbB rows must be deleted")
    val m = Lineage.readManifest(spark, s"$out/lineage")
      .select("partition_key", "triple_count").as[(String, Long)].collect().toMap
    assert(m("hbA") == 1L && m("hbB") == 0L, s"manifest must match data: $m")
  }
}
