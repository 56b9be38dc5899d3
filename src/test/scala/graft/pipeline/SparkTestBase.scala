package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Shared local session for all Spark suites (one JVM, forked by sbt with
  * the JDK17 add-opens flags from build.sbt). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = graft.Sessions.local(4)
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s
  }

  /** A page whose html holds each payload in its own script block. */
  def page(url: String, payloads: String*): Page =
    Page(url, new java.sql.Timestamp(0L),
      PageGen.htmlShell(url, payloads, "filler").getBytes(java.nio.charset.StandardCharsets.UTF_8),
      "filler", "en")
}
