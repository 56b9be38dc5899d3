package graft

import java.nio.file.Files
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.SparkTestBase

/** The session factory sizes Spark's generated-class cache for a query
  * mix: a second round of the same queries reuses the classes it compiled
  * in the first, where Spark's default of 100 entries evicts and
  * recompiles them (~2 s of a ~5 s round of these three). */
class CodegenCacheSpec extends AnyFunSuite {
  test("a second round of the text queries compiles almost no classes") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("codegen-cache").toString
    val words = Vector("graph", "node", "edge", "spark", "query", "token", "shard", "index")
    (0 until 80).map { i =>
      val text = (0 until 40).map(k => words((i * 7 + k * k) % words.size)).mkString(" ")
      (i.toLong, text, "en", s"src${i % 3}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")

    def compiled(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Seq("q_pmi_top", "q_inverted_index", "q_pack_shards")
        .foreach(q => SparkEntry.queries(q)(spark, dir).collect())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = compiled()
    val second = compiled()
    // some rounds compile a few classes again (0 to 16 were seen, with
    // adaptive execution re-planning each query); with Spark's default
    // cache nearly all are compiled again (153 of 161)
    assert(second < 40, s"second round compiled $second classes (first $first)")
  }
}
