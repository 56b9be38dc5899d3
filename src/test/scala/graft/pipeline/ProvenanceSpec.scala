package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The provenance emission is the SAME extraction as the triple
  * pipeline: its distinct triple projection, and the keyed emitter's,
  * must equal pipeline()'s deduplicated output exactly, and its
  * aggregation must count real multi-source assertions. */
class ProvenanceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("provenance emission projects and dedups to the pipeline output") {
    import spark.implicits._
    // two pages whose only blocks quarantine (no triples), so the
    // quarantine comparison below has rows to compare
    val bad = Seq(
      SparkTestBase.page("https://bad.example/parse", """{"@id": nope}"""),
      SparkTestBase.page("https://bad.example/ctx",
        """{"@context":"https://ctx.example/missing.jsonld","@id":"https://a/x"}"""))
    val pages = PageGen.pages(spark, 300, seed = 42L, partitions = 4).union(bad.toDS())
    val viaPipeline = TripleEmit.pipeline(pages).toDF()
      .select("subj", "pred", "objKind", "objValue", "objDatatype", "objLang", "graph")
      .collect().toSet
    val viaProv = TripleEmit.triplesWithSource(pages)
      .select("subj", "pred", "objKind", "objValue", "objDatatype", "objLang", "graph")
      .distinct()
      .collect().toSet
    assert(viaProv == viaPipeline)
    assert(viaPipeline.nonEmpty)
    val emitted = TripleEmit.emitKeyed(pages).localCheckpoint(true)
    val viaKeyed = TripleEmit.keyedTriples(emitted)
      .select("subj", "pred", "objKind", "objValue", "objDatatype", "objLang", "graph")
      .distinct()
      .collect().toSet
    assert(viaKeyed == viaPipeline)
    // the keyed emitter's quarantine rows are exactly the per-document
    // failures of the same corpus computed on the driver
    val quarantined = TripleEmit.keyedQuarantine(emitted)
      .select("url", "block_idx", "errorCode", "errorDetail")
      .collect().map(r => QuarantineRow(r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))
      .sortBy(q => (q.url, q.block_idx)).toSeq
    val onDriver = ((0L until 300L).map(PageGen.pageAt(42L, _)) ++ bad).flatMap { p =>
      Extract.docs(p).flatMap(d =>
        TripleEmit.docToTriples(d, normalizeBNodes = false, null).left.toOption)
    }.sortBy(q => (q.url, q.block_idx))
    assert(onDriver.map(_.errorCode) == Seq("loading remote context failed", "parse error"))
    assert(quarantined == onDriver)
  }

  test("provenance aggregation: counts bounded and consistent") {
    val pages = PageGen.pages(spark, 300, seed = 42L, partitions = 4)
    val withSource = TripleEmit.triplesWithSource(pages).localCheckpoint(true)
    val prov = TripleEmit.provenance(withSource)
    val rows = prov.select(col("n_sources"), col("first_url")).collect()
    assert(rows.forall(_.getLong(0) >= 1L))
    assert(rows.forall(r => r.getString(1) != null && r.getString(1).nonEmpty))
    // one provenance row per distinct triple
    val distinctTriples = withSource
      .select("subj", "pred", "objKind", "objValue", "objDatatype", "objLang", "graph")
      .distinct().count()
    assert(prov.count() == distinctTriples)
    // the corpus genuinely has multi-source facts (else the operator is
    // untested on its interesting case)
    assert(prov.filter(col("n_sources") > 1).count() > 0)
  }
}
