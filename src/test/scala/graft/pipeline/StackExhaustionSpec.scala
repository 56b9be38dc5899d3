package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

/** Stack exhaustion is a per-document failure, not a task failure: a
  * block nested far past any thread stack quarantines under its own code,
  * and the rest of its page and of the job still emits. */
class StackExhaustionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("a block nested 10^6 levels deep quarantines; its page and the other pages emit") {
    import spark.implicits._
    val depth = 1000000
    val deep = "[" * depth + "]" * depth
    val normal = """{"@id":"http://e/s","http://e/p":"v"}"""
    val url = "https://deep.example/p"
    val deepPage = SparkTestBase.page(url, deep, normal)
    val ordinary = (0L until 40L).map(PageGen.pageAt(42L, _))

    val emitted = TripleEmit.emitKeyed((ordinary :+ deepPage).toDS().repartition(4))
      .localCheckpoint(true)

    val quarantined = TripleEmit.keyedQuarantine(emitted).collect()
    assert(quarantined.length == 1, quarantined.toSeq)
    val q = quarantined.head
    assert(q.getAs[String]("url") == url && q.getAs[Int]("block_idx") == 0)
    assert(q.getAs[String]("errorCode") == TripleEmit.StackOverflowCode)

    val got = emitted.filter($"kind" === 0).as[EmitRow].collect()
      .map(r => Triple(r.subj, r.pred, r.objKind, r.objValue, r.objDatatype, r.objLang, r.graph))
      .map(_.toString).sorted.toSeq
    val want = (ordinary.flatMap(Extract.docs) :+ ExtractedDoc(url, 1, normal, "jsonld"))
      .flatMap(d => TripleEmit.docToTriples(d, normalizeBNodes = false, null).toOption.get)
      .map(_.toString).sorted
    assert(got.contains(Triple("http://e/s", "http://e/p", 2, "v",
      "http://www.w3.org/2001/XMLSchema#string", null, "@default").toString))
    assert(got.size > 40 && got == want)
  }
}
