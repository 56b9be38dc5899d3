package graft.jsonld

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{ExtractedDoc, TripleEmit}

/** JSON-LD documents rich in blank nodes: shared `_:b` labels (symmetric
  * shapes that reach path hashing), anonymous nested nodes, lists, named
  * graphs with blank names, and terms the N-Quads parser refuses or
  * rewrites: IRIs with a space, a `%zz`, two fragments, a surrogate or no
  * scheme, language tags outside LANGTAG, relative or blank datatypes,
  * `rdf:langString` without a language, unpaired surrogates in literals.
  * `corpus(n)` is the first `n` documents of a fixed seed sequence. */
object BlankNodeDocs {
  /** Mostly `good`, one draw in `1 + odds` from `odd`. */
  private def mostly(odds: Int, good: Seq[String], odd: Seq[String]): Gen[String] =
    Gen.frequency(odds -> Gen.oneOf(good), 1 -> Gen.oneOf(odd))

  private val iris = mostly(12, Seq("http://ex.org/a", "http://ex.org/b", "urn:x:c", "http://ex.org/ü",
    "http://ex.org/\u0001", "http://ex.org/😀", "rel/x"),
    Seq("http://ex.org/%zz", "http://ex.org/p#a#b", "http://ex.org/a b", "http://ex.org/x\uD800"))
  private val props = mostly(25, Seq("http://ex.org/p", "http://ex.org/q", "http://ex.org/r", "rel", "_:p"),
    Seq("http://ex.org/p p"))
  private val langs = mostly(4, Seq("en", "en-US", "DE", "x-private-1"), Seq("", "en_us", "1a"))
  private val datatypes = mostly(4, Seq(JsonLdConsts.XsdInteger, "http://ex.org/dt", JsonLdConsts.RdfLangstring),
    Seq("dt", "http://ex.org/%zz", "_:dt"))

  private val label: Gen[String] = Gen.choose(0, 3).map(i => s"_:b$i")
  private val text: Gen[String] = Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, Gen.frequency(
    20 -> Gen.alphaNumChar,
    1 -> Gen.oneOf(' ', '"', '\\', '\n', '\t', 'é', '\u0007', '\uD800', '\uDC00')))).map(_.mkString)

  private def value(depth: Int): Gen[JV] = {
    val leaves: Seq[(Int, Gen[JV])] = Seq(
      3 -> label.map(l => JObj("@id" -> JStr(l))),
      2 -> iris.map(i => JObj("@id" -> JStr(i))),
      2 -> text.map(JStr(_)),
      1 -> (for { t <- text; l <- langs } yield JObj("@value" -> JStr(t), "@language" -> JStr(l))),
      1 -> (for { t <- text; d <- datatypes } yield JObj("@value" -> JStr(t), "@type" -> JStr(d))),
      1 -> Gen.oneOf(JLong(7), JDouble(1.5), JBool(true)))
    val nested: Seq[(Int, Gen[JV])] =
      if (depth == 0) Nil
      else Seq(3 -> node(depth - 1),
        1 -> Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, value(depth - 1))).map(vs => JObj("@list" -> JArr(vs: _*))))
    Gen.frequency(leaves ++ nested: _*)
  }

  private def node(depth: Int): Gen[JV] = for {
    id <- Gen.frequency(3 -> Gen.const(None), 3 -> label.map(Some(_)), 1 -> iris.map(Some(_)))
    tpe <- Gen.option(iris)
    n <- Gen.choose(1, 3)
    ps <- Gen.listOfN(n, for {
      p <- props
      k <- Gen.choose(1, 2)
      vs <- Gen.listOfN(k, value(depth))
    } yield p -> JArr(vs: _*))
  } yield {
    val o = new JObj
    id.foreach(i => o.put("@id", JStr(i)))
    tpe.foreach(t => o.put("@type", JStr(t)))
    ps.foreach { case (p, vs) => o.put(p, vs) }
    o
  }

  private val graph: Gen[JV] = for {
    g <- mostly(6, Seq("_:g0", "http://ex.org/g"), Seq("http://ex.org/g g"))
    ns <- Gen.listOfN(2, node(1))
  } yield JObj("@id" -> JStr(g), "@graph" -> JArr(ns: _*))

  val doc: Gen[JV] = Gen.choose(1, 3)
    .flatMap(n => Gen.listOfN(n, Gen.frequency(3 -> node(2), 1 -> graph)))
    .map(items => JArr(items: _*))

  def corpus(n: Int): Vector[String] =
    (0 until n).map(i => Json.write(doc.pureApply(Gen.Parameters.default, Seed(i.toLong)))).toVector
}

/** `JsonLdApi.normalize` hands back the relabelled quads without writing
  * and re-reading them; the dataset it returns must be what the text round
  * trip returned: `parseNQuads` of its own N-Quads output, graph by graph
  * as a set, duplicates dropped, and the parser's error where the parser
  * refuses the text. A refused document must still quarantine with that
  * error's code on the spine. */
class NormalizeDatasetSpec extends AnyFunSuite {
  import NormalizeDatasetSpec._

  test("every W3C normalize fixture: the dataset equals the re-read N-Quads text") {
    val cases = W3CHarness.cases.filter(_.types.contains("jld:NormalizeTest"))
    assert(cases.size > 50)
    cases.foreach { c =>
      val base = "http://json-ld.org/test-suite/tests/" + c.input
      assertSameAsReparse(W3CHarness.readFile(c.input), base, c.id)
    }
  }

  test("generated blank-node documents: the dataset equals the re-read N-Quads text") {
    val docs = BlankNodeDocs.corpus(Generated)
    val refused = docs.zipWithIndex.count { case (json, i) =>
      assertSameAsReparse(json, "http://ex.org/doc/", s"doc $i: ${ascii(json)}").isLeft
    }
    // the generator reaches both sides: refused and accepted documents
    assert(refused > Generated / 20 && refused < Generated - Generated / 20, s"$refused refused")
  }

  test("a document the re-read refuses quarantines with the parser's code on the spine") {
    val docs = BlankNodeDocs.corpus(Generated)
    var refused = 0
    docs.zipWithIndex.foreach { case (json, i) =>
      reparsed(json, "http://ex.org/doc/").left.foreach { code =>
        refused += 1
        val got = TripleEmit.docToTriples(ExtractedDoc("http://ex.org/doc/", i, json, "jsonld"),
          normalizeBNodes = true, baseUri = null)
        // the spine names an error that is not a JsonLdError by its class
        val spineCode = got.left.map(q =>
          if (q.errorCode == "internal error") q.errorDetail.takeWhile(_ != ':') else q.errorCode)
        assert(spineCode == Left(code), s"doc $i: ${ascii(json)}")
      }
    }
    assert(refused > 0)
  }

  test("a language tag holding N-Quads syntax is refused, not read into the line") {
    val json = """{"@id":"http://ex.org/s","http://ex.org/p":{"@value":"v","@language":"en <http://ex.org/g>"}}"""
    // the text round trip moved the literal into graph <http://ex.org/g>
    val text = normalize(json, "http://ex.org/", "application/nquads").swap.toOption.get
    assert(NQuads.parseNQuads(text).graphNames.contains("http://ex.org/g"))
    val e = intercept[JsonLdError](normalize(json, "http://ex.org/", null))
    assert(e.errorType == JsonLdError.SyntaxError)
    val row = TripleEmit.docToTriples(ExtractedDoc("http://ex.org/", 0, json, "jsonld"),
      normalizeBNodes = true, baseUri = null)
    assert(row.left.map(_.errorCode) == Left(JsonLdError.SyntaxError.text))
  }

  test("duplicates are dropped and what the round trip rewrites is rewritten") {
    // two `"1"^^xsd:integer` values (a number and a typed string) are one
    // quad; the text keeps both lines, the dataset one quad
    val json = """{"@id":"http://ex.org/s","http://ex.org/p":[1,{"@value":"1","@type":"http://www.w3.org/2001/XMLSchema#integer"}],
                 |"http://ex.org/q":{"@value":"x","@type":"http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"}}""".stripMargin
    val text = normalize(json, "http://ex.org/", "application/nquads").swap.toOption.get
    assert(text.linesIterator.size == 3)
    val ds = normalize(json, "http://ex.org/", null).toOption.get
    assert(ds.getQuads("@default").size == 2)
    // rdf:langString without a language reads back with the tag "null"
    assert(ds.getQuads("@default").exists(_.obj.language == "null"))
    assert(canon(ds) == canon(NQuads.parseNQuads(text)))
  }
}

object NormalizeDatasetSpec {
  val Generated = 600

  def normalize(json: String, base: String, format: String): Either[String, RdfDataset] = {
    val opts = JsonLdOptions(base = base)
    opts.format = format
    JsonLdProcessor.normalize(Json.parse(json), opts)
  }

  /** Every quad's terms, kinds included, per graph. */
  def canon(ds: RdfDataset): Map[String, Set[Seq[Any]]] =
    ds.graphNames.map { g =>
      g -> ds.getQuads(g).map { q =>
        Seq(q.subject.isIRI, q.subject.value, q.predicate.isIRI, q.predicate.value,
          q.obj.isIRI, q.obj.isBlankNode, q.obj.value, q.obj.datatype, q.obj.language,
          q.name.map(n => (n.isIRI, n.value)))
      }.toSet
    }.filter(_._2.nonEmpty).toMap

  /** `s` with every non-ASCII char as `\uXXXX`: a clue with a lone
    * surrogate cannot be written to the test report. */
  def ascii(s: String): String =
    s.flatMap(c => if (c < 0x7F) c.toString else f"\\u${c.toInt}%04x")

  private def code(e: Throwable): String = e match {
    case j: JsonLdError => j.errorType.text
    case other          => other.getClass.getSimpleName
  }

  /** The text round trip: `parseNQuads` of the N-Quads output, or the code
    * of the error either step raises. */
  def reparsed(json: String, base: String): Either[String, Map[String, Set[Seq[Any]]]] =
    try Right(canon(NQuads.parseNQuads(normalize(json, base, "application/nquads").swap.toOption.get)))
    catch { case e: Exception => Left(code(e)) }

  /** Asserts the dataset path equals the round trip, with no duplicate quad
    * in any graph; returns the round trip's outcome. */
  def assertSameAsReparse(json: String, base: String, clue: String): Either[String, Map[String, Set[Seq[Any]]]] = {
    val expected = reparsed(json, base)
    val got =
      try {
        val ds = normalize(json, base, null).toOption.get
        ds.graphNames.foreach { g =>
          val qs = ds.getQuads(g)
          org.scalatest.Assertions.assert(qs.size == canon(ds).getOrElse(g, Set.empty).size, s"duplicate quad in $g: $clue")
        }
        Right(canon(ds))
      } catch { case e: Exception => Left(code(e)) }
    org.scalatest.Assertions.assert(got == expected, clue)
    expected
  }
}
