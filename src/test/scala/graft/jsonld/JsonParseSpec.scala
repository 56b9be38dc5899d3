package graft.jsonld

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{ExtractedDoc, TripleEmit}

/** Malformed JSON — truncated blocks above all — must fail as a coded
  * `parse error`, never as some other exception, so a bad block
  * quarantines under its real cause. */
class JsonParseSpec extends AnyFunSuite {

  private val valid = Seq(
    """{"@context":{"name":"http://schema.org/name","n":{"@id":"http://x/n","@type":"@id"}},"@id":"http://a/x","name":"Thing","n":[1,-2.5e3,true,false,null]}""",
    """[ {"a" : "esc\"aped \\ é\n", "b": [ [], {} ]}, -0.5, 12e-2, 'single' ]""",
    """ // comment
      |{"k": /* block */ -17, "l": [1, 2, 3], "m": {"n": {"o": "p"}}}""".stripMargin,
    "-42")

  private def parseOrParseError(text: String): Unit =
    try Json.parse(text)
    catch {
      case e: JsonLdError =>
        assert(e.errorType == JsonLdError.ParseError, s"'$text': ${e.getMessage}")
      case e: Throwable => fail(s"'$text' threw ${e.getClass.getName}: ${e.getMessage}")
    }

  test("every prefix of a valid document parses or raises parse error") {
    valid.foreach { doc =>
      Json.parse(doc)
      (0 until doc.length).foreach(k => parseOrParseError(doc.substring(0, k)))
    }
  }

  test("truncated objects, lone signs, bad numbers and bad escapes raise parse error") {
    Seq("""{"a":1,""", "{", """{"a":1, """, "-", "[-", "1e", "1.5e+", """{"a":-}""",
      "\"\\u00zz\"", "/* open", """{"a":1 /* open""").foreach { t =>
      val e = intercept[JsonLdError](Json.parse(t))
      assert(e.errorType == JsonLdError.ParseError, t)
    }
  }

  test("a truncated block quarantines as parse error") {
    val d = ExtractedDoc("https://a.example/p", 0, """{"@id":"http://a/x","http://p/q":1,""", "jsonld")
    TripleEmit.docToTriples(d, normalizeBNodes = false, null) match {
      case Left(q) => assert(q.errorCode == "parse error", q)
      case r       => fail(s"expected a quarantine, got $r")
    }
  }
}
