package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.jsonld._

/** The processed remote-context memo behind `ContextCache.loader` must be
  * invisible in the output: every document, first or later, emits exactly
  * what a fresh context processing (an empty memo) emits for it. */
class ContextMemoSpec extends AnyFunSuite {

  private type Out = Either[QuarantineRow, Vector[Triple]]

  private def run(doc: ExtractedDoc, cache: Map[String, String], normalize: Boolean): Out =
    TripleEmit.docToTriples(doc, normalize, null, cache)

  /** Each document's output with a memo cleared before it. */
  private def fresh(docs: Seq[ExtractedDoc], cache: Map[String, String], normalize: Boolean): Seq[Out] =
    docs.map { d => ContextCache.clearMemo(); run(d, cache, normalize) }

  /** Runs `docs` twice in order on one memo and checks every output
    * against [[fresh]]; returns the fresh outputs. */
  private def checkEquivalent(docs: Seq[ExtractedDoc], cache: Map[String, String],
                              normalize: Boolean = false): Seq[Out] = {
    val expected = fresh(docs, cache, normalize)
    ContextCache.clearMemo()
    (docs ++ docs).zip(expected ++ expected).zipWithIndex.foreach { case ((d, want), i) =>
      val got = run(d, cache, normalize)
      assert(got == want, s"document $i (${d.url}): memo output differs from a fresh parse")
      assert(ContextCache.memoSize <= ContextCache.MemoBound)
    }
    expected
  }

  private def doc(url: String, payload: String, idx: Int = 0) = ExtractedDoc(url, idx, payload, "jsonld")

  private def triples(o: Out): Vector[Triple] = o match {
    case Right(ts) => ts
    case Left(q)   => fail(s"unexpected quarantine: $q")
  }

  private val S = "https://ctx.example/"

  test("a hit shares the processed terms; a plain loader function never does") {
    ContextCache.clearMemo()
    val cache = Map(S + "s.jsonld" -> """{"@context":{"name":"http://schema.org/name"}}""")
    def parsed(loader: String => JV) = {
      val o = JsonLdOptions(base = "https://a.example/p")
      o.documentLoader = loader
      new Context(o).parse(JStr(S + "s.jsonld"))
    }
    val a = parsed(ContextCache.loader(cache))
    val b = parsed(ContextCache.loader(cache))
    assert(a.termDefinitions eq b.termDefinitions)
    assert(ContextCache.memoSize == 1)
    val plain = ContextCache.loader(cache)
    val c = parsed(u => plain(u))
    assert(c.termDefinitions ne a.termDefinitions)
    assert(Json.write(c.termDefinitions) == Json.write(a.termDefinitions))
  }

  test("remote @vocab and @language, coerced and list terms, normalize on and off") {
    val cache = Map(S + "v.jsonld" ->
      """{"@context":{"@vocab":"http://v.example/","@language":"EN",
        | "name":"http://schema.org/name",
        | "knows":{"@id":"http://schema.org/knows","@type":"@id"},
        | "tags":{"@id":"http://schema.org/tags","@container":"@list"},
        | "n":{"@id":"http://schema.org/n","@type":"http://www.w3.org/2001/XMLSchema#integer"},
        | "xsd":"http://www.w3.org/2001/XMLSchema#"}}""".stripMargin)
    val docs = (0 until 4).map { i =>
      doc(s"https://h$i.example/page", s"""{"@context":"${S}v.jsonld","@id":"item$i",
        |"name":"Thing $i","plain":"p$i","n":"$i","knows":"../friend$i",
        |"tags":["a","b"],"child":{"name":"kid","knows":"sib"}}""".stripMargin, i)
    }
    Seq(false, true).foreach { norm =>
      val out = checkEquivalent(docs, cache, norm)
      val ts = triples(out.head)
      assert(ts.exists(t => t.pred == "http://v.example/plain" && t.objLang == "en"))
      assert(ts.exists(t => t.objValue == "https://h0.example/friend0"))
    }
  }

  test("a remote context's @base stays ignored") {
    val cache = Map(S + "b.jsonld" ->
      """{"@context":{"@base":"http://evil.example/","knows":{"@id":"http://schema.org/knows","@type":"@id"}}}""")
    val docs = (0 until 3).map { i =>
      doc(s"https://h$i.example/dir/page", s"""{"@context":"${S}b.jsonld","@id":"me","knows":"you"}""")
    }
    val out = checkEquivalent(docs, cache)
    out.foreach(o => assert(triples(o).forall(t => !t.subj.contains("evil") && !t.objValue.contains("evil"))))
    assert(triples(out(1)).head.objValue == "https://h1.example/dir/you")
  }

  test("a remote context that resets with null restores each document's own base") {
    val cache = Map(S + "reset.jsonld" ->
      """{"@context":[null,{"knows":{"@id":"http://schema.org/knows","@type":"@id"}}]}""")
    val docs = (0 until 3).flatMap { i =>
      Seq("\"" + S + "reset.jsonld\"", s"""[{"@base":"http://b.example/base/"},"${S}reset.jsonld"]""").map { c =>
        doc(s"https://h$i.example/dir/page", s"""{"@context":$c,"@id":"me","knows":"you"}""")
      }
    }
    val out = checkEquivalent(docs, cache)
    assert(triples(out(3)).head == triples(out(2)).head)
    assert(triples(out(3)).head.subj == "https://h1.example/dir/me")
  }

  test("[\"url\", {inline}], a nested @context and a non-initial active context match a fresh parse") {
    val url = S + "s.jsonld"
    val rel = S + "rel.jsonld"
    val cache = Map(url -> """{"@context":{"name":"http://schema.org/name","desc":"http://schema.org/description"}}""",
      rel -> """{"@context":{"title":{"@type":"@id"},"t":"ex:t"}}""")
    val docs = Seq(
      doc("https://a.example/1", s"""{"@context":"$url","name":"A"}"""),
      doc("https://a.example/2",
        s"""{"@context":["$url",{"name":"http://other.example/name","extra":"http://other.example/extra","@base":"http://b.example/"}],
           |"@id":"x","name":"B","extra":"E"}""".stripMargin),
      doc("https://a.example/3", s"""{"@context":"$url","name":"C","desc":"D"}"""),
      doc("https://a.example/4",
        s"""{"@context":"$url","name":"T","desc":{"@context":{"name":"http://nested.example/name"},"name":"N"}}"""),
      doc("https://a.example/5", s"""{"@context":"$url","name":"E","extra":"dropped"}"""),
      doc("https://a.example/6", s"""{"@context":[{"@vocab":"http://v.example/"},"$url"],"name":"V","plain":"P"}"""),
      doc("https://a.example/7", s"""{"@context":[null,"$url"],"name":"Z"}"""),
      doc("https://a.example/8", s"""{"@context":[{"@vocab":"http://v.example/","ex":"http://ex.example/"},"$rel"],"title":"x","t":"y"}"""),
      doc("https://a.example/9", s"""{"@context":"$rel","title":"x"}"""))
    val out = checkEquivalent(docs, cache)
    assert(triples(out(1)).map(_.pred).toSet == Set("http://other.example/name", "http://other.example/extra"))
    assert(triples(out(2)).map(_.pred).toSet == Set("http://schema.org/name", "http://schema.org/description"))
    assert(triples(out(3)).map(_.pred).toSet ==
      Set("http://schema.org/name", "http://schema.org/description", "http://nested.example/name"))
    assert(triples(out(4)).map(_.pred).toSet == Set("http://schema.org/name"))
    assert(triples(out(5)).map(_.pred).toSet == Set("http://schema.org/name", "http://v.example/plain"))
    assert(triples(out(7)).map(_.pred).toSet == Set("http://v.example/title", "http://ex.example/t"))
    assert(out(8).left.map(_.errorCode) == Left("invalid IRI mapping"))
  }

  test("relative context URLs and relative imports resolve against each document's base") {
    val cache = Map(
      "https://a.example/ctx.jsonld" -> """{"@context":{"name":"http://a.example/name"}}""",
      "https://b.example/ctx.jsonld" -> """{"@context":{"name":"http://b.example/name"}}""",
      S + "imp.jsonld" -> """{"@context":["sub.jsonld",{"title":"http://schema.org/title"}]}""",
      "https://a.example/sub.jsonld" -> """{"@context":{"label":"http://a.example/label"}}""",
      "https://b.example/sub.jsonld" -> """{"@context":{"label":"http://b.example/label"}}""")
    val docs = (0 until 6).flatMap { i =>
      val host = if (i % 2 == 0) "a" else "b"
      Seq(doc(s"https://$host.example/p$i", """{"@context":"ctx.jsonld","name":"N"}"""),
        doc(s"https://$host.example/q$i", s"""{"@context":"${S}imp.jsonld","label":"L","title":"T"}"""))
    }
    val out = checkEquivalent(docs, cache)
    assert(triples(out(0)).head.pred == "http://a.example/name")
    assert(triples(out(2)).head.pred == "http://b.example/name")
    assert(triples(out(1)).map(_.pred).toSet == Set("http://a.example/label", "http://schema.org/title"))
    assert(triples(out(3)).map(_.pred).toSet == Set("http://b.example/label", "http://schema.org/title"))
  }

  test("[\"A\",\"B\"] where A imports B still raises recursive context inclusion") {
    val a = S + "a.jsonld"
    val b = S + "b.jsonld"
    val cache = Map(
      a -> s"""{"@context":["$b",{"x":"http://x.example/"}]}""",
      b -> """{"@context":{"y":"http://y.example/"}}""")
    val docs = Seq(
      doc("https://h.example/1", s"""{"@context":"$a","x":"1","y":"2"}"""),
      doc("https://h.example/2", s"""{"@context":["$a","$b"],"x":"1"}"""),
      doc("https://h.example/3", s"""{"@context":"$a","x":"1","y":"2"}"""),
      doc("https://h.example/4", s"""{"@context":["$a","$b"],"x":"1"}"""))
    val out = checkEquivalent(docs, cache)
    assert(triples(out(0)).size == 2)
    Seq(out(1), out(3)).foreach {
      case Left(q) => assert(q.errorCode == "recursive context inclusion", q)
      case r       => fail(s"expected recursive context inclusion, got $r")
    }
  }

  test("invalid or missing remote contexts quarantine every time and are never cached") {
    val cache = Map(
      S + "notjson.jsonld" -> """{"@context":{"name":""",
      S + "nocontext.jsonld" -> """{"name":"http://schema.org/name"}""",
      S + "badterm.jsonld" -> """{"@context":{"name":{"@id":5}}}""",
      S + "badimport.jsonld" -> s"""{"@context":["${S}missing.jsonld",{"name":"http://schema.org/name"}]}""")
    val want = Seq(
      "missing" -> "loading remote context failed", "notjson" -> "loading remote context failed",
      "nocontext" -> "invalid remote context", "badterm" -> "invalid IRI mapping",
      "badimport" -> "loading remote context failed")
    val docs = (0 until 3).flatMap { i =>
      want.map { case (name, _) =>
        doc(s"https://h$i.example/$name", s"""{"@context":"$S$name.jsonld","name":"N"}""")
      }
    }
    ContextCache.clearMemo()
    val out = checkEquivalent(docs, cache)
    assert(ContextCache.memoSize == 0)
    out.zip(Seq.fill(3)(want).flatten).foreach {
      case (Left(q), (_, code)) => assert(q.errorCode == code, q)
      case (r, (name, _))       => fail(s"$name: expected a quarantine, got $r")
    }
  }

  test("a changed context text never hits a stale entry") {
    val url = S + "v.jsonld"
    val v1 = Map(url -> """{"@context":{"name":"http://v1.example/name"}}""")
    val v2 = Map(url -> """{"@context":{"name":"http://v2.example/name"}}""")
    val d = doc("https://h.example/p", s"""{"@context":"$url","name":"N"}""")
    ContextCache.clearMemo()
    Seq(v1 -> "http://v1.example/name", v2 -> "http://v2.example/name").flatMap(Seq.fill(2)(_))
      .foreach { case (cache, want) =>
        assert(triples(run(d, cache, normalize = false)).head.pred == want)
      }
    // equal text in a distinct String instance still hits
    val copy = Map(url -> new String(v1(url).toCharArray))
    def terms(cache: Map[String, String]) = {
      val o = JsonLdOptions(base = "https://h.example/p")
      o.documentLoader = ContextCache.loader(cache)
      new Context(o).parse(JStr(url)).termDefinitions
    }
    assert(terms(v1) eq terms(copy))
  }

  test("more distinct contexts than the memo bound stay correct and bounded") {
    val n = ContextCache.MemoBound + 5
    val cache = (0 until n).map(i => s"${S}c$i.jsonld" -> s"""{"@context":{"name":"http://c$i.example/name"}}""").toMap
    val docs = (0 until n).map(i => doc(s"https://h.example/$i", s"""{"@context":"${S}c$i.jsonld","name":"N"}"""))
    val out = checkEquivalent(docs ++ docs.reverse, cache)
    out.take(n).zipWithIndex.foreach { case (o, i) =>
      assert(triples(o).head.pred == s"http://c$i.example/name")
    }
    assert(ContextCache.memoSize == ContextCache.MemoBound)
  }

  test("each thread has its own memo") {
    val url = S + "s.jsonld"
    val cache = Map(url -> """{"@context":{"name":"http://schema.org/name"}}""")
    ContextCache.clearMemo()
    run(doc("https://h.example/p", s"""{"@context":"$url","name":"N"}"""), cache, normalize = false)
    var other = -1
    val t = new Thread(() => other = ContextCache.memoSize)
    t.start(); t.join()
    assert(ContextCache.memoSize == 1 && other == 0)
  }
}
