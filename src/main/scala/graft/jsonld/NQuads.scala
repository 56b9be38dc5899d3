package graft.jsonld

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** N-Quads (de)serialization
  * (/root/reference/src/json-ld.net/Core/RDFDatasetUtils.cs:217-703). */
object NQuads {

  private val doubleFmt = ThreadLocal.withInitial[java.text.DecimalFormat](() =>
    new java.text.DecimalFormat("0.0###############E0",
      java.text.DecimalFormatSymbols.getInstance(java.util.Locale.ROOT)))

  /** Canonical xsd:double lexical form, replicating the reference's
    * `{0:0.0###############E0}` invariant format
    * (Core/RDFDataset.cs:752). */
  def canonicalDouble(d: Double): String = doubleFmt.get.format(d)

  /** Escape kernel (Core/RDFDatasetUtils.cs:451-543). The reference's
    * non-ASCII branch is broken (String.Format with printf-style "%04x"
    * emits the format string literally); we emit proper \\uXXXX/\\UXXXXXXXX
    * sequences, which is what the golden .nq files contain. The escape
    * RANGES (wide: 0x7F-0xA0 and >=0x24F) are replicated as-is. */
  def escape(str: String): String = {
    val rval = new java.lang.StringBuilder(str.length + 8)
    var i = 0
    while (i < str.length) {
      val hi = str.charAt(i)
      if (hi <= 0x8 || hi == 0xB || hi == 0xC || (hi >= 0xE && hi <= 0x1F) ||
          (hi >= 0x7F && hi <= 0xA0) || (hi >= 0x24F && !Character.isHighSurrogate(hi))) {
        rval.append(f"\\u${hi.toInt}%04x")
      } else if (Character.isHighSurrogate(hi)) {
        i += 1
        val lo = str.charAt(i)
        val c = (hi << 10) + lo + (0x10000 - (0xD800 << 10) - 0xDC00)
        rval.append(f"\\U$c%08x")
      } else {
        hi match {
          case '\b' => rval.append("\\b")
          case '\n' => rval.append("\\n")
          case '\t' => rval.append("\\t")
          case '\f' => rval.append("\\f")
          case '\r' => rval.append("\\r")
          case '"'  => rval.append("\\\"")
          case '\\' => rval.append("\\\\")
          case c    => rval.append(c)
        }
      }
      i += 1
    }
    rval.toString
  }

  /** Unescape (Core/RDFDatasetUtils.cs:344-449). The reference's version
    * is a no-op due to a quoted-pattern String.Replace; we implement the
    * intended semantics (ECHAR + \\uXXXX + \\UXXXXXXXX incl. surrogates). */
  def unescape(str: String): String = {
    if (str == null || str.indexOf('\\') < 0) return str
    val sb = new java.lang.StringBuilder(str.length)
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      if (c == '\\' && i + 1 < str.length) {
        str.charAt(i + 1) match {
          case 't'  => sb.append('\t'); i += 2
          case 'b'  => sb.append('\b'); i += 2
          case 'n'  => sb.append('\n'); i += 2
          case 'r'  => sb.append('\r'); i += 2
          case 'f'  => sb.append('\f'); i += 2
          case '"'  => sb.append('"'); i += 2
          case '\'' => sb.append('\''); i += 2
          case '\\' => sb.append('\\'); i += 2
          case 'u' if i + 5 < str.length + 1 && i + 6 <= str.length =>
            val hex = str.substring(i + 2, i + 6)
            sb.append(Integer.parseInt(hex, 16).toChar)
            i += 6
          case 'U' if i + 10 <= str.length =>
            val v = java.lang.Long.parseLong(str.substring(i + 2, i + 10), 16).toInt
            if (v > 0xFFFF) {
              val vt = v - 0x10000
              sb.append((0xD800 + (vt >> 10)).toChar)
              sb.append((0xDC00 + (vt & 0x3FF)).toChar)
            } else sb.append(v.toChar)
            i += 10
          case other => sb.append(c); sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** One quad -> one canonical line (Core/RDFDatasetUtils.cs:244-337).
    * `bnode` non-null switches to normalization-hash mode with _:a/_:z/_:g
    * placeholders. */
  def toNQuad(triple: RdfQuad, graphName: String, bnode: String): String = {
    val s = triple.subject
    val p = triple.predicate
    val o = triple.obj
    val quad = new java.lang.StringBuilder
    if (s.isIRI) quad.append("<").append(escape(s.value)).append(">")
    else if (bnode != null) quad.append(if (bnode == s.value) "_:a" else "_:z")
    else quad.append(s.value)
    if (p.isIRI) quad.append(" <").append(escape(p.value)).append("> ")
    else quad.append(" ").append(escape(p.value)).append(" ")
    if (o.isIRI) quad.append("<").append(escape(o.value)).append(">")
    else if (o.isBlankNode) {
      if (bnode != null) quad.append(if (bnode == o.value) "_:a" else "_:z")
      else quad.append(o.value)
    } else {
      quad.append("\"").append(escape(o.value)).append("\"")
      if (JsonLdConsts.RdfLangstring == o.datatype) quad.append("@").append(o.language)
      else if (JsonLdConsts.XsdString != o.datatype)
        quad.append("^^<").append(escape(o.datatype)).append(">")
    }
    if (graphName != null) {
      if (!graphName.startsWith("_:")) quad.append(" <").append(escape(graphName)).append(">")
      else if (bnode != null) quad.append(" _:g")
      else quad.append(" ").append(graphName)
    }
    quad.append(" .\n")
    quad.toString
  }

  def toNQuad(triple: RdfQuad, graphName: String): String = toNQuad(triple, graphName, null)

  /** Whole-dataset serialization, lines sorted ordinal
    * (Core/RDFDatasetUtils.cs:217-242). */
  def toNQuads(dataset: RdfDataset): String = {
    val quads = new ArrayBuffer[String]
    dataset.graphNames.foreach { graphName =>
      val gn = if ("@default" == graphName) null else graphName
      dataset.getQuads(graphName).foreach(t => quads += toNQuad(t, gn))
    }
    val sorted = quads.sorted // Java natural String order == ordinal
    val sb = new java.lang.StringBuilder
    sorted.foreach(sb.append)
    sb.toString
  }

  // ---- parser (Core/RDFDatasetUtils.cs:545-695) ----

  private val Hex = "[0-9A-Fa-f]"
  private val Uchar = s"\\\\u$Hex{4}|\\\\U$Hex{8}"
  // IRI and literal bodies: runs of plain characters between escapes. An
  // escape always starts with a backslash, which no plain character
  // matches, so the possessive loops accept exactly what
  // `(?:plain|escape)*` accepts, without a recursive regex step per
  // character.
  private val IriChar = "[^\\x00-\\x20<>\"{}|^`\\\\]"
  private val IriBody = s"$IriChar*+(?:(?:$Uchar)$IriChar*+)*+"
  private val Iri = s"(?:<($IriBody)>)"
  private val Bnode = "(_:(?:[A-Za-z0-9](?:[A-Za-z0-9\\-\\.]*[A-Za-z0-9])?))"
  private val Echar = "\\\\[tbnrf\"'\\\\]"
  private val PlainChar = "[^\\x22\\x5C\\x0A\\x0D]"
  private val Plain = s""""($PlainChar*+(?:(?:$Echar|$Uchar)$PlainChar*+)*+)""""
  private val Datatype = s"(?:\\^\\^$Iri)"
  private val LangTag = "[a-z]+(?:-[a-zA-Z0-9]+)*"
  private val Language = s"(?:@($LangTag))"
  private val Literal = s"(?:$Plain(?:$Datatype|$Language)?)"
  private val Wso = "[ \\t]*"
  private val EmptyOrComment = java.util.regex.Pattern.compile(s"^$Wso(#.*)?$$")
  private val Subject = s"(?:$Iri|$Bnode)$Wso"
  private val Property = s"$Iri$Wso"
  private val ObjectP = s"(?:$Iri|$Bnode|$Literal)$Wso"
  private val Graph = s"(?:\\.|(?:(?:$Iri|$Bnode)$Wso\\.))"
  private val QuadP = java.util.regex.Pattern.compile(s"^$Wso$Subject$Property$ObjectP$Graph$Wso(#.*)?$$")
  private val IriBodyP = java.util.regex.Pattern.compile(IriBody)
  private val BnodeP = java.util.regex.Pattern.compile(Bnode)
  private val LangTagP = java.util.regex.Pattern.compile(LangTag)

  /** `s` split at each "\r\n", "\n" or "\r", empty lines (trailing ones
    * too) kept: `String.split` with that alternation and limit -1, without
    * a regex scan of the whole input. */
  private def splitLines(s: String): ArrayBuffer[String] = {
    val out = new ArrayBuffer[String]
    var start = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\n' || c == '\r') {
        out += s.substring(start, i)
        if (c == '\r' && i + 1 < s.length && s.charAt(i + 1) == '\n') i += 1
        start = i + 1
      }
      i += 1
    }
    out += s.substring(start)
    out
  }

  def parseNQuads(input: String): RdfDataset = {
    val dataset = new RdfDataset
    // Strip a single leading U+FEFF: .NET stream readers (which the
    // reference uses to load .nq fixtures like NQuads/rdf11blanknodes.nq)
    // consume a UTF-8 BOM implicitly.
    val src = if (input.nonEmpty && input.charAt(0) == '﻿') input.substring(1) else input
    // the check is a pure function of the IRI, and predicates and
    // datatypes repeat on most lines
    val absolute = mutable.HashSet.empty[String]
    def requireAbsolute(iri: String): Unit =
      if (!absolute.contains(iri)) { assertAbsoluteIri(iri); absolute += iri }
    val seen = mutable.HashSet.empty[(String, Product)]
    var lineNumber = 0
    splitLines(src).foreach { line =>
      lineNumber += 1
      if (!EmptyOrComment.matcher(line).matches()) {
        val m = QuadP.matcher(line)
        if (!m.matches())
          throw new JsonLdError(JsonLdError.SyntaxError,
            "Error while parsing N-Quads; invalid quad. line:" + lineNumber)
        def g(i: Int): String = m.group(i)
        val subject: RdfNode =
          if (g(1) != null) { val s = unescape(g(1)); requireAbsolute(s); new RdfIri(s) }
          else new RdfBlank(unescape(g(2)))
        val predIri = unescape(g(3)); requireAbsolute(predIri)
        val predicate: RdfNode = new RdfIri(predIri)
        val obj: RdfNode =
          if (g(4) != null) { val s = unescape(g(4)); requireAbsolute(s); new RdfIri(s) }
          else if (g(5) != null) new RdfBlank(unescape(g(5)))
          else {
            val language = unescape(g(8))
            val datatype =
              if (g(7) != null) unescape(g(7))
              else if (g(8) != null) JsonLdConsts.RdfLangstring
              else JsonLdConsts.XsdString
            requireAbsolute(datatype)
            new RdfLiteral(unescape(g(6)), datatype, language)
          }
        var name = "@default"
        if (g(9) != null) { name = unescape(g(9)); requireAbsolute(name) }
        else if (g(10) != null) name = unescape(g(10))
        // unique-per-graph dedup (Core/RDFDatasetUtils.cs:686-692); the
        // reference's List.Contains is reference-equality (broken) but
        // duplicates get suppressed downstream by MergeValue anyway —
        // structural dedup here matches the golden outputs.
        addNew(dataset, seen, name, new RdfQuad(subject, predicate, obj, RdfQuad.graphNode(name)))
      }
    }
    dataset
  }

  /** `parseNQuads(toNQuads(dataset))` up to the order of graphs and
    * quads, without the text: each term gets what the round trip does to
    * it. A duplicate quad in a graph is dropped, the first kept. A term the
    * parser refuses raises its `SyntaxError`: an IRI whose escaped form its
    * IRI production refuses or that is not absolute, a blank node label or
    * language tag outside its production, a literal subject, a predicate
    * that is no IRI. A string holding a surrogate goes through `escape` and
    * `unescape`, `rdf:langString` without a language reads back with tag
    * "null", and a language on another datatype is dropped. One change is
    * intended: a label or tag holding N-Quads syntax is refused, where the
    * text was read as part of its line and could add or move a quad. */
  def asParsed(dataset: RdfDataset): RdfDataset = {
    val out = new RdfDataset
    val seen = mutable.HashSet.empty[(String, Product)]
    val iris = mutable.HashMap.empty[String, String]
    def refuse(term: String): Nothing =
      throw new JsonLdError(JsonLdError.SyntaxError, "Error while parsing N-Quads; invalid quad. term:" + term)
    def matching(p: java.util.regex.Pattern, v: String): String = if (p.matcher(v).matches()) v else refuse(v)
    def iri(v: String): String = iris.getOrElseUpdate(v, {
      val read = unescape(matching(IriBodyP, escape(v)))
      assertAbsoluteIri(read)
      read
    })
    def term(n: RdfNode): RdfNode = n match {
      case i: RdfIri   => new RdfIri(iri(i.value))
      case b: RdfBlank => new RdfBlank(matching(BnodeP, b.value))
      case l: RdfLiteral if JsonLdConsts.RdfLangstring == l.datatype =>
        new RdfLiteral(roundTrip(l.value), l.datatype, matching(LangTagP, String.valueOf(l.language)))
      case l: RdfLiteral => new RdfLiteral(roundTrip(l.value),
        if (JsonLdConsts.XsdString == l.datatype) l.datatype else iri(l.datatype), null)
    }
    try dataset.graphNames.foreach { g =>
      val name = if (g == "@default") g else if (g.startsWith("_:")) matching(BnodeP, g) else iri(g)
      dataset.getQuads(g).foreach { q =>
        if (q.subject.isLiteral || !q.predicate.isIRI) refuse(q.subject.value + " " + q.predicate.value)
        addNew(out, seen, name, new RdfQuad(term(q.subject), term(q.predicate), term(q.obj), RdfQuad.graphNode(name)))
      }
    } catch {
      // the text round trip wrote every line before it read one, so a
      // string `escape` fails on is the error, whatever was refused first
      case e: Exception => toNQuads(dataset); throw e
    }
    out
  }

  /** A string as `unescape(escape(_))` returns it: itself unless it holds
    * a surrogate, which `escape` writes as a code point. */
  private def roundTrip(s: String): String =
    if (s.exists(Character.isSurrogate)) unescape(escape(s)) else s

  /** Adds `quad` to graph `name` unless `seen` holds an equal quad there:
    * equal kind, value, datatype and language of each term. */
  private def addNew(dataset: RdfDataset, seen: mutable.HashSet[(String, Product)],
                     name: String, quad: RdfQuad): Unit = {
    val (s, o) = (quad.subject, quad.obj)
    if (seen.add((name, (s.isIRI, s.value, quad.predicate.value, o.isIRI, o.isBlankNode, o.value, o.datatype, o.language))))
      dataset.graphs.getOrElseUpdate(name, new ArrayBuffer[RdfQuad]) += quad
  }

  /** Core/RDFDatasetUtils.cs:697-703 (Uri.IsWellFormedUriString check). */
  private def assertAbsoluteIri(iri: String): Unit = {
    val ok =
      try {
        val u = new java.net.URI(escapeForUriCheck(iri))
        u.isAbsolute
      } catch { case _: Exception => false }
    if (!ok)
      throw new JsonLdError(JsonLdError.SyntaxError, "Invalid absolute URI <" + iri + ">")
  }

  /** Rough analogue of .NET Uri.EscapeUriString: percent-encode characters
    * that java.net.URI would reject outright (spaces, non-ASCII, quotes). */
  private def escapeForUriCheck(iri: String): String = {
    val sb = new java.lang.StringBuilder(iri.length)
    iri.foreach { c =>
      if (c <= ' ' || c >= 0x7F || "\"<>\\^`{|}".indexOf(c.toInt) >= 0)
        f"%%${c.toInt}%02X".foreach(sb.append)
      else sb.append(c)
    }
    sb.toString
  }
}
