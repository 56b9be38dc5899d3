package graft.jsonld

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** N-Quads (de)serialization
  * (/root/reference/src/json-ld.net/Core/RDFDatasetUtils.cs:217-703). */
object NQuads {

  private val doubleFmt = new ThreadLocal[java.text.DecimalFormat] {
    override def initialValue(): java.text.DecimalFormat = {
      val df = new java.text.DecimalFormat("0.0###############E0",
        java.text.DecimalFormatSymbols.getInstance(java.util.Locale.ROOT))
      df
    }
  }

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
  private val Iri = s"(?:<($IriChar*+(?:(?:$Uchar)$IriChar*+)*+)>)"
  private val Bnode = "(_:(?:[A-Za-z0-9](?:[A-Za-z0-9\\-\\.]*[A-Za-z0-9])?))"
  private val Echar = "\\\\[tbnrf\"'\\\\]"
  private val PlainChar = "[^\\x22\\x5C\\x0A\\x0D]"
  private val Plain = s""""($PlainChar*+(?:(?:$Echar|$Uchar)$PlainChar*+)*+)""""
  private val Datatype = s"(?:\\^\\^$Iri)"
  private val Language = "(?:@([a-z]+(?:-[a-zA-Z0-9]+)*))"
  private val Literal = s"(?:$Plain(?:$Datatype|$Language)?)"
  private val Wso = "[ \\t]*"
  private val EmptyOrComment = java.util.regex.Pattern.compile(s"^$Wso(#.*)?$$")
  private val Subject = s"(?:$Iri|$Bnode)$Wso"
  private val Property = s"$Iri$Wso"
  private val ObjectP = s"(?:$Iri|$Bnode|$Literal)$Wso"
  private val Graph = s"(?:\\.|(?:(?:$Iri|$Bnode)$Wso\\.))"
  private val QuadP = java.util.regex.Pattern.compile(s"^$Wso$Subject$Property$ObjectP$Graph$Wso(#.*)?$$")

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
        val gOpt =
          if (name != "@default")
            Some(if (name.startsWith("_:")) new RdfBlank(name): RdfNode else new RdfIri(name): RdfNode)
          else None
        val triple = new RdfQuad(subject, predicate, obj, gOpt)
        val triples = dataset.graphs.getOrElseUpdate(name, new ArrayBuffer[RdfQuad])
        // unique-per-graph dedup (Core/RDFDatasetUtils.cs:686-692); the
        // reference's List.Contains is reference-equality (broken) but
        // duplicates get suppressed downstream by MergeValue anyway —
        // structural dedup here matches the golden outputs.
        if (!triples.exists(t => quadEquals(t, triple))) triples += triple
      }
    }
    dataset
  }

  private def nodeEquals(a: RdfNode, b: RdfNode): Boolean = (a, b) match {
    case (x: RdfIri, y: RdfIri)     => x.value == y.value
    case (x: RdfBlank, y: RdfBlank) => x.value == y.value
    case (x: RdfLiteral, y: RdfLiteral) =>
      x.value == y.value && x.datatype == y.datatype && x.language == y.language
    case _ => false
  }

  private def quadEquals(a: RdfQuad, b: RdfQuad): Boolean =
    nodeEquals(a.subject, b.subject) && nodeEquals(a.predicate, b.predicate) &&
      nodeEquals(a.obj, b.obj) && ((a.name, b.name) match {
        case (None, None)       => true
        case (Some(x), Some(y)) => nodeEquals(x, y)
        case _                  => false
      })

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
