package graft.jsonld

import scala.collection.mutable.ArrayBuffer

/** Mutable, insertion-ordered JSON tree.
  *
  * Re-expresses the reference's Newtonsoft `JToken` data model
  * (see /root/reference/src/json-ld.net/Core/JsonLdApi.cs:16) as a small
  * Scala ADT. Mutability and insertion-order iteration are load-bearing:
  * the W3C algorithms mutate nodes mid-walk and blank-node numbering
  * depends on traversal order (SURVEY.md §7.4).
  *
  * `null` references are used (deliberately) to mirror the reference's
  * "absent token" semantics: `obj(key)` returns `null` when missing,
  * distinct from an explicit `JNull`. Helpers in [[JsonLdUtils]] treat
  * both as "is null" exactly like JavaCompat.IsNull
  * (/root/reference/src/json-ld.net/Util/JavaCompat.cs:58-61).
  */
sealed trait JV {
  def deepClone(): JV = this match {
    case o: JObj =>
      val c = new JObj
      val it = o.entriesIterator
      while (it.hasNext) { val (k, v) = it.next(); c.put(k, if (v == null) null else v.deepClone()) }
      c
    case a: JArr =>
      val c = new JArr
      a.items.foreach(v => c.items += (if (v == null) null else v.deepClone()))
      c
    case v => v // scalars immutable
  }
}

case object JNull extends JV
final case class JStr(s: String) extends JV
final case class JLong(v: Long) extends JV   // Newtonsoft JTokenType.Integer
final case class JDouble(v: Double) extends JV // Newtonsoft JTokenType.Float
final case class JBool(v: Boolean) extends JV

/** Insertion-ordered object; put on an existing key keeps its position
  * (same as Newtonsoft JObject / java LinkedHashMap). Non-final so
  * fromRDF's usages-carrying NodeMapNode can extend it
  * (/root/reference/src/json-ld.net/Core/JsonLdApi.cs:1901). */
class JObj extends JV {
  private val m = new java.util.LinkedHashMap[String, JV]()
  def apply(key: String): JV = if (key == null) null else m.get(key)
  /** Newtonsoft semantics: assigning a null reference stores an explicit
    * JSON null token (distinct from "absent"). */
  def put(key: String, v: JV): Unit = m.put(key, if (v == null) JNull else v)
  def containsKey(key: String): Boolean = key != null && m.containsKey(key)
  def remove(key: String): JV = m.remove(key)
  def size: Int = m.size
  def isEmpty: Boolean = m.isEmpty
  /** Snapshot of keys (safe against mutation while iterating). */
  def keys: Vector[String] = {
    val b = Vector.newBuilder[String]
    val it = m.keySet().iterator()
    while (it.hasNext) b += it.next()
    b.result()
  }
  def entriesIterator: Iterator[(String, JV)] = {
    val it = m.entrySet().iterator()
    new Iterator[(String, JV)] {
      def hasNext: Boolean = it.hasNext
      def next(): (String, JV) = { val e = it.next(); (e.getKey, e.getValue) }
    }
  }
}

object JObj {
  def apply(kvs: (String, JV)*): JObj = {
    val o = new JObj
    kvs.foreach { case (k, v) => o.put(k, v) }
    o
  }
}

final class JArr extends JV {
  val items: ArrayBuffer[JV] = new ArrayBuffer[JV]()
  def add(v: JV): Unit = items += (if (v == null) JNull else v)
  def apply(i: Int): JV = items(i)
  def update(i: Int, v: JV): Unit = items(i) = v
  def size: Int = items.size
  def isEmpty: Boolean = items.isEmpty
  def removeAt(i: Int): JV = items.remove(i)
}

object JArr {
  def apply(vs: JV*): JArr = {
    val a = new JArr
    vs.foreach(a.add)
    a
  }
}

object Json {

  /** Parse JSON text preserving object key order. Numbers follow the
    * reference's Newtonsoft behavior: a token containing '.', 'e' or 'E'
    * is a double (JTokenType.Float), otherwise a long (JTokenType.Integer). */
  /** Strip a single leading U+FEFF (UTF-8 BOM): the reference reads files
    * through .NET text readers, which consume the BOM implicitly, so
    * BOM-prefixed fixtures (e.g. ExtendedFunctionality/Sorting/fromRdf-in
    * .json) parse fine there. */
  def parse(text: String): JV = {
    val t = if (text.nonEmpty && text.charAt(0) == '﻿') text.substring(1) else text
    new Parser(t).parseDocument()
  }

  private final class Parser(s: String) {
    private var i = 0
    private val n = s.length

    def parseDocument(): JV = {
      skipWs()
      val v = parseValue()
      skipWs()
      if (i < n) fail(s"trailing content at $i")
      v
    }

    private def fail(msg: String): Nothing =
      throw new JsonLdError(JsonLdError.ParseError, msg)

    private def skipWs(): Unit = {
      while (i < n) {
        val c = s.charAt(i)
        if (c == ' ' || c == '\t' || c == '\n' || c == '\r') i += 1
        else if (c == '/' && i + 1 < n && (s.charAt(i + 1) == '/' || s.charAt(i + 1) == '*')) {
          // Newtonsoft tolerates comments
          if (s.charAt(i + 1) == '/') { while (i < n && s.charAt(i) != '\n') i += 1 }
          else { i += 2; while (i + 1 < n && !(s.charAt(i) == '*' && s.charAt(i + 1) == '/')) i += 1; i += 2 }
        } else return
      }
    }

    private def parseValue(): JV = {
      if (i >= n) fail("unexpected end")
      s.charAt(i) match {
        case '{' => parseObject()
        case '[' => parseArray()
        case '"' | '\'' => JStr(parseString(s.charAt(i)))
        case 't' => expect("true"); JBool(true)
        case 'f' => expect("false"); JBool(false)
        case 'n' => expect("null"); JNull
        case c if c == '-' || (c >= '0' && c <= '9') => parseNumber()
        case c => fail(s"unexpected char '$c' at $i")
      }
    }

    private def expect(word: String): Unit = {
      if (i + word.length > n || s.substring(i, i + word.length) != word) fail(s"expected $word at $i")
      i += word.length
    }

    private def parseObject(): JObj = {
      val o = new JObj
      i += 1; skipWs()
      if (i < n && s.charAt(i) == '}') { i += 1; return o }
      while (true) {
        skipWs()
        if (i >= n) fail("unterminated object")
        val q = s.charAt(i)
        if (q != '"' && q != '\'') fail(s"expected string key at $i")
        val k = parseString(q)
        skipWs()
        if (i >= n || s.charAt(i) != ':') fail(s"expected ':' at $i")
        i += 1; skipWs()
        o.put(k, parseValue())
        skipWs()
        if (i >= n) fail("unterminated object")
        s.charAt(i) match {
          case ',' => i += 1
          case '}' => i += 1; return o
          case c => fail(s"unexpected '$c' in object at $i")
        }
      }
      o
    }

    private def parseArray(): JArr = {
      val a = new JArr
      i += 1; skipWs()
      if (i < n && s.charAt(i) == ']') { i += 1; return a }
      while (true) {
        skipWs()
        a.add(parseValue())
        skipWs()
        if (i >= n) fail("unterminated array")
        s.charAt(i) match {
          case ',' => i += 1
          case ']' => i += 1; return a
          case c => fail(s"unexpected '$c' in array at $i")
        }
      }
      a
    }

    private def parseString(quote: Char): String = {
      i += 1
      val sb = new java.lang.StringBuilder
      while (i < n) {
        val c = s.charAt(i)
        if (c == quote) { i += 1; return sb.toString }
        else if (c == '\\') {
          i += 1
          if (i >= n) fail("bad escape")
          s.charAt(i) match {
            case '"'  => sb.append('"')
            case '\'' => sb.append('\'')
            case '\\' => sb.append('\\')
            case '/'  => sb.append('/')
            case 'b'  => sb.append('\b')
            case 'f'  => sb.append('\f')
            case 'n'  => sb.append('\n')
            case 'r'  => sb.append('\r')
            case 't'  => sb.append('\t')
            case 'u'  =>
              if (i + 4 >= n) fail("bad \\u escape")
              val code =
                try Integer.parseInt(s.substring(i + 1, i + 5), 16)
                catch { case _: NumberFormatException => fail(s"bad \\u escape at $i") }
              sb.append(code.toChar)
              i += 4
            case c2 => fail(s"bad escape \\$c2")
          }
          i += 1
        } else { sb.append(c); i += 1 }
      }
      fail("unterminated string")
    }

    private def parseNumber(): JV = {
      val start = i
      if (s.charAt(i) == '-') i += 1
      var isFloat = false
      while (i < n) {
        val c = s.charAt(i)
        if (c >= '0' && c <= '9') i += 1
        else if (c == '.' || c == 'e' || c == 'E') { isFloat = true; i += 1 }
        else if (c == '+' || c == '-') i += 1 // exponent sign
        else {
          val tok = s.substring(start, i)
          return mkNum(tok, isFloat)
        }
      }
      mkNum(s.substring(start, i), isFloat)
    }

    private def mkNum(tok: String, isFloat: Boolean): JV =
      try {
        if (isFloat) JDouble(java.lang.Double.parseDouble(tok))
        else try JLong(java.lang.Long.parseLong(tok))
        catch { case _: NumberFormatException => JDouble(java.lang.Double.parseDouble(tok)) }
      } catch { case _: NumberFormatException => fail(s"bad number '$tok' at $i") }
  }

  /** Compact serialization (debugging / fingerprints). Key order preserved. */
  def write(v: JV): String = {
    val sb = new java.lang.StringBuilder
    writeTo(v, sb)
    sb.toString
  }

  private def writeTo(v: JV, sb: java.lang.StringBuilder): Unit = v match {
    case null | JNull => sb.append("null")
    case JStr(s)      => writeString(s, sb)
    case JLong(l)     => sb.append(l)
    case JDouble(d)   => sb.append(doubleToStringDotNet(d))
    case JBool(b)     => sb.append(if (b) "true" else "false")
    case a: JArr =>
      sb.append('[')
      var first = true
      a.items.foreach { x => if (!first) sb.append(','); first = false; writeTo(x, sb) }
      sb.append(']')
    case o: JObj =>
      sb.append('{')
      var first = true
      val it = o.entriesIterator
      while (it.hasNext) {
        val (k, x) = it.next()
        if (!first) sb.append(','); first = false
        writeString(k, sb); sb.append(':'); writeTo(x, sb)
      }
      sb.append('}')
  }

  def writeString(s: String, sb: java.lang.StringBuilder): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c2 if c2 < ' ' => sb.append(f"\\u${c2.toInt}%04x")
        case c2 => sb.append(c2)
      }
      i += 1
    }
    sb.append('"')
  }

  /** .NET `double.ToString()` approximation: whole values print without
    * a decimal point, otherwise shortest round-trip form. Used only by
    * the DeepCompare scalar fallback in tests. */
  def doubleToStringDotNet(d: Double): String = {
    if (d.isNaN) "NaN"
    else if (d.isInfinity) { if (d > 0) "Infinity" else "-Infinity" }
    else if (d == math.rint(d) && math.abs(d) < 1e15) {
      java.math.BigDecimal.valueOf(d).toBigInteger.toString
    } else {
      val s = java.lang.Double.toString(d)
      // Java prints 1.0E10; .NET prints 1E+10 — exponent forms are rare in
      // the fixtures; normalize the common non-exponent case only.
      s
    }
  }
}
