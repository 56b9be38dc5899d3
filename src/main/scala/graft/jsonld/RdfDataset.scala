package graft.jsonld

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** RDF term (/root/reference/src/json-ld.net/Core/RDFDataset.cs:106-399).
  * `value` is a var because normalization renames blank nodes in place
  * (Core/NormalizeUtils.cs:100-104). */
sealed abstract class RdfNode {
  var value: String
  def isIRI: Boolean = false
  def isBlankNode: Boolean = false
  def isLiteral: Boolean = false
  def datatype: String = null
  def language: String = null

  /** Node ordering: IRI > blank > literal; literals by language-presence
    * then datatype (Core/RDFDataset.cs:133-163,307-348). */
  def compareTo(o: RdfNode): Int = {
    if (o == null) return 1
    this match {
      case _: RdfIri =>
        if (!o.isIRI) return 1
      case _: RdfBlank =>
        if (o.isIRI) return -1
        if (o.isLiteral) return 1
      case _: RdfLiteral =>
        if (o.isIRI) return -1
        if (o.isBlankNode) return -1
        val ol = o.asInstanceOf[RdfLiteral]
        if (this.language == null && ol.language != null) return -1
        if (this.language != null && ol.language == null) return 1
        if (this.datatype != null) return this.datatype.compareTo(ol.datatype)
        else if (ol.datatype != null) return -1
        else return 0
    }
    compareOrdinalNullSafe(this.value, o.value)
  }

  private def compareOrdinalNullSafe(a: String, b: String): Int =
    if (a == null) { if (b == null) 0 else -1 }
    else if (b == null) 1
    else math.signum(a.compareTo(b))

  /** Node -> JSON-LD object (Core/RDFDataset.cs:172-275). */
  def toObject(useNativeTypes: Boolean): JObj = {
    if (isIRI || isBlankNode) return JObj("@id" -> JStr(value))
    val rval = new JObj
    rval.put("@value", JStr(value))
    if (language != null) rval.put("@language", JStr(language))
    else {
      val tpe = datatype
      if (useNativeTypes) {
        if (JsonLdConsts.XsdString == tpe) () // don't add xsd:string
        else if (JsonLdConsts.XsdBoolean == tpe) {
          if ("true" == value) rval.put("@value", JBool(true))
          else if ("false" == value) rval.put("@value", JBool(false))
        } else if (value.matches("^[+-]?[0-9]+((?:\\.?[0-9]+((?:E?[+-]?[0-9]+)|)|))$")) {
          val d = java.lang.Double.parseDouble(value)
          if (!d.isNaN && !d.isInfinity) {
            if (JsonLdConsts.XsdInteger == tpe) {
              val i = d.toInt
              if (i.toString == value) rval.put("@value", JLong(i))
            } else if (JsonLdConsts.XsdDouble == tpe) rval.put("@value", JDouble(d))
            else rval.put("@type", JStr(tpe))
          }
        } else rval.put("@type", JStr(tpe))
      } else if (JsonLdConsts.XsdString != tpe) rval.put("@type", JStr(tpe))
    }
    rval
  }
}

final class RdfIri(var value: String) extends RdfNode { override def isIRI = true }
final class RdfBlank(var value: String) extends RdfNode { override def isBlankNode = true }
final class RdfLiteral(var value: String, dt: String, lang: String) extends RdfNode {
  override def isLiteral = true
  override val datatype: String = if (dt != null) dt else JsonLdConsts.XsdString
  override val language: String = lang
}

object JsonLdConsts {
  val RdfSyntaxNs = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  val XsdNs = "http://www.w3.org/2001/XMLSchema#"
  val XsdBoolean = XsdNs + "boolean"
  val XsdDouble = XsdNs + "double"
  val XsdInteger = XsdNs + "integer"
  val XsdFloat = XsdNs + "float"
  val XsdDecimal = XsdNs + "decimal"
  val XsdString = XsdNs + "string"
  val RdfType = RdfSyntaxNs + "type"
  val RdfFirst = RdfSyntaxNs + "first"
  val RdfRest = RdfSyntaxNs + "rest"
  val RdfNil = RdfSyntaxNs + "nil"
  val RdfLangstring = RdfSyntaxNs + "langString"
  val RdfList = RdfSyntaxNs + "List"
}

/** Quad: graph name is None for @default (Core/RDFDataset.cs:25-103). */
final class RdfQuad(var subject: RdfNode, var predicate: RdfNode, var obj: RdfNode,
                    var name: Option[RdfNode]) {
  def compareTo(o: RdfQuad): Int = {
    if (o == null) return 1
    var rval = graphCompare(o)
    if (rval != 0) return rval
    rval = subject.compareTo(o.subject)
    if (rval != 0) return rval
    rval = predicate.compareTo(o.predicate)
    if (rval != 0) return rval
    obj.compareTo(o.obj)
  }
  private def graphCompare(o: RdfQuad): Int = (name, o.name) match {
    case (None, None)       => 0
    case (None, Some(_))    => -1 // null graph < named (ref: null.CompareTo → NRE-safe via Node.compareTo(null)=1 inverted)
    case (Some(_), None)    => 1
    case (Some(a), Some(b)) => a.compareTo(b)
  }
}

object RdfQuad {
  def apply(subject: String, predicate: String, obj: RdfNode, graph: String): RdfQuad = {
    val s: RdfNode = if (subject.startsWith("_:")) new RdfBlank(subject) else new RdfIri(subject)
    new RdfQuad(s, new RdfIri(predicate), obj, graphNode(graph))
  }

  /** A quad's graph term for a dataset graph name: None for the default
    * graph, a blank node for a `_:` name, else an IRI. */
  def graphNode(graph: String): Option[RdfNode] =
    if (graph == null || graph == "@default") None
    else Some(if (graph.startsWith("_:")) new RdfBlank(graph) else new RdfIri(graph))
}

/** Named-graph quad store (Core/RDFDataset.cs:22). Insertion-ordered with
  * a "@default" graph always present. */
final class RdfDataset {
  val graphs: mutable.LinkedHashMap[String, ArrayBuffer[RdfQuad]] =
    mutable.LinkedHashMap("@default" -> new ArrayBuffer[RdfQuad])

  /** Namespace map for Turtle in/output (Core/RDFDataset.cs:410,427-460):
    * prefix name -> IRI. */
  private val context = mutable.LinkedHashMap.empty[String, String]

  def setNamespace(ns: String, iri: String): Unit = context.put(ns, iri)
  def getNamespaces: mutable.LinkedHashMap[String, String] = context

  /** Harvest namespaces from a JSON-LD @context object
    * (Core/RDFDataset.cs:462-517). */
  def parseContext(ctx: JV): Unit = ctx match {
    case obj: JObj =>
      obj.keys.foreach { key =>
        val value = obj(key)
        if ("@vocab" == key) {
          value match {
            case JStr(s) => setNamespace("", s)
            case JNull   => setNamespace("", null)
            case _       =>
          }
        } else if ("@context" == key) {
          parseContext(value)
        } else if (!JsonLdUtils.isKeyword(key)) {
          value match {
            case JStr(s) => setNamespace(key, s)
            case o: JObj if o.containsKey("@id") =>
              o("@id") match {
                case JStr(s) => setNamespace(key, s)
                case _       =>
              }
            case _ =>
          }
        }
      }
    case _ =>
  }

  def graphNames: Vector[String] = graphs.keys.toVector
  def getQuads(graphName: String): ArrayBuffer[RdfQuad] =
    graphs.getOrElse(graphName, new ArrayBuffer[RdfQuad])

  def addQuad(s: String, p: String, o: RdfNode, graph: String): Unit = {
    val g = if (graph == null) "@default" else graph
    graphs.getOrElseUpdate(g, new ArrayBuffer[RdfQuad]) += RdfQuad(s, p, o, g)
  }

  /** Core/RDFDataset.cs:562-565 — IRI-or-bnode object triple. */
  def addTriple(s: String, p: String, o: String): Unit = {
    val node: RdfNode = if (o.startsWith("_:")) new RdfBlank(o) else new RdfIri(o)
    addQuad(s, p, node, "@default")
  }

  /** Core/RDFDataset.cs:520-524 — literal object triple (null datatype
    * defaults to xsd:string inside RdfLiteral). */
  def addTriple(s: String, p: String, value: String, datatype: String,
                language: String): Unit =
    addQuad(s, p, new RdfLiteral(value, datatype, language), "@default")

  /** Emit quads for one node-map graph (Core/RDFDataset.cs:594-711).
    * Properties iterated in sorted order — this pins bnode-list numbering. */
  def graphToRDF(graphName: String, graph: JObj, api: JsonLdApi): Unit = {
    import JsonLdUtils._
    val triples = new ArrayBuffer[RdfQuad]
    graph.keys.foreach { id =>
      if (!isRelativeIri(id)) {
        val node = graph(id).asInstanceOf[JObj]
        val properties = node.keys.sorted
        properties.foreach { property =>
          var localProperty = property
          var values: JArr = null
          if ("@type" == localProperty) {
            values = node("@type").asInstanceOf[JArr]
            localProperty = JsonLdConsts.RdfType
          } else if (isKeyword(localProperty)) values = null
          else if (localProperty.startsWith("_:") && !api.opts.produceGeneralizedRdf) values = null
          else if (isRelativeIri(localProperty)) values = null
          else values = node(localProperty).asInstanceOf[JArr]

          if (values != null) {
            val subject: RdfNode =
              if (id.startsWith("_:")) new RdfBlank(id) else new RdfIri(id)
            val predicate: RdfNode =
              if (localProperty.startsWith("_:")) new RdfBlank(localProperty) else new RdfIri(localProperty)
            values.items.foreach { item =>
              if (isList(item)) {
                val list = item.asInstanceOf[JObj]("@list").asInstanceOf[JArr]
                var last: RdfNode = null
                var firstBNode: RdfNode = new RdfIri(JsonLdConsts.RdfNil)
                if (!list.isEmpty) {
                  last = objectToRDF(list(list.size - 1))
                  firstBNode = new RdfBlank(api.generateBlankNodeIdentifier())
                }
                triples += new RdfQuad(subject, predicate, firstBNode, RdfQuad.graphNode(graphName))
                var i = 0
                var cur = firstBNode
                while (i < list.size - 1) {
                  val obj = objectToRDF(list(i))
                  triples += new RdfQuad(cur, new RdfIri(JsonLdConsts.RdfFirst), obj, RdfQuad.graphNode(graphName))
                  val restBNode = new RdfBlank(api.generateBlankNodeIdentifier())
                  triples += new RdfQuad(cur, new RdfIri(JsonLdConsts.RdfRest), restBNode, RdfQuad.graphNode(graphName))
                  cur = restBNode
                  i += 1
                }
                if (last != null) {
                  triples += new RdfQuad(cur, new RdfIri(JsonLdConsts.RdfFirst), last, RdfQuad.graphNode(graphName))
                  triples += new RdfQuad(cur, new RdfIri(JsonLdConsts.RdfRest), new RdfIri(JsonLdConsts.RdfNil), RdfQuad.graphNode(graphName))
                }
              } else {
                val obj = objectToRDF(item)
                if (obj != null)
                  triples += new RdfQuad(subject, predicate, obj, RdfQuad.graphNode(graphName))
              }
            }
          }
        }
      }
    }
    graphs(graphName) = triples
  }

  /** JSON-LD value/node object -> RDF term (Core/RDFDataset.cs:724-803). */
  def objectToRDF(item: JV): RdfNode = {
    import JsonLdUtils._
    if (isValue(item)) {
      val io = item.asInstanceOf[JObj]
      val value = io("@value")
      val datatype = io("@type")
      val dtStr = asString(datatype)
      value match {
        case JBool(b) =>
          new RdfLiteral(if (b) "true" else "false",
            if (isNull(datatype)) JsonLdConsts.XsdBoolean else dtStr, null)
        case JDouble(d) =>
          new RdfLiteral(NQuads.canonicalDouble(d),
            if (isNull(datatype)) JsonLdConsts.XsdDouble else dtStr, null)
        case JLong(l) =>
          if (safeCompare(datatype, JsonLdConsts.XsdDouble))
            new RdfLiteral(NQuads.canonicalDouble(l.toDouble), dtStr, null)
          else
            new RdfLiteral(l.toString, if (isNull(datatype)) JsonLdConsts.XsdInteger else dtStr, null)
        case _ =>
          if (io.containsKey("@language"))
            new RdfLiteral(asString(value),
              if (isNull(datatype)) JsonLdConsts.RdfLangstring else dtStr, asString(io("@language")))
          else {
            // NOTE: the reference JSON-escapes string values here
            // (JsonConvert.SerializeObject(value).Trim('"'),
            // Core/RDFDataset.cs:771-773), which double-escapes specials
            // once the N-Quads serializer escapes again; those cases fail
            // the reference's own golden compare, so we keep the raw string
            // (matches the golden .nq files).
            val raw = value match { case JStr(s) => s; case JNull | null => "null"; case v => Json.write(v) }
            new RdfLiteral(raw,
              if (isNull(datatype)) JsonLdConsts.XsdString else dtStr, null)
          }
      }
    } else {
      val id = item match {
        case o: JObj => asString(o("@id"))
        case v       => asString(v)
      }
      if (item.isInstanceOf[JObj] && isRelativeIri(id)) null
      else if (id.startsWith("_:")) new RdfBlank(id)
      else new RdfIri(id)
    }
  }
}
