package graft.jsonld

import scala.collection.mutable
import JsonLdUtils._

/** Active context (/root/reference/src/json-ld.net/Core/Context.cs).
  *
  * `self` holds the @base/@vocab/@language slots (the reference subclasses
  * JObject for this); `termDefinitions` maps term -> definition object
  * (or JNull for explicitly-nulled terms).
  */
final class Context private (val options: JsonLdOptions,
                             val self: JObj,
                             var termDefinitions: JObj) {

  def this(options: JsonLdOptions) = {
    this(options, new JObj, new JObj)
    if (options.base != null) self.put("@base", JStr(options.base))
  }

  /** Lazily-built inverse context (Core/Context.cs:952-1073). */
  private var inverse: JObj = null

  def copy(): Context = {
    val c = new Context(options, self.deepClone().asInstanceOf[JObj],
      termDefinitions.deepClone().asInstanceOf[JObj])
    c
  }

  /** C#-style cast-to-string of a scalar token. */
  private def castString(v: JV): String = v match {
    case null | JNull => null
    case JStr(s)      => s
    case JLong(l)     => l.toString
    case JDouble(d)   => Json.doubleToStringDotNet(d)
    case JBool(b)     => if (b) "True" else "False"
    case _            => null
  }

  def baseStr: String = castString(self("@base"))

  /** Context Processing Algorithm (Core/Context.cs:137-315). */
  def parse(localContext: JV, remoteContexts: mutable.ArrayBuffer[String]): Context =
    parse(localContext, remoteContexts, null)

  /** `trail`, when non-null, records what processing a memoised remote
    * context depends on beyond its own text (see [[ContextCache]]). */
  private def parse(localContext: JV, remoteContexts: mutable.ArrayBuffer[String],
                    trail: Context.Trail): Context = {
    var result = this.copy()
    // true while `result` holds a memoised term-definition object: copy before writing
    var shared = false
    val contexts: Vector[JV] = localContext match {
      case a: JArr => a.items.toVector
      case other   => Vector(other)
    }
    contexts.foreach { eachContext =>
      if (isNull(eachContext)) {
        if (trail != null) trail.reset = true
        result = new Context(options)
        shared = false
      } else eachContext match {
        case JStr(ctxStr) =>
          val uri = UrlUtil.resolve(result.baseStr, ctxStr)
          if (remoteContexts.contains(uri))
            throw new JsonLdError(JsonLdError.RecursiveContextInclusion, uri)
          if (trail != null) trail.imports += ContextCache.Import(ctxStr, uri)
          options.documentLoader match {
            case loader: ContextCache.Loader if remoteContexts.isEmpty && result.isInitial =>
              val hit = ContextCache.lookup(loader, uri, result.baseStr)
              if (hit != null) {
                remoteContexts += uri
                hit.imports.foreach { case (i, _) => remoteContexts += i.url }
                result = result.withRemote(hit)
                shared = true
              } else {
                val t = new Context.Trail
                result = result.parseRemote(eachContext, uri, remoteContexts, t)
                shared = !t.reset
                if (shared) ContextCache.publish(loader, uri, t.imports.toVector, result)
              }
            case _ =>
              result = result.parseRemote(eachContext, uri, remoteContexts, trail)
              shared = false
          }
        case ctxObj: JObj =>
          if (shared) { result = result.copy(); shared = false }
          // 3.4
          if (remoteContexts.isEmpty && ctxObj.containsKey("@base")) {
            val value = ctxObj("@base")
            if (isNull(value)) result.self.remove("@base")
            else value match {
              case JStr(s) =>
                if (isAbsoluteIri(s)) result.self.put("@base", JStr(s))
                else {
                  val baseUri = result.baseStr
                  if (!isAbsoluteIri(baseUri))
                    throw new JsonLdError(JsonLdError.InvalidBaseIri, baseUri)
                  result.self.put("@base", JStr(UrlUtil.resolve(baseUri, s)))
                }
              case _ => throw new JsonLdError(JsonLdError.InvalidBaseIri, "@base must be a string")
            }
          }
          // 3.5
          if (ctxObj.containsKey("@vocab")) {
            val value = ctxObj("@vocab")
            if (isNull(value)) result.self.remove("@vocab")
            else value match {
              case JStr(s) =>
                if (isAbsoluteIri(s)) result.self.put("@vocab", JStr(s))
                else throw new JsonLdError(JsonLdError.InvalidVocabMapping, "@value must be an absolute IRI")
              case _ => throw new JsonLdError(JsonLdError.InvalidVocabMapping, "@vocab must be a string or null")
            }
          }
          // 3.6
          if (ctxObj.containsKey("@language")) {
            val value = ctxObj("@language")
            if (isNull(value)) result.self.remove("@language")
            else value match {
              case JStr(s) => result.self.put("@language", JStr(s.toLowerCase))
              case _       => throw new JsonLdError(JsonLdError.InvalidDefaultLanguage, Json.write(value))
            }
          }
          // 3.7
          val defined = mutable.HashMap.empty[String, Boolean]
          ctxObj.keys.foreach { key =>
            if (key != "@base" && key != "@vocab" && key != "@language")
              result.createTermDefinition(ctxObj, key, defined)
          }
        case _ =>
          throw new JsonLdError(JsonLdError.InvalidLocalContext, Json.write(eachContext))
      }
    }
    result
  }

  def parse(localContext: JV): Context = parse(localContext, mutable.ArrayBuffer.empty[String])

  /** Loads the remote context `uri` (written as `ref`) and processes its
    * `@context` on top of this one. */
  private def parseRemote(ref: JV, uri: String, remoteContexts: mutable.ArrayBuffer[String],
                          trail: Context.Trail): Context = {
    remoteContexts += uri
    val remoteContext =
      try options.loadDocument(uri)
      catch {
        case err: JsonLdError if err.getMessage.startsWith(JsonLdError.LoadingDocumentFailed.text) =>
          throw new JsonLdError(JsonLdError.LoadingRemoteContextFailed)
      }
    remoteContext match {
      case o: JObj if o.containsKey("@context") => parse(o("@context"), remoteContexts, trail)
      case _ => throw new JsonLdError(JsonLdError.InvalidRemoteContext, Json.write(ref))
    }
  }

  /** No term definitions, `@vocab` or `@language`: what processing a
    * remote context from here yields does not depend on this context. */
  private def isInitial: Boolean =
    termDefinitions.isEmpty && !self.containsKey("@vocab") && !self.containsKey("@language")

  /** This (initial) context with a memoised remote context applied: this
    * context's `@base`, the memo's `@vocab`, `@language` and shared terms. */
  private def withRemote(p: ContextCache.Processed): Context = {
    val s = self.deepClone().asInstanceOf[JObj]
    if (p.vocab != null) s.put("@vocab", p.vocab)
    if (p.language != null) s.put("@language", p.language)
    new Context(options, s, p.terms)
  }

  /** Create Term Definition (Core/Context.cs:333-532). */
  private def createTermDefinition(context: JObj, term: String,
                                   defined: mutable.HashMap[String, Boolean]): Unit = {
    if (defined.contains(term)) {
      if (defined(term)) return
      throw new JsonLdError(JsonLdError.CyclicIriMapping, term)
    }
    defined(term) = false
    if (isKeyword(term)) throw new JsonLdError(JsonLdError.KeywordRedefinition, term)
    termDefinitions.remove(term)
    var value = context(term)
    val idIsNull = value match {
      case o: JObj => o.containsKey("@id") && isNull(o("@id"))
      case _       => false
    }
    if (isNull(value) || idIsNull) {
      termDefinitions.put(term, JNull)
      defined(term) = true
      return
    }
    value match {
      case s: JStr => value = JObj("@id" -> s)
      case _       => ()
    }
    val valObj = value match {
      case o: JObj => o
      case _       => throw new JsonLdError(JsonLdError.InvalidTermDefinition, Json.write(value))
    }
    val definition = new JObj
    // 10) @type
    if (valObj.containsKey("@type")) {
      valObj("@type") match {
        case JStr(typeStr0) =>
          var tpe = typeStr0
          try tpe = expandIri(typeStr0, relative = false, vocab = true, context, defined)
          catch {
            case e: JsonLdError =>
              if (e.errorType != JsonLdError.InvalidIriMapping) throw e
              throw new JsonLdError(JsonLdError.InvalidTypeMapping, tpe)
          }
          if ("@id" == tpe || "@vocab" == tpe || (!tpe.startsWith("_:") && isAbsoluteIri(tpe)))
            definition.put("@type", JStr(tpe))
          else throw new JsonLdError(JsonLdError.InvalidTypeMapping, tpe)
        case other => throw new JsonLdError(JsonLdError.InvalidTypeMapping, Json.write(other))
      }
    }
    // 11) @reverse
    if (valObj.containsKey("@reverse")) {
      if (valObj.containsKey("@id"))
        throw new JsonLdError(JsonLdError.InvalidReverseProperty, Json.write(valObj))
      valObj("@reverse") match {
        case JStr(revStr) =>
          val reverse = expandIri(revStr, relative = false, vocab = true, context, defined)
          if (!isAbsoluteIri(reverse))
            throw new JsonLdError(JsonLdError.InvalidIriMapping, "Non-absolute @reverse IRI: " + reverse)
          definition.put("@id", JStr(reverse))
          if (valObj.containsKey("@container")) {
            val container = castString(valObj("@container"))
            if (container == null || "@set" == container || "@index" == container)
              definition.put("@container", if (container == null) JNull else JStr(container))
            else throw new JsonLdError(JsonLdError.InvalidReverseProperty,
              "reverse properties only support set- and index-containers")
          }
          definition.put("@reverse", JBool(true))
          termDefinitions.put(term, definition)
          defined(term) = true
          return
        case other =>
          throw new JsonLdError(JsonLdError.InvalidIriMapping,
            "Expected String for @reverse value. got " + (if (isNull(other)) "null" else other.getClass.getSimpleName))
      }
    }
    // 12)
    definition.put("@reverse", JBool(false))
    // 13)
    if (!isNull(valObj("@id")) && !safeCompare(valObj("@id"), term)) {
      valObj("@id") match {
        case JStr(idStr) =>
          val res = expandIri(idStr, relative = false, vocab = true, context, defined)
          if (isKeyword(res) || isAbsoluteIri(res)) {
            if ("@context" == res)
              throw new JsonLdError(JsonLdError.InvalidKeywordAlias, "cannot alias @context")
            definition.put("@id", JStr(res))
          } else throw new JsonLdError(JsonLdError.InvalidIriMapping,
            "resulting IRI mapping should be a keyword, absolute IRI or blank node")
        case _ => throw new JsonLdError(JsonLdError.InvalidIriMapping, "expected value of @id to be a string")
      }
    } else if (term.indexOf(":") >= 0) {
      // 14)
      val colIndex = term.indexOf(":")
      val prefix = term.substring(0, colIndex)
      val suffix = term.substring(colIndex + 1)
      if (context.containsKey(prefix)) createTermDefinition(context, prefix, defined)
      if (termDefinitions.containsKey(prefix) && termDefinitions(prefix).isInstanceOf[JObj])
        definition.put("@id", JStr(asString(termDefinitions(prefix).asInstanceOf[JObj]("@id")) + suffix))
      else definition.put("@id", JStr(term))
    } else {
      // 15)
      if (self.containsKey("@vocab"))
        definition.put("@id", JStr(asString(self("@vocab")) + term))
      else throw new JsonLdError(JsonLdError.InvalidIriMapping,
        "relative term definition without vocab mapping")
    }
    // 16)
    if (valObj.containsKey("@container")) {
      val container = castString(valObj("@container"))
      if (!("@list" == container || "@set" == container || "@index" == container || "@language" == container))
        throw new JsonLdError(JsonLdError.InvalidContainerMapping,
          "@container must be either @list, @set, @index, or @language")
      definition.put("@container", JStr(container))
    }
    // 17)
    if (valObj.containsKey("@language") && !valObj.containsKey("@type")) {
      valObj("@language") match {
        case JNull       => definition.put("@language", JNull)
        case JStr(lang)  => definition.put("@language", JStr(lang.toLowerCase))
        case _ => throw new JsonLdError(JsonLdError.InvalidLanguageMapping, "@language must be a string or null")
      }
    }
    // 18)
    termDefinitions.put(term, definition)
    defined(term) = true
  }

  /** IRI Expansion (Core/Context.cs:546-621). */
  def expandIri(value: String, relative: Boolean, vocab: Boolean, context: JObj,
                defined: mutable.HashMap[String, Boolean]): String = {
    if (value == null || isKeyword(value)) return value
    if (context != null && context.containsKey(value) && defined.contains(value) && !defined(value))
      createTermDefinition(context, value, defined)
    if (vocab && termDefinitions.containsKey(value)) {
      val td = termDefinitions(value)
      return td match {
        case o: JObj => asString(o("@id"))
        case _       => null
      }
    }
    val colIndex = value.indexOf(":")
    if (colIndex >= 0) {
      val prefix = value.substring(0, colIndex)
      val suffix = value.substring(colIndex + 1)
      if ("_" == prefix || suffix.startsWith("//")) return value
      if (context != null && context.containsKey(prefix) &&
          (!defined.contains(prefix) || !defined(prefix)))
        createTermDefinition(context, prefix, defined)
      if (termDefinitions.containsKey(prefix) && termDefinitions(prefix).isInstanceOf[JObj])
        return asString(termDefinitions(prefix).asInstanceOf[JObj]("@id")) + suffix
      return value
    }
    if (vocab && self.containsKey("@vocab")) asString(self("@vocab")) + value
    else if (relative) UrlUtil.resolve(baseStr, value)
    else {
      if (context != null && isRelativeIri(value))
        throw new JsonLdError(JsonLdError.InvalidIriMapping, "not an absolute IRI: " + value)
      value
    }
  }

  /** IRI Compaction (Core/Context.cs:643-920). */
  def compactIri(iri: String, value: JV, relativeToVocab: Boolean, reverse: Boolean): String = {
    if (iri == null) return null
    if (relativeToVocab && getInverse.containsKey(iri)) {
      var defaultLanguage = asString(self("@language"))
      if (defaultLanguage == null) defaultLanguage = "@none"
      val containers = new scala.collection.mutable.ArrayBuffer[String]
      var typeLanguage = "@language"
      var typeLanguageValue = "@null"
      val valueObj = value match { case o: JObj => o; case _ => null }
      if (valueObj != null && valueObj.containsKey("@index")) containers += "@index"
      if (reverse) {
        typeLanguage = "@type"
        typeLanguageValue = "@reverse"
        containers += "@set"
      } else if (valueObj != null && valueObj.containsKey("@list")) {
        if (!valueObj.containsKey("@index")) containers += "@list"
        val list = valueObj("@list").asInstanceOf[JArr]
        var commonLanguage: String = if (list.size == 0) defaultLanguage else null
        var commonType: String = null
        var break = false
        list.items.foreach { item =>
          if (!break) {
            var itemLanguage = "@none"
            var itemType = "@none"
            if (isValue(item)) {
              val io = item.asInstanceOf[JObj]
              if (io.containsKey("@language")) itemLanguage = asString(io("@language"))
              else if (io.containsKey("@type")) itemType = asString(io("@type"))
              else itemLanguage = "@null"
            } else itemType = "@id"
            if (commonLanguage == null) commonLanguage = itemLanguage
            else if (commonLanguage != itemLanguage && isValue(item)) commonLanguage = "@none"
            if (commonType == null) commonType = itemType
            else if (commonType != itemType) commonType = "@none"
            if ("@none" == commonLanguage && "@none" == commonType) break = true
          }
        }
        commonLanguage = if (commonLanguage != null) commonLanguage else "@none"
        commonType = if (commonType != null) commonType else "@none"
        if ("@none" != commonType) { typeLanguage = "@type"; typeLanguageValue = commonType }
        else typeLanguageValue = commonLanguage
      } else {
        if (valueObj != null && valueObj.containsKey("@value")) {
          if (valueObj.containsKey("@language") && !valueObj.containsKey("@index")) {
            containers += "@language"
            typeLanguageValue = asString(valueObj("@language"))
          } else if (valueObj.containsKey("@type")) {
            typeLanguage = "@type"
            typeLanguageValue = asString(valueObj("@type"))
          }
        } else {
          typeLanguage = "@type"
          typeLanguageValue = "@id"
        }
        containers += "@set"
      }
      containers += "@none"
      if (typeLanguageValue == null) typeLanguageValue = "@null"
      val preferredValues = new scala.collection.mutable.ArrayBuffer[String]
      if ("@reverse" == typeLanguageValue) preferredValues += "@reverse"
      if (("@reverse" == typeLanguageValue || "@id" == typeLanguageValue) &&
          valueObj != null && valueObj.containsKey("@id")) {
        val result = compactIri(asString(valueObj("@id")), null, relativeToVocab = true, reverse = true)
        val td = termDefinitions(result)
        if (td != null && td.isInstanceOf[JObj] && td.asInstanceOf[JObj].containsKey("@id") &&
            tokenEquals(valueObj("@id"), td.asInstanceOf[JObj]("@id"))) {
          preferredValues += "@vocab"; preferredValues += "@id"
        } else { preferredValues += "@id"; preferredValues += "@vocab" }
      } else preferredValues += typeLanguageValue
      preferredValues += "@none"
      val term = selectTerm(iri, containers.toVector, typeLanguage, preferredValues.toVector)
      if (term != null) return term
    }
    // 3)
    if (relativeToVocab && self.containsKey("@vocab")) {
      val vocab = asString(self("@vocab"))
      if (iri.startsWith(vocab) && iri != vocab) {
        val suffix = iri.substring(vocab.length)
        if (!termDefinitions.containsKey(suffix)) return suffix
      }
    }
    // 5)
    var compactIRI: String = null
    termDefinitions.keys.foreach { term1 =>
      if (!term1.contains(":")) {
        termDefinitions(term1) match {
          case td: JObj =>
            val tdId = asString(td("@id"))
            if (!(tdId == iri) && tdId != null && iri.startsWith(tdId)) {
              val candidate = term1 + ":" + iri.substring(tdId.length)
              val cond1 = compactIRI == null || compareShortestLeast(candidate, compactIRI) < 0
              val cdef = termDefinitions(candidate)
              val cond2 = !termDefinitions.containsKey(candidate) ||
                (cdef.isInstanceOf[JObj] && safeCompare(cdef.asInstanceOf[JObj]("@id"), iri) && isNull(value))
              if (cond1 && cond2) compactIRI = candidate
            }
          case _ => ()
        }
      }
    }
    if (compactIRI != null) return compactIRI
    if (!relativeToVocab) return UrlUtil.removeBase(baseStr, iri)
    iri
  }

  def compactIri(iri: String, relativeToVocab: Boolean): String =
    compactIri(iri, null, relativeToVocab, reverse = false)
  def compactIri(iri: String): String = compactIri(iri, null, relativeToVocab = false, reverse = false)

  /** Inverse Context Creation (Core/Context.cs:952-1073).
    *
    * Quirk replicated: the reference's comparator sort of terms is a no-op
    * (lazy LINQ Select never enumerated, Util/JavaCompat.cs:208-229), so
    * terms are visited in termDefinitions *insertion* order. */
  def getInverse: JObj = {
    if (inverse != null) return inverse
    inverse = new JObj
    val terms = termDefinitions.keys // insertion order — see quirk above
    terms.foreach { term =>
      termDefinitions(term) match {
        case definition: JObj =>
          var container = castString(definition("@container"))
          if (container == null) container = "@none"
          val iri = asString(definition("@id"))
          var containerMap = inverse(iri).asInstanceOf[JObj]
          if (containerMap == null) { containerMap = new JObj; inverse.put(iri, containerMap) }
          var typeLanguageMap = containerMap(container).asInstanceOf[JObj]
          if (typeLanguageMap == null) {
            typeLanguageMap = new JObj
            typeLanguageMap.put("@language", new JObj)
            typeLanguageMap.put("@type", new JObj)
            containerMap.put(container, typeLanguageMap)
          }
          if (safeCompare(definition("@reverse"), true)) {
            val typeMap = typeLanguageMap("@type").asInstanceOf[JObj]
            if (!typeMap.containsKey("@reverse")) typeMap.put("@reverse", JStr(term))
          } else if (definition.containsKey("@type")) {
            val typeMap = typeLanguageMap("@type").asInstanceOf[JObj]
            if (!typeMap.containsKey(asString(definition("@type"))))
              typeMap.put(asString(definition("@type")), JStr(term))
          } else if (definition.containsKey("@language")) {
            val languageMap = typeLanguageMap("@language").asInstanceOf[JObj]
            var language = castString(definition("@language"))
            if (language == null) language = "@null"
            if (!languageMap.containsKey(language)) languageMap.put(language, JStr(term))
          } else {
            val languageMap = typeLanguageMap("@language").asInstanceOf[JObj]
            if (!languageMap.containsKey("@language")) languageMap.put("@language", JStr(term))
            if (!languageMap.containsKey("@none")) languageMap.put("@none", JStr(term))
            val typeMap = typeLanguageMap("@type").asInstanceOf[JObj]
            if (!typeMap.containsKey("@none")) typeMap.put("@none", JStr(term))
          }
        case _ => ()
      }
    }
    inverse
  }

  /** Term Selection (Core/Context.cs:1104-1138). */
  private def selectTerm(iri: String, containers: Vector[String], typeLanguage: String,
                         preferredValues: Vector[String]): String = {
    val inv = getInverse
    val containerMap = inv(iri).asInstanceOf[JObj]
    containers.foreach { container =>
      if (containerMap.containsKey(container)) {
        val typeLanguageMap = containerMap(container).asInstanceOf[JObj]
        val valueMap = typeLanguageMap(typeLanguage).asInstanceOf[JObj]
        preferredValues.foreach { item =>
          if (valueMap.containsKey(item)) return asString(valueMap(item))
        }
      }
    }
    null
  }

  def getContainer(property: String): String = {
    if (property == null) return null
    if ("@graph" == property) return "@set"
    if (isKeyword(property)) return property
    termDefinitions(property) match {
      case td: JObj => castString(td("@container"))
      case _        => null
    }
  }

  def isReverseProperty(property: String): Boolean = {
    if (property == null) return false
    termDefinitions(property) match {
      case td: JObj => safeCompare(td("@reverse"), true)
      case _        => false
    }
  }

  private def getTypeMapping(property: String): String = {
    if (property == null) return null
    termDefinitions(property) match {
      case td: JObj => castString(td("@type"))
      case _        => null
    }
  }

  private def getLanguageMapping(property: String): String = {
    if (property == null) return null
    termDefinitions(property) match {
      case td: JObj => castString(td("@language"))
      case _        => null
    }
  }

  def getTermDefinition(key: String): JObj = termDefinitions(key) match {
    case td: JObj => td
    case _        => null
  }

  /** Value Expansion (Core/Context.cs:1218-1269). */
  def expandValue(activeProperty: String, value: JV): JV = {
    val rval = new JObj
    val td = getTermDefinition(activeProperty)
    if (td != null && safeCompare(td("@type"), "@id")) {
      rval.put("@id", JStr(expandIri(castString(value), relative = true, vocab = false, null, null)))
      return rval
    }
    if (td != null && safeCompare(td("@type"), "@vocab")) {
      rval.put("@id", JStr(expandIri(castString(value), relative = true, vocab = true, null, null)))
      return rval
    }
    rval.put("@value", value)
    if (td != null && td.containsKey("@type")) rval.put("@type", td("@type"))
    else value match {
      case _: JStr =>
        if (td != null && td.containsKey("@language")) {
          val lang = castString(td("@language"))
          if (lang != null) rval.put("@language", JStr(lang))
        } else if (!isNull(self("@language"))) rval.put("@language", self("@language"))
      case _ => ()
    }
    rval
  }

  /** Value Compaction (Core/Context.cs:68-126). */
  def compactValue(activeProperty: String, value: JObj): JV = {
    var numberMembers = value.size
    if (value.containsKey("@index") && "@index" == getContainer(activeProperty)) numberMembers -= 1
    if (numberMembers > 2) return value
    val typeMapping = getTypeMapping(activeProperty)
    val languageMapping = getLanguageMapping(activeProperty)
    if (value.containsKey("@id")) {
      if (numberMembers == 1 && "@id" == typeMapping) return JStr(compactIri(asString(value("@id"))))
      if (numberMembers == 1 && "@vocab" == typeMapping)
        return JStr(compactIri(asString(value("@id")), relativeToVocab = true))
      return value
    }
    val valueValue = value("@value")
    if (value.containsKey("@type") && safeCompare(value("@type"), typeMapping)) return valueValue
    if (value.containsKey("@language")) {
      if (safeCompare(value("@language"), languageMapping) ||
          (self("@language") != null && tokenEquals(value("@language"), self("@language"))))
        return valueValue
    }
    val tdHasLang = {
      val td = getTermDefinition(activeProperty)
      td != null && td.containsKey("@language")
    }
    if (numberMembers == 1 &&
        (!valueValue.isInstanceOf[JStr] || !self.containsKey("@language") ||
         (tdHasLang && languageMapping == null)))
      return valueValue
    value
  }

  /** Serialize to a wrapping {"@context": ...} (Core/Context.cs:1278-1335). */
  def serialize(): JObj = {
    val ctx = new JObj
    val baseVal = self("@base")
    if (!isNull(baseVal) && !safeCompare(baseVal, options.base)) ctx.put("@base", baseVal)
    if (!isNull(self("@language"))) ctx.put("@language", self("@language"))
    if (!isNull(self("@vocab"))) ctx.put("@vocab", self("@vocab"))
    termDefinitions.keys.foreach { term =>
      termDefinitions(term) match {
        case definition: JObj =>
          val langNull = isNull(definition("@language"))
          val containerNull = isNull(definition("@container"))
          val typeNull = isNull(definition("@type"))
          val reverseTok = definition("@reverse")
          val reverseFalseOrNull = isNull(reverseTok) || safeCompare(reverseTok, false)
          if (langNull && containerNull && typeNull && reverseFalseOrNull) {
            val cid = compactIri(asString(definition("@id")))
            ctx.put(term, if (term == cid) JStr(asString(definition("@id"))) else JStr(cid))
          } else {
            val defn = new JObj
            val cid = compactIri(asString(definition("@id")))
            val reverseProperty = safeCompare(reverseTok, true)
            if (!(term == cid && !reverseProperty))
              defn.put(if (reverseProperty) "@reverse" else "@id", JStr(cid))
            val typeMapping = castString(definition("@type"))
            if (typeMapping != null)
              defn.put("@type", if (isKeyword(typeMapping)) JStr(typeMapping)
                                else JStr(compactIri(typeMapping, relativeToVocab = true)))
            if (!containerNull) defn.put("@container", definition("@container"))
            val lang = definition("@language")
            if (!langNull) defn.put("@language", if (safeCompare(lang, false)) JNull else lang)
            ctx.put(term, defn)
          }
        case _ => ()
      }
    }
    val rval = new JObj
    if (!ctx.isEmpty) rval.put("@context", ctx)
    rval
  }
}

private object Context {

  /** What a remote context pulled in while it was processed: each import
    * as written and resolved, and whether a `null` reset the context
    * (which restores the document's own base, so the outcome is not
    * reusable). */
  private final class Trail {
    val imports = mutable.ArrayBuffer.empty[ContextCache.Import]
    var reset = false
  }
}
