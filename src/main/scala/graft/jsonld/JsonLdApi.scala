package graft.jsonld

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import JsonLdUtils._

/** The W3C JSON-LD 1.0 algorithm set
  * (/root/reference/src/json-ld.net/Core/JsonLdApi.cs), re-expressed in
  * Scala. Per-document and pure-by-construction: one JsonLdApi instance is
  * used per document inside a Spark task, so the stateful blank-node
  * counter stays deterministic (SURVEY.md §1.4).
  */
final class JsonLdApi(val opts: JsonLdOptions) {

  var value: JV = null
  var context: Context = new Context(opts)

  def this(input: JV, opts: JsonLdOptions) = {
    this(opts)
    if (input.isInstanceOf[JArr] || input.isInstanceOf[JObj])
      this.value = input.deepClone()
  }

  // ------------------------------------------------------------------
  // Expansion (Core/JsonLdApi.cs:433-1048)
  // ------------------------------------------------------------------

  def expand(activeCtx: Context, element: JV): JV = expand(activeCtx, null, element)

  def expand(activeCtx0: Context, activeProperty: String, element: JV): JV = {
    var activeCtx = activeCtx0
    if (isNull(element)) return null
    element match {
      case arr: JArr =>
        val result = new JArr
        arr.items.foreach { item =>
          val v = expand(activeCtx, activeProperty, item)
          if (("@list" == activeProperty || "@list" == activeCtx.getContainer(activeProperty)) &&
              (v.isInstanceOf[JArr] || (v.isInstanceOf[JObj] && v.asInstanceOf[JObj].containsKey("@list"))))
            throw new JsonLdError(JsonLdError.ListOfLists, "lists of lists are not permitted.")
          if (!isNull(v)) v match {
            case a: JArr => a.items.foreach(result.add)
            case other   => result.add(other)
          }
        }
        result
      case elem: JObj =>
        if (elem.containsKey("@context")) activeCtx = activeCtx.parse(elem("@context"))
        var result = new JObj
        val keys = elem.keys.sorted
        var earlyReturn: JV = null
        var returned = false
        keys.foreach { key =>
          if (!returned && key != "@context") {
            val value = elem(key)
            val expandedProperty = activeCtx.expandIri(key, relative = false, vocab = true, null, null)
            var expandedValue: JV = null
            var continueKey = false
            if (expandedProperty == null ||
                (!expandedProperty.contains(":") && !isKeyword(expandedProperty))) {
              continueKey = true
            } else if (isKeyword(expandedProperty)) {
              if ("@reverse" == activeProperty)
                throw new JsonLdError(JsonLdError.InvalidReversePropertyMap,
                  "a keyword cannot be used as a @reverse propery")
              if (result.containsKey(expandedProperty))
                throw new JsonLdError(JsonLdError.CollidingKeywords,
                  expandedProperty + " already exists in result")
              expandedProperty match {
                case "@id" =>
                  value match {
                    case JStr(s) =>
                      expandedValue = JStr(activeCtx.expandIri(s, relative = true, vocab = false, null, null))
                    case _ => throw new JsonLdError(JsonLdError.InvalidIdValue, "value of @id must be a string")
                  }
                case "@type" =>
                  value match {
                    case arr: JArr =>
                      val ev = new JArr
                      arr.items.foreach {
                        case JStr(s) =>
                          ev.add(JStr(activeCtx.expandIri(s, relative = true, vocab = true, null, null)))
                        case _ => throw new JsonLdError(JsonLdError.InvalidTypeValue,
                          "@type value must be a string or array of strings")
                      }
                      expandedValue = ev
                    case JStr(s) =>
                      expandedValue = JStr(activeCtx.expandIri(s, relative = true, vocab = true, null, null))
                    case o: JObj =>
                      if (o.size != 0)
                        throw new JsonLdError(JsonLdError.InvalidTypeValue,
                          "@type value must be a an empty object for framing")
                      expandedValue = value
                    case _ => throw new JsonLdError(JsonLdError.InvalidTypeValue,
                      "@type value must be a string or array of strings")
                  }
                case "@graph" =>
                  expandedValue = expand(activeCtx, "@graph", value)
                case "@value" =>
                  if (!isNull(value) && (value.isInstanceOf[JObj] || value.isInstanceOf[JArr]))
                    throw new JsonLdError(JsonLdError.InvalidValueObjectValue,
                      "value of " + expandedProperty + " must be a scalar or null")
                  expandedValue = value
                  if (isNull(expandedValue)) {
                    result.put("@value", JNull)
                    continueKey = true
                  }
                case "@language" =>
                  value match {
                    case JStr(s) => expandedValue = JStr(s.toLowerCase)
                    case _ => throw new JsonLdError(JsonLdError.InvalidLanguageTaggedString,
                      "Value of " + expandedProperty + " must be a string")
                  }
                case "@index" =>
                  value match {
                    case _: JStr => expandedValue = value
                    case _ => throw new JsonLdError(JsonLdError.InvalidIndexValue,
                      "Value of " + expandedProperty + " must be a string")
                  }
                case "@list" =>
                  if (activeProperty == null || "@graph" == activeProperty) continueKey = true
                  else {
                    expandedValue = expand(activeCtx, activeProperty, value)
                    if (!expandedValue.isInstanceOf[JArr]) {
                      val tmp = new JArr; tmp.add(expandedValue); expandedValue = tmp
                    }
                    expandedValue.asInstanceOf[JArr].items.foreach {
                      case o: JObj if o.containsKey("@list") =>
                        throw new JsonLdError(JsonLdError.ListOfLists, "A list may not contain another list")
                      case _ => ()
                    }
                  }
                case "@set" =>
                  expandedValue = expand(activeCtx, activeProperty, value)
                case "@reverse" =>
                  if (!value.isInstanceOf[JObj])
                    throw new JsonLdError(JsonLdError.InvalidReverseValue, "@reverse value must be an object")
                  expandedValue = expand(activeCtx, "@reverse", value)
                  val evObj = expandedValue.asInstanceOf[JObj]
                  if (evObj.containsKey("@reverse")) {
                    val reverse = evObj("@reverse").asInstanceOf[JObj]
                    reverse.keys.foreach { property =>
                      val item = reverse(property)
                      if (!result.containsKey(property)) result.put(property, new JArr)
                      item match {
                        case a: JArr => a.items.foreach(result(property).asInstanceOf[JArr].add)
                        case other   => result(property).asInstanceOf[JArr].add(other)
                      }
                    }
                  }
                  val baseCount = if (evObj.containsKey("@reverse")) 1 else 0
                  if (evObj.size > baseCount) {
                    if (!result.containsKey("@reverse")) result.put("@reverse", new JObj)
                    val reverseMap = result("@reverse").asInstanceOf[JObj]
                    evObj.keys.foreach { property =>
                      if ("@reverse" != property) {
                        val items = evObj(property).asInstanceOf[JArr]
                        items.items.foreach { item =>
                          item match {
                            case o: JObj if o.containsKey("@value") || o.containsKey("@list") =>
                              throw new JsonLdError(JsonLdError.InvalidReversePropertyValue)
                            case _ => ()
                          }
                          if (!reverseMap.containsKey(property)) reverseMap.put(property, new JArr)
                          reverseMap(property).asInstanceOf[JArr].add(item)
                        }
                      }
                    }
                  }
                  continueKey = true
                case "@explicit" | "@default" | "@embed" | "@embedChildren" | "@omitDefault" =>
                  expandedValue = expand(activeCtx, expandedProperty, value)
                case _ => ()
              }
              if (!continueKey) {
                if (!isNull(expandedValue)) result.put(expandedProperty, expandedValue)
                continueKey = true
              }
            } else {
              // 7.5 - 7.7
              if ("@language" == activeCtx.getContainer(key) && value.isInstanceOf[JObj]) {
                val ev = new JArr
                value.asInstanceOf[JObj].keys.foreach { language =>
                  val languageValue = value.asInstanceOf[JObj](language) match {
                    case a: JArr => a.items.toVector
                    case v       => Vector(v)
                  }
                  languageValue.foreach {
                    case JStr(item) =>
                      ev.add(JObj("@value" -> JStr(item), "@language" -> JStr(language.toLowerCase)))
                    case item =>
                      throw new JsonLdError(JsonLdError.InvalidLanguageMapValue,
                        "Expected " + Json.write(item) + " to be a string")
                  }
                }
                expandedValue = ev
              } else if ("@index" == activeCtx.getContainer(key) && value.isInstanceOf[JObj]) {
                val ev = new JArr
                val indexKeys = value.asInstanceOf[JObj].keys.sorted
                indexKeys.foreach { index =>
                  var indexValue: JV = value.asInstanceOf[JObj](index)
                  if (!indexValue.isInstanceOf[JArr]) {
                    val tmp = new JArr; tmp.add(indexValue); indexValue = tmp
                  }
                  indexValue = expand(activeCtx, key, indexValue)
                  indexValue.asInstanceOf[JArr].items.foreach { case item: JObj =>
                    if (!item.containsKey("@index")) item.put("@index", JStr(index))
                    ev.add(item)
                  case other => ev.add(other)
                  }
                }
                expandedValue = ev
              } else {
                expandedValue = expand(activeCtx, key, value)
              }
              if (isNull(expandedValue)) continueKey = true
              else {
                if ("@list" == activeCtx.getContainer(key)) {
                  if (!expandedValue.isInstanceOf[JObj] ||
                      !expandedValue.asInstanceOf[JObj].containsKey("@list")) {
                    var tmp = expandedValue
                    if (!tmp.isInstanceOf[JArr]) { val t = new JArr; t.add(expandedValue); tmp = t }
                    val wrap = new JObj
                    wrap.put("@list", tmp)
                    expandedValue = wrap
                  }
                }
                if (activeCtx.isReverseProperty(key)) {
                  if (!result.containsKey("@reverse")) result.put("@reverse", new JObj)
                  val reverseMap = result("@reverse").asInstanceOf[JObj]
                  if (!expandedValue.isInstanceOf[JArr]) {
                    val tmp = new JArr; tmp.add(expandedValue); expandedValue = tmp
                  }
                  expandedValue.asInstanceOf[JArr].items.foreach { item =>
                    item match {
                      case o: JObj if o.containsKey("@value") || o.containsKey("@list") =>
                        throw new JsonLdError(JsonLdError.InvalidReversePropertyValue)
                      case _ => ()
                    }
                    if (!reverseMap.containsKey(expandedProperty))
                      reverseMap.put(expandedProperty, new JArr)
                    item match {
                      case a: JArr => a.items.foreach(reverseMap(expandedProperty).asInstanceOf[JArr].add)
                      case other   => reverseMap(expandedProperty).asInstanceOf[JArr].add(other)
                    }
                  }
                } else {
                  if (!result.containsKey(expandedProperty)) result.put(expandedProperty, new JArr)
                  expandedValue match {
                    case a: JArr => a.items.foreach(result(expandedProperty).asInstanceOf[JArr].add)
                    case other   => result(expandedProperty).asInstanceOf[JArr].add(other)
                  }
                }
              }
            }
          }
        }
        // 8)
        if (result != null && result.containsKey("@value")) {
          val keySet = mutable.HashSet.from(result.keys)
          keySet.remove("@value")
          keySet.remove("@index")
          val langremoved = keySet.remove("@language")
          val typeremoved = keySet.remove("@type")
          if ((langremoved && typeremoved) || keySet.nonEmpty)
            throw new JsonLdError(JsonLdError.InvalidValueObject, "value object has unknown keys")
          val rval = result("@value")
          if (isNull(rval)) return null
          if (!rval.isInstanceOf[JStr] && result.containsKey("@language"))
            throw new JsonLdError(JsonLdError.InvalidLanguageTaggedValue,
              "when @language is used, @value must be a string")
          else if (result.containsKey("@type")) {
            result("@type") match {
              case JStr(t) if !t.startsWith("_:") && t.contains(":") => ()
              case _ => throw new JsonLdError(JsonLdError.InvalidTypedValue, "value of @type must be an IRI")
            }
          }
        } else if (result.containsKey("@type")) {
          val rtype = result("@type")
          if (!rtype.isInstanceOf[JArr]) {
            val tmp = new JArr; tmp.add(rtype); result.put("@type", tmp)
          }
        } else if (result.containsKey("@set") || result.containsKey("@list")) {
          if (result.size > (if (result.containsKey("@index")) 2 else 1))
            throw new JsonLdError(JsonLdError.InvalidSetOrListObject,
              "@set or @list may only contain @index")
          if (result.containsKey("@set")) return result("@set")
        }
        // 11)
        var resultOrNull: JObj = result
        if (resultOrNull != null && resultOrNull.containsKey("@language") && resultOrNull.size == 1)
          resultOrNull = null
        // 12)
        if (activeProperty == null || "@graph" == activeProperty) {
          if (resultOrNull != null && (resultOrNull.size == 0 || resultOrNull.containsKey("@value") ||
              resultOrNull.containsKey("@list")))
            resultOrNull = null
          else if (resultOrNull != null && resultOrNull.containsKey("@id") && resultOrNull.size == 1)
            resultOrNull = null
        }
        resultOrNull
      case _ =>
        // scalar
        if (activeProperty == null || "@graph" == activeProperty) null
        else activeCtx.expandValue(activeProperty, element)
    }
  }

  // ------------------------------------------------------------------
  // Compaction (Core/JsonLdApi.cs:77-421)
  // ------------------------------------------------------------------

  def compact(activeCtx: Context, activeProperty: String, element: JV): JV =
    compact(activeCtx, activeProperty, element, compactArrays = true)

  def compact(activeCtx: Context, activeProperty: String, element: JV,
              compactArrays: Boolean): JV = {
    element match {
      case arr: JArr =>
        val result = new JArr
        arr.items.foreach { item =>
          val compactedItem = compact(activeCtx, activeProperty, item, compactArrays)
          if (!isNull(compactedItem)) result.add(compactedItem)
        }
        if (compactArrays && result.size == 1 && activeCtx.getContainer(activeProperty) == null)
          result(0)
        else result
      case elem: JObj =>
        if (elem.containsKey("@value") || elem.containsKey("@id")) {
          val compactedValue = activeCtx.compactValue(activeProperty, elem)
          if (!(compactedValue.isInstanceOf[JObj] || compactedValue.isInstanceOf[JArr]))
            return compactedValue
        }
        val insideReverse = "@reverse" == activeProperty
        val result = new JObj
        val keys = elem.keys.sorted
        keys.foreach { expandedProperty =>
          val expandedValue = elem(expandedProperty)
          var continueKey = false
          if ("@id" == expandedProperty || "@type" == expandedProperty) {
            val compactedValue: JV = expandedValue match {
              case JStr(s) => JStr(activeCtx.compactIri(s, "@type" == expandedProperty))
              case arr: JArr =>
                val types = new JArr
                arr.items.foreach { t =>
                  types.add(JStr(activeCtx.compactIri(asString(t), relativeToVocab = true)))
                }
                if (types.size == 1) types(0) else types
              case other => other
            }
            val alias = activeCtx.compactIri(expandedProperty, relativeToVocab = true)
            result.put(alias, compactedValue)
            continueKey = true
          }
          if (!continueKey && "@reverse" == expandedProperty) {
            val compactedValue = compact(activeCtx, "@reverse", expandedValue, compactArrays)
              .asInstanceOf[JObj]
            compactedValue.keys.foreach { property =>
              val value = compactedValue(property)
              if (activeCtx.isReverseProperty(property)) {
                if (("@set" == activeCtx.getContainer(property) || !compactArrays) &&
                    !value.isInstanceOf[JArr]) {
                  val tmp = new JArr; tmp.add(value); result.put(property, tmp)
                }
                if (!result.containsKey(property)) result.put(property, value)
                else {
                  if (!result(property).isInstanceOf[JArr]) {
                    val tmp = new JArr; tmp.add(result(property)); result.put(property, tmp)
                  }
                  value match {
                    case a: JArr => a.items.foreach(result(property).asInstanceOf[JArr].add)
                    case other   => result(property).asInstanceOf[JArr].add(other)
                  }
                }
                compactedValue.remove(property)
              }
            }
            if (compactedValue.size != 0) {
              val alias = activeCtx.compactIri("@reverse", relativeToVocab = true)
              result.put(alias, compactedValue)
            }
            continueKey = true
          }
          if (!continueKey && "@index" == expandedProperty &&
              "@index" == activeCtx.getContainer(activeProperty)) {
            continueKey = true
          } else if (!continueKey && ("@index" == expandedProperty ||
              "@value" == expandedProperty || "@language" == expandedProperty)) {
            val alias = activeCtx.compactIri(expandedProperty, relativeToVocab = true)
            result.put(alias, expandedValue)
            continueKey = true
          }
          if (!continueKey) {
            val evArr = expandedValue.asInstanceOf[JArr]
            if (evArr.size == 0) {
              val itemActiveProperty =
                activeCtx.compactIri(expandedProperty, expandedValue, relativeToVocab = true, insideReverse)
              if (!result.containsKey(itemActiveProperty))
                result.put(itemActiveProperty, new JArr)
              else {
                val value = result(itemActiveProperty)
                if (!value.isInstanceOf[JArr]) {
                  val tmp = new JArr; tmp.add(value); result.put(itemActiveProperty, tmp)
                }
              }
            }
            evArr.items.foreach { expandedItem =>
              val itemActiveProperty =
                activeCtx.compactIri(expandedProperty, expandedItem, relativeToVocab = true, insideReverse)
              val container = activeCtx.getContainer(itemActiveProperty)
              val isListItem = expandedItem.isInstanceOf[JObj] &&
                expandedItem.asInstanceOf[JObj].containsKey("@list")
              val list = if (isListItem) expandedItem.asInstanceOf[JObj]("@list") else null
              var compactedItem =
                compact(activeCtx, itemActiveProperty, if (isListItem) list else expandedItem, compactArrays)
              if (isListItem) {
                if (!compactedItem.isInstanceOf[JArr]) {
                  val tmp = new JArr; tmp.add(compactedItem); compactedItem = tmp
                }
                if ("@list" != container) {
                  val wrapper = new JObj
                  wrapper.put(activeCtx.compactIri("@list", relativeToVocab = true), compactedItem)
                  compactedItem = wrapper
                  if (expandedItem.asInstanceOf[JObj].containsKey("@index"))
                    wrapper.put(activeCtx.compactIri("@index", relativeToVocab = true),
                      expandedItem.asInstanceOf[JObj]("@index"))
                } else if (result.containsKey(itemActiveProperty))
                  throw new JsonLdError(JsonLdError.CompactionToListOfLists,
                    "There cannot be two list objects associated with an active property that has a container mapping")
              }
              if ("@language" == container || "@index" == container) {
                val mapObject: JObj =
                  if (result.containsKey(itemActiveProperty)) result(itemActiveProperty).asInstanceOf[JObj]
                  else { val m = new JObj; result.put(itemActiveProperty, m); m }
                if ("@language" == container && compactedItem.isInstanceOf[JObj] &&
                    compactedItem.asInstanceOf[JObj].containsKey("@value"))
                  compactedItem = compactedItem.asInstanceOf[JObj]("@value")
                val mapKey = asString(expandedItem.asInstanceOf[JObj](container))
                if (!mapObject.containsKey(mapKey)) mapObject.put(mapKey, compactedItem)
                else {
                  val tmp: JArr =
                    if (!mapObject(mapKey).isInstanceOf[JArr]) {
                      val t = new JArr; t.add(mapObject(mapKey)); mapObject.put(mapKey, t); t
                    } else mapObject(mapKey).asInstanceOf[JArr]
                  tmp.add(compactedItem)
                }
              } else {
                val check = (!compactArrays || "@set" == container || "@list" == container ||
                  "@list" == expandedProperty || "@graph" == expandedProperty) &&
                  !compactedItem.isInstanceOf[JArr]
                if (check) {
                  val tmp = new JArr; tmp.add(compactedItem); compactedItem = tmp
                }
                if (!result.containsKey(itemActiveProperty))
                  result.put(itemActiveProperty, compactedItem)
                else {
                  if (!result(itemActiveProperty).isInstanceOf[JArr]) {
                    val tmp = new JArr; tmp.add(result(itemActiveProperty))
                    result.put(itemActiveProperty, tmp)
                  }
                  compactedItem match {
                    case a: JArr => a.items.foreach(result(itemActiveProperty).asInstanceOf[JArr].add)
                    case other   => result(itemActiveProperty).asInstanceOf[JArr].add(other)
                  }
                }
              }
            }
          }
        }
        result
      case _ => element
    }
  }

  // ------------------------------------------------------------------
  // Node Map Generation (Core/JsonLdApi.cs:1058-1335)
  // ------------------------------------------------------------------

  private val blankNodeIdentifierMap = new JObj
  private var blankNodeCounter = 0

  def generateBlankNodeIdentifier(id: String): String = {
    if (id != null && blankNodeIdentifierMap.containsKey(id))
      return asString(blankNodeIdentifierMap(id))
    val bnid = "_:b" + blankNodeCounter
    blankNodeCounter += 1
    if (id != null) blankNodeIdentifierMap.put(id, JStr(bnid))
    bnid
  }

  def generateBlankNodeIdentifier(): String = generateBlankNodeIdentifier(null)

  /** Identity fast-path for the node-map set-merge
    * (Core/JsonLdSet.cs:7-33). */
  private final class JsonLdSet {
    private val objects = mutable.HashSet.empty[String]
    def add(token: JV): Boolean = token match {
      case o: JObj =>
        val id = o("@id")
        id != null && isString(id) && objects.add(asString(id))
      case _ => false
    }
  }

  def generateNodeMap(element: JV, nodeMap: JObj): Unit =
    generateNodeMap(element, nodeMap, "@default", null, null, null, false)

  def generateNodeMap(element: JV, nodeMap: JObj, activeGraph: String): Unit =
    generateNodeMap(element, nodeMap, activeGraph, null, null, null, false)

  def generateNodeMap(element: JV, nodeMap: JObj, activeGraph: String, activeSubject: JV,
                      activeProperty: String, list: JObj): Unit =
    generateNodeMap(element, nodeMap, activeGraph, activeSubject, activeProperty, list,
      false)

  private def generateNodeMap(element: JV, nodeMap: JObj, activeGraph: String,
                              activeSubject: JV, activeProperty: String, list: JObj,
                              skipSetContainsCheck0: Boolean): Unit = {
    element match {
      case arr: JArr =>
        val set = if (list == null) new JsonLdSet else null
        arr.items.foreach { item =>
          var skip = false
          if (set != null) skip = set.add(item)
          generateNodeMap(item, nodeMap, activeGraph, activeSubject, activeProperty, list, skip)
        }
        return
      case _ => ()
    }
    val elem = element.asInstanceOf[JObj]
    if (!nodeMap.containsKey(activeGraph)) nodeMap.put(activeGraph, new JObj)
    val graph = nodeMap(activeGraph).asInstanceOf[JObj]
    var node: JObj = activeSubject match {
      case JStr(s) => graph(s).asInstanceOf[JObj]
      case _       => null
    }
    // 3) rename blank-node @types
    if (elem.containsKey("@type")) {
      val oldTypes: Vector[JV] = elem("@type") match {
        case a: JArr => a.items.toVector
        case v       => Vector(v)
      }
      val newTypes = new JArr
      oldTypes.foreach { t =>
        val item = asString(t)
        if (item != null && item.startsWith("_:")) newTypes.add(JStr(generateBlankNodeIdentifier(item)))
        else newTypes.add(t)
      }
      if (elem("@type").isInstanceOf[JArr]) elem.put("@type", newTypes)
      else elem.put("@type", newTypes(0))
    }
    // 4)
    if (elem.containsKey("@value")) {
      if (list == null) mergeValue(node, activeProperty, elem)
      else mergeValue(list, "@list", elem)
    } else if (elem.containsKey("@list")) {
      // 5)
      val result = new JObj
      result.put("@list", new JArr)
      generateNodeMap(elem("@list"), nodeMap, activeGraph, activeSubject, activeProperty, result)
      mergeValue(node, activeProperty, result)
    } else {
      // 6)
      var id = asString(elem.remove("@id"))
      if (id != null) { if (id.startsWith("_:")) id = generateBlankNodeIdentifier(id) }
      else id = generateBlankNodeIdentifier(null)
      if (!graph.containsKey(id)) {
        val tmp = new JObj
        tmp.put("@id", JStr(id))
        graph.put(id, tmp)
      }
      if (activeSubject.isInstanceOf[JObj]) {
        mergeValue(graph(id).asInstanceOf[JObj], activeProperty, activeSubject)
      } else if (activeProperty != null) {
        val reference = new JObj
        reference.put("@id", JStr(id))
        if (list == null) mergeValue(node, activeProperty, reference, skipSetContainsCheck0)
        else mergeValue(list, "@list", reference)
      }
      node = graph(id).asInstanceOf[JObj]
      // 6.7)
      if (elem.containsKey("@type")) {
        val types = elem.remove("@type").asInstanceOf[JArr]
        types.items.foreach(t => mergeValue(node, "@type", t))
      }
      // 6.8)
      if (elem.containsKey("@index")) {
        val elemIndex = elem.remove("@index")
        if (node.containsKey("@index")) {
          if (!deepCompare(node("@index"), elemIndex))
            throw new JsonLdError(JsonLdError.ConflictingIndexes)
        } else node.put("@index", elemIndex)
      }
      // 6.9)
      if (elem.containsKey("@reverse")) {
        val referencedNode = new JObj
        referencedNode.put("@id", JStr(id))
        val reverseMap = elem.remove("@reverse").asInstanceOf[JObj]
        reverseMap.keys.foreach { property =>
          val values = reverseMap(property).asInstanceOf[JArr]
          values.items.foreach { value =>
            generateNodeMap(value, nodeMap, activeGraph, referencedNode, property, null)
          }
        }
      }
      // 6.10)
      if (elem.containsKey("@graph"))
        generateNodeMap(elem.remove("@graph"), nodeMap, id, null, null, null)
      // 6.11)
      val keys = elem.keys.sorted
      keys.foreach { property0 =>
        var property = property0
        val value = elem(property0)
        if (property.startsWith("_:")) property = generateBlankNodeIdentifier(property)
        if (!node.containsKey(property)) node.put(property, new JArr)
        generateNodeMap(value, nodeMap, activeGraph, JStr(id), property, null)
      }
    }
  }

  // ------------------------------------------------------------------
  // toRDF (Core/JsonLdApi.cs:2167-2187)
  // ------------------------------------------------------------------

  def toRDF(): RdfDataset = {
    val nodeMap = new JObj
    nodeMap.put("@default", new JObj)
    generateNodeMap(this.value, nodeMap)
    val dataset = new RdfDataset
    nodeMap.keys.foreach { graphName =>
      if (!isRelativeIri(graphName)) {
        val graph = nodeMap(graphName).asInstanceOf[JObj]
        dataset.graphToRDF(graphName, graph, this)
      }
    }
    dataset
  }

  // ------------------------------------------------------------------
  // fromRDF (Core/JsonLdApi.cs:1974-2158)
  // ------------------------------------------------------------------

  private final class UsagesNode(val node: NodeMapNode, val property: String, val value: JObj)

  private final class NodeMapNode(id: String) extends JObj {
    val usages = new ArrayBuffer[UsagesNode]
    put("@id", JStr(id))

    /** Core/JsonLdApi.cs:1912-1956. */
    def isWellFormedListNode: Boolean = {
      if (usages.size != 1) return false
      var keys = 0
      if (containsKey(JsonLdConsts.RdfFirst)) {
        keys += 1
        this(JsonLdConsts.RdfFirst) match {
          case a: JArr if a.size == 1 => ()
          case _                      => return false
        }
      }
      if (containsKey(JsonLdConsts.RdfRest)) {
        keys += 1
        this(JsonLdConsts.RdfRest) match {
          case a: JArr if a.size == 1 => ()
          case _                      => return false
        }
      }
      if (containsKey("@type")) {
        keys += 1
        val ok = this("@type") match {
          case a: JArr if a.size == 1 => true
          case _                      => false
        }
        // replicate the reference's operator-precedence quirk
        // (Core/JsonLdApi.cs:1940-1944): the RdfList check is and-ed in a
        // way that only rejects when the type array ISN'T a 1-elem array
        // and its first element is rdf:List.
        val firstIsList = this("@type") match {
          case a: JArr if a.size > 0 => safeCompare(a(0), JsonLdConsts.RdfList)
          case _                     => false
        }
        if (!ok && firstIsList) return false
      }
      if (containsKey("@id")) keys += 1
      keys >= size
    }

    def serializeNode(): JObj = {
      val out = new JObj
      val it = entriesIterator
      while (it.hasNext) { val (k, v) = it.next(); out.put(k, v) }
      out
    }
  }

  def fromRDF(dataset: RdfDataset): JArr = {
    val defaultGraph = new JObj
    val graphMap = new JObj
    graphMap.put("@default", defaultGraph)
    dataset.graphNames.foreach { name =>
      val graph = dataset.getQuads(name)
      val nodeMap: JObj =
        if (!graphMap.containsKey(name)) { val m = new JObj; graphMap.put(name, m); m }
        else graphMap(name).asInstanceOf[JObj]
      if ("@default" != name && !defaultGraph.containsKey(name))
        defaultGraph.put(name, new NodeMapNode(name))
      graph.foreach { triple =>
        val subject = triple.subject.value
        val predicate = triple.predicate.value
        val obj = triple.obj
        val node: NodeMapNode =
          if (!nodeMap.containsKey(subject)) {
            val n = new NodeMapNode(subject); nodeMap.put(subject, n); n
          } else nodeMap(subject).asInstanceOf[NodeMapNode]
        if ((obj.isIRI || obj.isBlankNode) && !nodeMap.containsKey(obj.value))
          nodeMap.put(obj.value, new NodeMapNode(obj.value))
        if (JsonLdConsts.RdfType == predicate && (obj.isIRI || obj.isBlankNode) && !opts.useRdfType) {
          mergeValue(node, "@type", JStr(obj.value))
        } else {
          val value = obj.toObject(opts.useNativeTypes)
          mergeValue(node, predicate, value)
          if (obj.isBlankNode || obj.isIRI)
            nodeMap(obj.value).asInstanceOf[NodeMapNode].usages +=
              new UsagesNode(node, predicate, value)
        }
      }
    }
    // 4) convert linked lists to @list
    graphMap.keys.foreach { name =>
      val graph = graphMap(name).asInstanceOf[JObj]
      if (graph.containsKey(JsonLdConsts.RdfNil)) {
        val nil = graph(JsonLdConsts.RdfNil).asInstanceOf[NodeMapNode]
        nil.usages.foreach { usage =>
          var node = usage.node
          var property = usage.property
          var head = usage.value
          val list = new JArr
          val listNodes = new ArrayBuffer[String]
          var break = false
          while (!break && JsonLdConsts.RdfRest == property && node.isWellFormedListNode) {
            list.add(node(JsonLdConsts.RdfFirst).asInstanceOf[JArr](0))
            listNodes += asString(node("@id"))
            val nodeUsage = node.usages(0)
            node = nodeUsage.node
            property = nodeUsage.property
            head = nodeUsage.value
            if (!isBlankNode(node)) break = true
          }
          if (JsonLdConsts.RdfFirst == property) {
            if (!safeCompare(node("@id"), JsonLdConsts.RdfNil)) {
              val headId = asString(head("@id"))
              head = graph(headId).asInstanceOf[JObj](JsonLdConsts.RdfRest)
                .asInstanceOf[JArr](0).asInstanceOf[JObj]
              list.removeAt(list.size - 1)
              listNodes.remove(listNodes.size - 1)
              finishList(graph, head, list, listNodes)
            }
          } else {
            finishList(graph, head, list, listNodes)
          }
        }
      }
    }
    // 5-6)
    val result = new JArr
    var ids = defaultGraph.keys
    if (opts.sortGraphsFromRdf) ids = ids.sorted
    ids.foreach { subject =>
      val node = defaultGraph(subject).asInstanceOf[NodeMapNode]
      if (graphMap.containsKey(subject)) {
        val graphArr = new JArr
        node.put("@graph", graphArr)
        var keys = graphMap(subject).asInstanceOf[JObj].keys
        if (opts.sortGraphNodesFromRdf) keys = keys.sorted
        keys.foreach { s =>
          val n = graphMap(subject).asInstanceOf[JObj](s).asInstanceOf[NodeMapNode]
          if (!(n.size == 1 && n.containsKey("@id"))) graphArr.add(n.serializeNode())
        }
      }
      if (!(node.size == 1 && node.containsKey("@id"))) result.add(node.serializeNode())
    }
    result
  }

  private def finishList(graph: JObj, head0: JObj, list: JArr,
                         listNodes: ArrayBuffer[String]): Unit = {
    val head = head0
    head.remove("@id")
    val reversed = new JArr
    list.items.reverse.foreach(reversed.add)
    head.put("@list", reversed)
    listNodes.foreach(nodeId => graph.remove(nodeId))
  }

  // ------------------------------------------------------------------
  // Normalization entry (Core/JsonLdApi.cs:2197-2249)
  // ------------------------------------------------------------------

  /** Canonical blank-node labels for `dataset` ([[NormalizeUtils]] relabels
    * its quads in place), then the one place that formats them: with
    * `format` application/nquads, Left of the sorted N-Quads text
    * ([[NQuads.toNQuads]]); with no format, Right of the relabelled quads
    * as [[NQuads.parseNQuads]] would read that text back
    * ([[NQuads.asParsed]]: duplicates dropped, a term the parser refuses
    * raised as its error); any other format is `UnknownFormat`. */
  def normalize(dataset: RdfDataset): Either[String, RdfDataset] = {
    val quads = new ArrayBuffer[RdfQuad]
    val bnodes = mutable.LinkedHashMap.empty[String, NormalizeUtils.BnodeEntry]
    dataset.graphNames.foreach { graphName =>
      dataset.getQuads(graphName).foreach { quad =>
        if ("@default" != graphName) quad.name = RdfQuad.graphNode(graphName)
        quads += quad
        (Seq(quad.subject, quad.obj) ++ quad.name).foreach { node =>
          if (node.isBlankNode) bnodes.getOrElseUpdate(node.value, new NormalizeUtils.BnodeEntry).quads += quad
        }
      }
    }
    val relabelled = new NormalizeUtils(quads, bnodes, new UniqueNamer("_:c14n"), opts)
      .hashBlankNodes(bnodes.keys.toVector)
    if (opts.format == null) Right(NQuads.asParsed(relabelled))
    else if ("application/nquads" == opts.format) Left(NQuads.toNQuads(relabelled))
    else throw new JsonLdError(JsonLdError.UnknownFormat, opts.format)
  }

  // ------------------------------------------------------------------
  // Framing (Core/JsonLdApi.cs:1391-1876)
  // ------------------------------------------------------------------

  private final class FramingContext {
    var embed: Boolean = true
    var explicitOn: Boolean = false
    var omitDefault: Boolean = false
    var embeds: mutable.LinkedHashMap[String, EmbedNode] = null
  }

  private final class EmbedNode {
    var parent: JV = null
    var property: String = null
  }

  private var frameNodeMap: JObj = null

  def frame(input: JV, frame0: JArr): JArr = {
    val state = new FramingContext
    opts.embed.foreach(state.embed = _)
    opts.explicit.foreach(state.explicitOn = _)
    opts.omitDefault.foreach(state.omitDefault = _)
    val nodes = new JObj
    generateNodeMap(input, nodes)
    this.frameNodeMap = nodes("@default").asInstanceOf[JObj]
    val framed = new JArr
    val frameObj =
      if (frame0 != null && frame0.size > 0) frame0(0).asInstanceOf[JObj] else new JObj
    doFrame(state, this.frameNodeMap, frameObj, framed, null)
    framed
  }

  private def doFrame(state: FramingContext, nodes: JObj, frame: JObj,
                      parent: JV, property: String): Unit = {
    val matches = filterNodes(state, nodes, frame)
    var embedOn = getFrameFlag(frame, "@embed", state.embed)
    val explicitOn = getFrameFlag(frame, "@explicit", state.explicitOn)
    val ids = matches.keys.sorted
    ids.foreach { id =>
      if (property == null) state.embeds = mutable.LinkedHashMap.empty[String, EmbedNode]
      val output = new JObj
      output.put("@id", JStr(id))
      val embeddedNode = new EmbedNode
      embeddedNode.parent = parent
      embeddedNode.property = property
      var localEmbedOn = embedOn
      if (localEmbedOn && state.embeds.contains(id)) {
        val existing = state.embeds(id)
        localEmbedOn = false
        existing.parent match {
          case arr: JArr =>
            localEmbedOn = arr.items.exists(p => compareValues(output, p))
          case po: JObj =>
            if (po.containsKey(existing.property)) {
              po(existing.property) match {
                case a: JArr =>
                  localEmbedOn = a.items.exists {
                    case v: JObj => safeCompare(v("@id"), id)
                    case _       => false
                  }
                case _ => ()
              }
            }
          case _ => ()
        }
        if (localEmbedOn) removeEmbed(state, id)
      }
      if (!localEmbedOn) addFrameOutput(state, parent, property, output)
      else {
        state.embeds.put(id, embeddedNode)
        val element = matches(id).asInstanceOf[JObj]
        var props = element.keys.sorted
        props.foreach { prop =>
          if (isKeyword(prop)) {
            output.put(prop, element(prop).deepClone())
          } else if (!frame.containsKey(prop)) {
            if (!explicitOn) embedValues(state, element, prop, output)
          } else {
            val value = element(prop).asInstanceOf[JArr]
            value.items.foreach { item =>
              item match {
                case io: JObj if io.containsKey("@list") =>
                  val list = new JObj
                  list.put("@list", new JArr)
                  addFrameOutput(state, output, prop, list)
                  io("@list").asInstanceOf[JArr].items.foreach { listitem =>
                    if (isNodeReference(listitem)) {
                      val tmp = new JObj
                      val itemid = asString(listitem.asInstanceOf[JObj]("@id"))
                      tmp.put(itemid, this.frameNodeMap(itemid))
                      doFrame(state, tmp, frame(prop).asInstanceOf[JArr](0).asInstanceOf[JObj],
                        list, "@list")
                    } else addFrameOutput(state, list, "@list", listitem)
                  }
                case _ =>
                  if (isNodeReference(item)) {
                    val tmp = new JObj
                    val itemid = asString(item.asInstanceOf[JObj]("@id"))
                    tmp.put(itemid, this.frameNodeMap(itemid))
                    doFrame(state, tmp, frame(prop).asInstanceOf[JArr](0).asInstanceOf[JObj],
                      output, prop)
                  } else addFrameOutput(state, output, prop, item)
              }
            }
          }
        }
        // defaults
        props = frame.keys.sorted
        props.foreach { prop =>
          if (!isKeyword(prop)) {
            val pf = frame(prop).asInstanceOf[JArr]
            var propertyFrame = if (pf.size > 0) pf(0).asInstanceOf[JObj] else null
            if (propertyFrame == null) propertyFrame = new JObj
            val omitDefaultOn = getFrameFlag(propertyFrame, "@omitDefault", state.omitDefault)
            if (!omitDefaultOn && !output.containsKey(prop)) {
              var deflt: JV = JStr("@null")
              if (propertyFrame.containsKey("@default"))
                deflt = propertyFrame("@default").deepClone()
              if (!deflt.isInstanceOf[JArr]) { val t = new JArr; t.add(deflt); deflt = t }
              val tmp1 = new JObj
              tmp1.put("@preserve", deflt)
              val tmp2 = new JArr
              tmp2.add(tmp1)
              output.put(prop, tmp2)
            }
          }
        }
        addFrameOutput(state, parent, property, output)
      }
    }
  }

  private def getFrameFlag(frame: JObj, name: String, default: Boolean): Boolean = {
    var value: JV = frame(name)
    value match {
      case a: JArr if a.size > 0 => value = a(0)
      case _                     => ()
    }
    value match {
      case o: JObj if o.containsKey("@value") => value = o("@value")
      case _                                  => ()
    }
    value match {
      case JBool(b) => b
      case _        => default
    }
  }

  private def removeEmbed(state: FramingContext, id: String): Unit = {
    val embeds = state.embeds
    val embed = embeds(id)
    val parent = embed.parent
    val property = embed.property
    val node = new JObj
    node.put("@id", JStr(id))
    if (isNode(parent)) {
      val po = parent.asInstanceOf[JObj]
      val newvals = new JArr
      val oldvals = po(property).asInstanceOf[JArr]
      oldvals.items.foreach {
        case v: JObj if safeCompare(v("@id"), id) => newvals.add(node)
        case v                                    => newvals.add(v)
      }
      po.put(property, newvals)
    }
    removeDependents(embeds, id)
  }

  private def removeDependents(embeds: mutable.LinkedHashMap[String, EmbedNode], id: String): Unit = {
    val embedsKeys = embeds.keys.toVector
    embedsKeys.foreach { idDep =>
      embeds.get(idDep).foreach { e =>
        val p: JV = if (!isNull(e.parent)) e.parent else new JObj
        p match {
          case po: JObj =>
            val pid = asString(po("@id"))
            if (id == pid) {
              embeds.remove(idDep)
              removeDependents(embeds, idDep)
            }
          case _ => ()
        }
      }
    }
  }

  private def filterNodes(state: FramingContext, nodes: JObj, frame: JObj): JObj = {
    val rval = new JObj
    nodes.keys.foreach { id =>
      nodes(id) match {
        case element: JObj if filterNode(state, element, frame) => rval.put(id, element)
        case _                                                  => ()
      }
    }
    rval
  }

  private def filterNode(state: FramingContext, node: JObj, frame: JObj): Boolean = {
    val types = frame("@type")
    if (!isNull(types)) {
      types match {
        case typesArr: JArr =>
          var nodeTypes: JArr = node("@type") match {
            case null | JNull => new JArr
            case a: JArr      => a
            case _ => throw new JsonLdError(JsonLdError.SyntaxError, "node @type must be an array")
          }
          if (typesArr.size == 1 && typesArr(0).isInstanceOf[JObj] &&
              typesArr(0).asInstanceOf[JObj].size == 0) {
            !nodeTypes.isEmpty
          } else {
            nodeTypes.items.exists(i => typesArr.items.exists(j => deepCompare(i, j)))
          }
        case _ => throw new JsonLdError(JsonLdError.SyntaxError, "frame @type must be an array")
      }
    } else {
      frame.keys.forall(key => !("@id" == key || (!isKeyword(key) && !node.containsKey(key))))
    }
  }

  private def addFrameOutput(state: FramingContext, parent: JV, property: String,
                             output: JV): Unit = {
    parent match {
      case po: JObj =>
        var prop = po(property).asInstanceOf[JArr]
        if (prop == null) { prop = new JArr; po.put(property, prop) }
        prop.add(output)
      case pa: JArr => pa.add(output)
      case _        => ()
    }
  }

  private def embedValues(state: FramingContext, element: JObj, property: String,
                          output: JV): Unit = {
    val objects = element(property).asInstanceOf[JArr]
    objects.items.foreach { o =>
      var eachObj = o
      eachObj match {
        case lo: JObj if lo.containsKey("@list") =>
          val list = new JObj
          list.put("@list", new JArr)
          output match {
            case oa: JArr => oa.add(list)
            case oo: JObj => val t = new JArr; t.add(list); oo.put(property, t)
            case _        => ()
          }
          embedValues(state, lo, "@list", list("@list"))
        case _ if isNodeReference(eachObj) =>
          val sid = asString(eachObj.asInstanceOf[JObj]("@id"))
          if (!state.embeds.contains(sid)) {
            val embed = new EmbedNode
            embed.parent = output
            embed.property = property
            state.embeds.put(sid, embed)
            val newObj = new JObj
            eachObj = newObj
            var s = this.frameNodeMap(sid).asInstanceOf[JObj]
            if (s == null) { s = new JObj; s.put("@id", JStr(sid)) }
            s.keys.foreach { prop =>
              if (isKeyword(prop)) newObj.put(prop, s(prop).deepClone())
              else embedValues(state, s, prop, newObj)
            }
          }
          addFrameOutput(state, output, property, eachObj)
        case _ =>
          addFrameOutput(state, output, property, eachObj.deepClone())
      }
    }
  }
}
