package graft.jsonld

/** Error taxonomy with the exact message strings the reference's
  * negative-evaluation tests match on
  * (/root/reference/src/json-ld.net/Core/JsonLdError.cs:34-203). */
final class JsonLdError(val errorType: JsonLdError.Code, val detail: String)
    extends RuntimeException {
  def this(errorType: JsonLdError.Code) = this(errorType, "")
  override def getMessage: String =
    if (detail == null || detail.isEmpty) errorType.text
    else errorType.text + ": " + detail
}

object JsonLdError {
  final case class Code(text: String)

  val LoadingDocumentFailed       = Code("loading document failed")
  val ListOfLists                 = Code("list of lists")
  val InvalidIndexValue           = Code("invalid @index value")
  val ConflictingIndexes          = Code("conflicting indexes")
  val InvalidIdValue              = Code("invalid @id value")
  val InvalidLocalContext         = Code("invalid local context")
  val MultipleContextLinkHeaders  = Code("multiple context link headers")
  val LoadingRemoteContextFailed  = Code("loading remote context failed")
  val InvalidRemoteContext        = Code("invalid remote context")
  val RecursiveContextInclusion   = Code("recursive context inclusion")
  val InvalidBaseIri              = Code("invalid base IRI")
  val InvalidVocabMapping         = Code("invalid vocab mapping")
  val InvalidDefaultLanguage      = Code("invalid default language")
  val KeywordRedefinition         = Code("keyword redefinition")
  val InvalidTermDefinition       = Code("invalid term definition")
  val InvalidReverseProperty      = Code("invalid reverse property")
  val InvalidIriMapping           = Code("invalid IRI mapping")
  val CyclicIriMapping            = Code("cyclic IRI mapping")
  val InvalidKeywordAlias         = Code("invalid keyword alias")
  val InvalidTypeMapping          = Code("invalid type mapping")
  val InvalidLanguageMapping      = Code("invalid language mapping")
  val CollidingKeywords           = Code("colliding keywords")
  val InvalidContainerMapping     = Code("invalid container mapping")
  val InvalidTypeValue            = Code("invalid type value")
  val InvalidValueObject          = Code("invalid value object")
  val InvalidValueObjectValue     = Code("invalid value object value")
  val InvalidLanguageTaggedString = Code("invalid language-tagged string")
  val InvalidLanguageTaggedValue  = Code("invalid language-tagged value")
  val InvalidTypedValue           = Code("invalid typed value")
  val InvalidSetOrListObject      = Code("invalid set or list object")
  val InvalidLanguageMapValue     = Code("invalid language map value")
  val CompactionToListOfLists     = Code("compaction to list of lists")
  val InvalidReversePropertyMap   = Code("invalid reverse property map")
  val InvalidReverseValue         = Code("invalid @reverse value")
  val InvalidReversePropertyValue = Code("invalid reverse property value")
  val SyntaxError                 = Code("syntax error")
  val NotImplemented              = Code("not implemnted") // sic, matches reference
  val UnknownFormat               = Code("unknown format")
  /** Not in the reference (which will happily hang on an adversarial
    * blank-node clique): raised when the SJT permutation search exceeds
    * JsonLdOptions.normalizeBudget steps, so the pipeline quarantines the
    * document instead of wedging a task (SURVEY.md §4.3 blow-up guard). */
  val NormalizeBudgetExceeded     = Code("normalization budget exceeded")
  val InvalidInput                = Code("invalid input")
  val ParseError                  = Code("parse error")
  val UnknownError                = Code("unknown error")
}

/** Per-call options (/root/reference/src/json-ld.net/Core/JsonLdOptions.cs:7-181). */
final case class JsonLdOptions(
    var base: String = "",
    var compactArrays: Boolean = true,
    var expandContext: JV = null,
    var embed: Option[Boolean] = None,
    var explicit: Option[Boolean] = None,
    var omitDefault: Option[Boolean] = None,
    var useRdfType: Boolean = false,
    var useNativeTypes: Boolean = false,
    var produceGeneralizedRdf: Boolean = false,
    var sortGraphsFromRdf: Boolean = true,
    var sortGraphNodesFromRdf: Boolean = true,
    var format: String = null,
    var useNamespaces: Boolean = false,
    /** Work budget for normalization's permutation search, in SJT steps
      * per document (not in the reference — SURVEY.md §4.3 / §7.4 risk 3:
      * a symmetric blank-node clique makes the search exponential and
      * would wedge an executor task for hours). Exceeding it raises
      * [[JsonLdError.NormalizeBudgetExceeded]], which the pipeline's
      * quarantine routing catches per document. All 57 W3C normalize
      * cases complete in well under 10k steps; <= 0 disables the guard. */
    var normalizeBudget: Long = 1000000L,
    /** Zero-egress stand-in for the reference's HTTP DocumentLoader
      * (SURVEY.md §2.1 S1): url -> parsed JSON document. Defaults to a
      * loader that always fails (as any network fetch would here); callers
      * install a broadcast context-cache-backed loader. */
    var documentLoader: String => JV =
      url => throw new JsonLdError(JsonLdError.LoadingDocumentFailed, url)
) {
  def cloneBaseOnly(): JsonLdOptions = JsonLdOptions(base = base, documentLoader = documentLoader)

  def loadDocument(url: String): JV = documentLoader(url)
}
