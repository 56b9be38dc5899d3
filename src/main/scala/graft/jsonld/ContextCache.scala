package graft.jsonld

/** Bundled remote-context cache — the zero-egress production stand-in for
  * the reference's HTTP DocumentLoader (SURVEY.md §2.1 S1;
  * /root/reference/src/json-ld.net/Core/DocumentLoader.cs:49-113). The
  * well-known context documents a web corpus actually references
  * (schema.org, activitystreams, ...) are a handful of small JSON files:
  * ship them as a `Map[url -> raw JSON]`, broadcast it (the map rides the
  * task closure; on a real cluster wrap it in `sparkContext.broadcast`),
  * and every remote `@context` resolves locally with zero I/O. URLs
  * outside the bundle fail exactly like a network error and quarantine
  * the document rather than the job.
  *
  * Processed-context memo. A corpus that points every document at one
  * shared vocabulary would otherwise re-run the Context Processing
  * Algorithm on the same text per document. When a document's top-level
  * remote context is processed from the initial active context,
  * [[Context.parse]] keeps the outcome here — `@vocab`, `@language` and
  * the term-definition object — and later documents on the same thread
  * reuse it. Sharing contract:
  *  - an entry is published only after processing succeeded (a failure is
  *    never cached, so every bad document raises its own error);
  *  - an entry is used only if the loader's map still returns the same
  *    text for the context and for every context it imported, and each
  *    import still resolves to the same URL against the document's base;
  *  - the term-definition object is never written after it is published:
  *    `Context.parse` copies before it defines terms on top of a shared
  *    context, and the expansion algorithms only read definitions (the
  *    values they copy out are immutable scalars);
  *  - the memo is one small LRU map per thread ([[MemoBound]] entries), so
  *    no locking is needed and memory does not grow with the corpus.
  */
object ContextCache {

  /** The documentLoader [[loader]] returns: a url -> raw-JSON map lookup.
    * Each call parses the text afresh (callers may mutate what they
    * load); [[Context.parse]] recognises this loader to consult the memo. */
  final class Loader private[jsonld] (val cache: Map[String, String])
      extends (String => JV) with Serializable {
    def apply(url: String): JV = cache.get(url) match {
      case Some(text) =>
        try Json.parse(text)
        catch {
          case _: Exception =>
            throw new JsonLdError(JsonLdError.LoadingDocumentFailed, url)
        }
      case None =>
        throw new JsonLdError(JsonLdError.LoadingDocumentFailed, url)
    }
  }

  /** A documentLoader backed by a url -> raw-JSON map. */
  def loader(cache: Map[String, String]): String => JV = new Loader(cache)

  /** A remote context `ref` (as written) that resolved to `url`. */
  private[jsonld] final case class Import(ref: String, url: String)

  /** One remote context processed from the initial active context: the
    * text it came from, the contexts it imported (in load order, with the
    * text each had), and what processing produced. Never mutated. */
  private[jsonld] final class Processed(val text: String,
                                        val imports: Vector[(Import, String)],
                                        val vocab: JV, val language: JV,
                                        val terms: JObj)

  /** Entries per thread. */
  private[graft] val MemoBound = 16

  private val memo = ThreadLocal.withInitial[java.util.LinkedHashMap[String, Processed]] { () =>
    new java.util.LinkedHashMap[String, Processed](2 * MemoBound, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Processed]): Boolean =
        size > MemoBound
    }
  }

  private def sameText(cache: Map[String, String], url: String, text: String): Boolean =
    cache.get(url) match {
      case Some(t) => (t eq text) || t == text
      case None    => false
    }

  /** The memo entry for `url`, if it is still valid for `loader`'s map and
    * a document whose base is `base`; else null. */
  private[jsonld] def lookup(loader: Loader, url: String, base: String): Processed = {
    val p = memo.get.get(url)
    if (p != null && sameText(loader.cache, url, p.text) && p.imports.forall { case (i, text) =>
          UrlUtil.resolve(base, i.ref) == i.url && sameText(loader.cache, i.url, text)
        }) p
    else null
  }

  /** Publishes `url`'s processed context; `result` must never be written
    * again. Every context it imported must have come from `loader`. */
  private[jsonld] def publish(loader: Loader, url: String, imports: Vector[Import],
                              result: Context): Unit =
    memo.get.put(url, new Processed(loader.cache(url),
      imports.map(i => i -> loader.cache(i.url)),
      result.self("@vocab"), result.self("@language"), result.termDefinitions))

  /** Entries held for the calling thread. */
  private[graft] def memoSize: Int = memo.get.size

  private[graft] def clearMemo(): Unit = memo.get.clear()
}
