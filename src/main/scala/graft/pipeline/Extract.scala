package graft.pipeline

import org.apache.spark.sql.Dataset
import scala.collection.mutable.ArrayBuffer

/** Byte-exact extraction of embedded JSON-LD script blocks (and a
  * microdata fallback) from page HTML.
  *
  * North-rule invariant: the extracted text for a url must be
  * byte-identical to the reference extraction — so this is a hand-rolled
  * scanner over the raw string, not an HTML parser that could re-encode
  * entities or normalize whitespace. Pure per-row function → narrow
  * `flatMap` stage, no shuffle (SURVEY.md §3.2).
  */
object Extract {

  private val OpenTag = "<script type=\"application/ld+json\">"
  private val CloseTag = "</script>"

  /** Returns the exact substrings between the script tags, in document
    * order. Case-sensitive on the canonical lowercase form first, then a
    * tolerant pass for single-quoted/spaced variants. */
  def scriptBlocks(html: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var from = 0
    while (from < html.length) {
      val start = html.indexOf(OpenTag, from)
      if (start < 0) { from = html.length }
      else {
        val payloadStart = start + OpenTag.length
        val end = html.indexOf(CloseTag, payloadStart)
        if (end < 0) { from = html.length }
        else {
          out += html.substring(payloadStart, end)
          from = end + CloseTag.length
        }
      }
    }
    out.result()
  }

  /** Tolerant variant matcher for `<script ... type='application/ld+json' ...>`
    * with arbitrary attribute order/quoting; used only when the canonical
    * form found nothing (real crawl data is messy; the synthetic corpus
    * always uses the canonical form so the byte-exact path dominates). */
  private val TolerantOpen =
    java.util.regex.Pattern.compile(
      "<script\\b[^>]*type\\s*=\\s*[\"']application/ld\\+json[\"'][^>]*>",
      java.util.regex.Pattern.CASE_INSENSITIVE)

  def scriptBlocksTolerant(html: String): Vector[String] = {
    val strict = scriptBlocks(html)
    if (strict.nonEmpty) return strict
    val out = Vector.newBuilder[String]
    val m = TolerantOpen.matcher(html)
    while (m.find()) {
      val payloadStart = m.end()
      val end = html.indexOf(CloseTag, payloadStart)
      if (end >= 0) out += html.substring(payloadStart, end)
    }
    out.result()
  }

  private val ScopeP = java.util.regex.Pattern.compile(
    "<[a-zA-Z0-9]+\\b[^>]*\\bitemscope\\b[^>]*\\bitemtype\\s*=\\s*\"([^\"]+)\"[^>]*>")
  private val PropP = java.util.regex.Pattern.compile(
    "<[a-zA-Z0-9]+\\b[^>]*\\bitemprop\\s*=\\s*\"([^\"]+)\"[^>]*>([^<]*)<")

  /** Minimal microdata harvest (itemscope/itemtype/itemprop on a single
    * element level) → JSON-LD object per top-level itemscope. */
  def microdataBlocks(html: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    val sm = ScopeP.matcher(html)
    while (sm.find()) {
      val itemtype = sm.group(1)
      val rest = html.substring(sm.end())
      val limit = {
        val nextScope = rest.indexOf("itemscope")
        if (nextScope >= 0) rest.substring(0, nextScope) else rest
      }
      val pm = PropP.matcher(limit)
      val props = new ArrayBuffer[(String, String)]
      while (pm.find()) props += ((pm.group(1), pm.group(2)))
      val sb = new java.lang.StringBuilder
      sb.append("{\"@type\":\"").append(itemtype).append("\"")
      props.foreach { case (k, v) =>
        sb.append(",")
        val ksb = new java.lang.StringBuilder; graft.jsonld.Json.writeString(k, ksb)
        val vsb = new java.lang.StringBuilder; graft.jsonld.Json.writeString(v, vsb)
        sb.append(ksb).append(":").append(vsb)
      }
      sb.append("}")
      out += sb.toString
    }
    out.result()
  }

  /** One page's extracted documents: the script blocks, then the
    * microdata blocks, with `block_idx` counting across both. The one
    * extraction enumeration of the KG spine (TripleEmit's emit loop); a
    * change here changes every emitter together. */
  def docs(page: Page): Iterator[ExtractedDoc] = {
    val html = new String(page.html, java.nio.charset.StandardCharsets.UTF_8)
    val blocks = scriptBlocksTolerant(html)
    val micro = microdataBlocks(html)
    blocks.iterator.zipWithIndex.map { case (p, i) =>
      ExtractedDoc(page.url, i, p, "jsonld")
    } ++ micro.iterator.zipWithIndex.map { case (p, i) =>
      ExtractedDoc(page.url, blocks.size + i, p, "microdata")
    }
  }

  /** `<a href="...">text</a>` anchors, in document order. Same
    * byte-exactness discipline as the script blocks: the canonical
    * double-quoted form is matched verbatim (the synthetic corpus always
    * emits it); href and anchor text are the exact substrings. Anchors
    * with nested markup in the text are skipped (the `[^<]*` text class),
    * matching what a conservative crawl extractor keeps. */
  private val AnchorP = java.util.regex.Pattern.compile(
    "<a href=\"([^\"]*)\">([^<]*)</a>")

  def anchorLinks(html: String): Vector[(String, String)] = {
    val out = Vector.newBuilder[(String, String)]
    val m = AnchorP.matcher(html)
    while (m.find()) out += ((m.group(1), m.group(2)))
    out.result()
  }

  /** Dataset-level link extraction: one narrow flatMap over [url, html] —
    * the crawl link graph with anchor text, no shuffle (aggregation is
    * the consumer's job). */
  def links(pages: Dataset[Page]): Dataset[PageLink] = {
    import pages.sparkSession.implicits._
    pages.flatMap { page =>
      val html = new String(page.html, java.nio.charset.StandardCharsets.UTF_8)
      anchorLinks(html).map { case (href, text) => PageLink(page.url, href, text) }
    }
  }
}
