package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import graft.pipeline.{Lineage, Page, PageGen}
import graft.pipeline.PageGen.mix64

/** Seeded input generators. Every row is a pure function of (seed, row
  * index), so the same seed always yields byte-identical tables and the
  * generators run inside `spark.range(n).map(...)` as well as on plain
  * threads (the no-Spark reference).
  *
  * Planted failures: page `i` with `i % PlantEvery == PlantOffset` carries
  * exactly one malformed JSON-LD block (its first), cycling through the
  * three kinds in [[MalformedCodes]]. That is one malformed block per 67
  * pages, ~1% of the JSON-LD blocks at 1.5 blocks per page, and an exact
  * count for any page range — so the expected quarantine is known without
  * running the engine.
  *
  * Excluded on purpose: stack-exhausting nesting (a block thousands of
  * levels deep). Such a block kills the task today; that is a robustness
  * defect with its own adversarial spec, not a throughput workload.
  * Moderate nesting (10 to 30 levels) is in the mix.
  */
object Corpus {

  val PlantEvery = 67L
  val PlantOffset = 13L

  /** Error code each planted kind must quarantine with, by kind index. */
  val MalformedCodes: Vector[String] =
    Vector("parse error", "invalid @id value", "loading remote context failed")

  /** The one remote context every spine_remote_c14n block references. */
  val RemoteContextUrl = "https://schema.example/context/v1.jsonld"
  /** Referenced only by planted blocks; resolvable by no loader. */
  val MissingContextUrl = "https://contexts.example/missing/v0.jsonld"

  def plantedKind(i: Long): Int =
    if (i % PlantEvery == PlantOffset) ((i / PlantEvery) % 3).toInt else -1

  private def unit(r: Long): Double = (r >>> 11).toDouble / (1L << 53).toDouble

  private def zipfHost(seed: Long, i: Long, salt: Long): String = {
    val rank = PageGen.zipfRank(unit(mix64(seed ^ (i * 0x2545F4914F6CDD1DL) ^ salt)), 1000)
    s"host-$rank.example"
  }

  /** Turns a valid block into planted kind `kind`. */
  private def malformed(kind: Int, valid: String, uid: String): String = kind match {
    case 0 => valid.substring(0, valid.length / 2) // truncated JSON
    case 1 => s"""{"@context":{"s":"http://schema.org/"},"@id":${uid.length},"s:name":"bad id $uid"}"""
    case _ => s"""{"@context":"$MissingContextUrl","@id":"https://bad.example/$uid","name":"x"}"""
  }

  private def microdata(r: Long, i: Long): String = {
    val sku = (r >>> 9) % 100000
    s"""<div itemscope itemtype="http://schema.org/Product"><span itemprop="name">Item $i</span><span itemprop="sku">$sku</span></div>"""
  }

  private def shell(url: String, blocks: Seq[String], micro: String, filler: String): String = {
    val sb = new java.lang.StringBuilder
    sb.append("<!DOCTYPE html><html><head><title>").append(url).append("</title>\n")
    blocks.foreach(b => sb.append("<script type=\"application/ld+json\">").append(b).append("</script>\n"))
    sb.append("</head><body><p>").append(filler).append("</p>\n")
    if (micro != null) sb.append(micro).append('\n')
    sb.append("</body></html>")
    sb.toString
  }

  private def page(url: String, r: Long, blocks: Seq[String], micro: String): Page = {
    val filler = s"synthetic page body text ${r & 0xFFFF} " * (((r >>> 40) % 4).toInt.abs + 1)
    Page(url, new Timestamp(1700000000000L + (r % 31536000000L).abs),
      shell(url, blocks, micro, filler).getBytes(UTF_8), filler, "en")
  }

  // ---- spine_inline -----------------------------------------------------

  /** Nested chain `depth` levels deep; each level carries its own position
    * so no two levels look alike to canonicalization. */
  private def chain(prop: String, depth: Int, tag: String): String = {
    val sb = new java.lang.StringBuilder
    var d = 0
    while (d < depth) {
      sb.append("{\"s:position\":").append(d).append(",\"s:name\":\"").append(tag).append(" level ").append(d).append('"')
      if (d + 1 < depth) sb.append(",\"").append(prop).append("\":")
      d += 1
    }
    d = 0
    while (d < depth) { sb.append('}'); d += 1 }
    sb.toString
  }

  /** Block `b` of inline page `i`: its own `@context`, distinct per
    * document (the doc-unique vocabulary prefix), over a duplicate-heavy
    * body (Zipf-host products with a small id space, recurring hubs). */
  def inlineBlock(seed: Long, i: Long, b: Int, host: String): String = {
    val r = mix64(seed ^ (i * 31 + b) ^ 0x1A1L)
    val uid = s"d${i}x$b"
    val extra = (0 until 4).filter(k => ((r >>> (50 + k)) & 1) == 1)
      .map(k => s""","k$k":"http://terms.example/v$k/k$k"""").mkString
    // the doc-unique prefix makes every context text distinct; the body
    // does not use it, so it adds no triple
    val ctx = s"""{"s":"http://schema.org/","$uid":"https://vocab.example/$uid#","name":"s:name","brand":{"@id":"s:brand","@type":"@id"}$extra}"""
    val pick = ((r >>> 8) % 100).toInt.abs
    if (pick < 50) {
      val n = ((r >>> 20) % 400).abs
      val pr = mix64(host.hashCode.toLong * 1000003L + n)
      val hub = PageGen.HubEntities((pr >>> 3).toInt.abs % PageGen.HubEntities.size)
      s"""{"@context":$ctx,"@id":"https://$host/product/$n","@type":"s:Product","name":"Product $n of $host","brand":"$hub","s:ratingValue":${(pr % 50).abs / 10.0}}"""
    } else if (pick < 85) {
      val h = ((r >>> 24) % PageGen.HubEntities.size).toInt.abs
      s"""{"@context":$ctx,"@id":"${PageGen.HubEntities(h)}","name":"${PageGen.HubSurfaces(h)}","s:parentOrganization":{"@id":"${PageGen.HubEntities((h + 1) % PageGen.HubEntities.size)}"}}"""
    } else if (pick < 97) {
      val a = (r >>> 28) % 5000
      s"""{"@context":$ctx,"@id":"https://$host/article/$i-$b","@type":"s:Article","s:author":{"name":"Author $a"},"s:keywords":{"@list":["t${a % 7}","t${a % 11}","t${a % 13}"]},"s:about":{"@id":"${PageGen.HubEntities((a % 8).toInt)}"}}"""
    } else {
      val depth = 10 + ((r >>> 36) % 21).toInt.abs
      s"""{"@context":$ctx,"@id":"https://$host/doc/$i-$b","s:hasPart":${chain("s:hasPart", depth, uid)}}"""
    }
  }

  def inlinePage(seed: Long, i: Long): Page = {
    val r = mix64(seed * 0x9E3779B97F4A7C15L + i)
    val host = zipfHost(seed, i, 0x11L)
    val url = s"https://$host/page/$i"
    val n = 1 + (r & 1).toInt // 1 or 2 blocks: 1.5 per page
    val blocks = (0 until n).map { b =>
      val v = inlineBlock(seed, i, b, host)
      val k = plantedKind(i)
      if (b == 0 && k >= 0) malformed(k, v, s"$i") else v
    }
    page(url, r, blocks, if ((r >>> 12) % 10 < 3) microdata(r, i) else null)
  }

  // ---- spine_remote_c14n -------------------------------------------------

  /** Term categories of the shared remote context. */
  private val Kinds = Vector("plain", "id", "int", "date", "list", "lang")

  /** 480 terms, 80 of each category. The category mix is fixed, not drawn
    * from the seed: list and language terms create blank nodes and
    * literals, so a seeded mix would change the work per document. */
  val RemoteTerms: Vector[(String, String)] =
    (0 until 480).toVector.map(k => (s"prop$k", Kinds(k % Kinds.size)))

  /** schema.org-shaped context: several hundred term definitions covering
    * plain, `@id`-coerced and typed terms and `@list` / `@language`
    * containers. */
  def remoteContext(seed: Long): String = {
    val defs = RemoteTerms.map { case (t, kind) =>
      val iri = s"http://schema.example/v${seed & 0xFFFF}/$t"
      kind match {
        case "plain" => s""""$t":"$iri""""
        case "id"    => s""""$t":{"@id":"$iri","@type":"@id"}"""
        case "int"   => s""""$t":{"@id":"$iri","@type":"xsd:integer"}"""
        case "date"  => s""""$t":{"@id":"$iri","@type":"xsd:dateTime"}"""
        case "list"  => s""""$t":{"@id":"$iri","@container":"@list"}"""
        case _       => s""""$t":{"@id":"$iri","@container":"@language"}"""
      }
    }
    s"""{"@context":{"xsd":"http://www.w3.org/2001/XMLSchema#","s":"http://schema.example/","name":"http://schema.example/name","position":{"@id":"http://schema.example/position","@type":"xsd:integer"},"hasPart":{"@id":"http://schema.example/hasPart"},${defs.mkString(",")}}}"""
  }

  def contextCache(seed: Long): Map[String, String] = Map(RemoteContextUrl -> remoteContext(seed))

  private def termValue(kind: String, t: String, uid: String, r: Long): String = kind match {
    case "plain" => s""""$t value ${r & 0xFFF}""""
    case "id"    => s""""https://ref.example/$uid/$t""""
    case "int"   => s""""${r & 0xFFFFF}""""
    case "date"  => s""""2026-0${(r & 7) + 1}-1${r & 7}T0${r & 7}:00:00Z""""
    case "list"  => s"""["$t a ${r & 0xF}","$t b ${(r >>> 4) & 0xF}","$t c"]"""
    case _       => s"""{"en":"$t ${r & 0xFF}","de":"$t-de ${r & 0xFF}"}"""
  }

  /** A node using `nTerms` terms of the shared context; nested nodes are
    * blank nodes, each with its own distinct name. */
  private def remoteNode(r0: Long, uid: String,
                         nTerms: Int, nested: Int): String = {
    val sb = new java.lang.StringBuilder
    var r = r0
    var k = 0
    while (k < nTerms) {
      r = mix64(r)
      val (t, kind) = RemoteTerms((r >>> 7).toInt.abs % RemoteTerms.size)
      sb.append(",\"").append(t).append("\":").append(termValue(kind, t, uid, r >>> 20))
      k += 1
    }
    var j = 0
    while (j < nested) {
      r = mix64(r)
      sb.append(",\"hasPart\":{\"name\":\"").append(uid).append(" part ").append(j).append('"')
        .append(remoteNode(r, s"$uid.$j", 3, 0)).append('}')
      j += 1
    }
    sb.toString
  }

  def remoteBlock(seed: Long, i: Long, b: Int, host: String): String = {
    val r = mix64(seed ^ (i * 37 + b) ^ 0x2B2L)
    val uid = s"$i-$b"
    val body = remoteNode(r, uid, 8 + (r & 7).toInt, 2 + ((r >>> 3) & 3).toInt)
    val deep =
      if ((r >>> 12) % 10 == 0) ",\"s:isPartOf\":" + chain("s:isPartOf", 10 + ((r >>> 16) % 21).toInt.abs, uid)
      else ""
    s"""{"@context":"$RemoteContextUrl","@id":"https://$host/item/$uid","@type":"s:Thing${r % 40}","name":"Item $uid"$body$deep}"""
  }

  def remotePage(seed: Long, i: Long): Page = {
    val r = mix64(seed * 0x9E3779B97F4A7C15L + i + 0x77L)
    val host = zipfHost(seed, i, 0x22L)
    val url = s"https://$host/page/$i"
    val n = 1 + (r & 1).toInt
    val blocks = (0 until n).map { b =>
      val v = remoteBlock(seed, i, b, host)
      val k = plantedKind(i)
      if (b == 0 && k >= 0) malformed(k, v, s"$i") else v
    }
    page(url, r, blocks, if ((r >>> 12) % 10 < 3) microdata(r, i) else null)
  }

  // ---- kg_resume ---------------------------------------------------------

  /** Host buckets whose pages change between the cold build and the
    * resume: `n` of the 64 lineage buckets, drawn by the seed from the
    * buckets that hold none of the ten hottest hosts (so the pending
    * share does not swing with whether the seed picked the Zipf head). */
  def changedBuckets(seed: Long, n: Int = 8): Set[String] = {
    val hot = (0 until 10).map(k => Lineage.hostBucket(s"https://host-$k.example/")).toSet
    val pool = (0 until 64).map(k => s"hb$k").filterNot(hot).toArray
    var s = seed
    for (k <- pool.indices.reverse) {
      s = mix64(s)
      val j = (java.lang.Long.remainderUnsigned(s, k + 1L)).toInt
      val t = pool(k); pool(k) = pool(j); pool(j) = t
    }
    pool.take(n).toSet
  }

  /** PageGen-shaped page (its payloads, links and few shared inline
    * contexts) with the planted malformed block. `version` 2 rewrites
    * every page in a changed bucket: a new url (the lineage fingerprint
    * hashes urls) and new payloads. */
  def kgPage(seed: Long, i: Long, version: Int, changed: Set[String]): Page = {
    val r = mix64(seed + i)
    val host = PageGen.hostFor(seed, i, 1000)
    val base = s"https://$host/page/$i"
    val bump = version == 2 && changed(Lineage.hostBucket(base))
    val url = if (bump) base + "/v2" else base
    val ps = if (bump) seed + 1 else seed
    val k = plantedKind(i)
    val n = math.max(if (k >= 0) 1 else 0, ((r >>> 4) % 4).toInt.abs)
    val payloads = (0 until n).map { b =>
      val v = PageGen.payload(ps, i, b)
      if (b == 0 && k >= 0) malformed(k, v, s"$i") else v
    }
    val filler = s"synthetic page $i body text " * (((r >>> 40) % 5).toInt.abs + 1)
    val html = PageGen.htmlShell(url, payloads, filler, PageGen.linksFor(ps, i))
    Page(url, new Timestamp(1700000000000L + (r % 31536000000L).abs),
      html.getBytes(UTF_8), filler, "en")
  }

  // ---- query_text ---------------------------------------------------------

  private val Vocab = Vector("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val DocLangs = Vector("en", "en", "en", "en", "en", "en", "en", "en",
    "zh", "zh", "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")

  /** documents(doc_id, text, lang, source, n_chars): 10-100 tokens over a
    * 30-word vocabulary, ~5% of docs tagged with the rare token "dup",
    * one doc in 200 an exact copy of an earlier doc and one in 100 a
    * one-token edit of one (near-duplicates for the dedup operators). */
  def docText(seed: Long, id: Long): String = {
    val r = mix64(seed ^ (id * 0x632BE59BD9B4E019L))
    val sel = (r >>> 50) % 200
    if (id >= 10 && sel == 0) docText(seed, (r >>> 8) % id)
    else if (id >= 10 && sel < 3) {
      val src = docText(seed, (r >>> 8) % id)
      src + " " + Vocab(((r >>> 30) % Vocab.size).toInt.abs)
    } else {
      val n = 10 + ((r >>> 20) % 91).toInt.abs
      val sb = new java.lang.StringBuilder
      var z = r
      var k = 0
      while (k < n) {
        z = mix64(z)
        if (k > 0) sb.append(' ')
        sb.append(Vocab(((z >>> 33) % Vocab.size).toInt.abs))
        k += 1
      }
      if ((r >>> 40) % 20 == 0) sb.append(" dup")
      sb.toString
    }
  }

  def document(seed: Long, id: Long): (Long, String, String, String, Long) = {
    val text = docText(seed, id)
    val lang = DocLangs((mix64(seed + id) >>> 3).toInt.abs % DocLangs.size)
    (id, text, lang, s"src${id % 20}", text.length.toLong)
  }
}
