package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}
import java.sql.Timestamp

/** Deterministic synthetic Common-Crawl-style page table (FIXTURES.md §4).
  *
  * Fully splittable: row i's content is a pure function of (seed, i), so
  * generation is `spark.range(n).map(...)` — no driver-side data, no
  * coordination, scales to any row count (the same construction works at
  * 10^12 rows on a real cluster).
  *
  * Skew knobs: Zipf(1.1) host distribution (hot hosts concentrate
  * partitions) and a hub-entity dictionary whose top IRIs appear in a
  * large fraction of docs (exercises the broadcast + salting paths).
  */
object PageGen {

  val HubEntities: Vector[String] = Vector(
    "https://hub.example/entity/acme-corp",
    "https://hub.example/entity/globex",
    "https://hub.example/entity/initech",
    "https://hub.example/entity/umbrella",
    "https://hub.example/entity/stark-industries",
    "https://hub.example/entity/wayne-enterprises",
    "https://hub.example/entity/tyrell",
    "https://hub.example/entity/cyberdyne")

  /** Canonical surface forms of the hub entities, emitted as `s:name`
    * literals by a subset of pages (kind-3 events name their performer)
    * so mention-detect + entity-link has real surface-form mentions to
    * resolve — round 1's corpus only referenced hubs as IRIs, so entity
    * linking provably linked nothing (VERDICT.md #3). Index-aligned with
    * [[HubEntities]]. */
  val HubSurfaces: Vector[String] = Vector(
    "Acme Corp", "Globex", "Initech", "Umbrella",
    "Stark Industries", "Wayne Enterprises", "Tyrell", "Cyberdyne")

  private val Langs = Vector("en", "de", "fr", "es", "pt", "it", "nl", "ja")

  /** SplitMix64 — deterministic per-row RNG stream ([[graft.ops.TextHash.mix64]]). */
  @inline def mix64(z0: Long): Long = graft.ops.TextHash.mix64(z0)

  /** Approximate Zipf(s≈1.1) rank over `n` hosts via inverse-CDF on a
    * uniform draw; rank 0 is the hottest host. */
  def zipfRank(u: Double, n: Int): Int = {
    val x = math.pow(u, 3.0) // heavy head: ~P(rank < k) grows fast
    math.min(n - 1, (x * n).toInt)
  }

  def hostFor(seed: Long, i: Long, nHosts: Int): String = {
    val u = (mix64(seed ^ i) >>> 11).toDouble / (1L << 53).toDouble
    s"host-${zipfRank(u, nHosts)}.example"
  }

  /** The JSON-LD payload for block `b` of row `i` — synthetic schema.org
    * style documents cycling through the structural patterns the engine
    * must handle (CURIE contexts, typed values, language tags, lists,
    * blank nodes, reverse properties, named graphs). */
  def payload(seed: Long, i: Long, b: Int): String = {
    val r = mix64(seed ^ (i * 31 + b))
    val hubIdx = ((r >>> 8) % HubEntities.size).toInt.abs
    val hub = HubEntities(hubIdx)
    val kind = ((r >>> 16) % 6).toInt.abs
    val lang = Langs(((r >>> 24) % Langs.size).toInt.abs)
    val n = (r >>> 32) & 0xFFFF
    kind match {
      case 0 =>
        s"""{"@context":{"s":"http://schema.org/"},"@id":"https://${hostFor(seed, i, 1000)}/product/$n","@type":"s:Product","s:name":"Product $n","s:brand":{"@id":"$hub"},"s:ratingValue":${(n % 50).toDouble / 10.0},"s:reviewCount":${n % 997}}"""
      case 1 =>
        s"""{"@context":{"name":"http://schema.org/name","knows":{"@id":"http://xmlns.com/foaf/0.1/knows","@type":"@id"}},"@id":"https://people.example/p$n","name":{"@value":"Person $n","@language":"$lang"},"knows":["https://people.example/p${n + 1}","$hub"]}"""
      case 2 =>
        s"""{"@context":{"s":"http://schema.org/","tags":{"@id":"s:keywords","@container":"@list"}},"@id":"https://${hostFor(seed, i, 1000)}/article/$n","@type":"s:Article","s:author":{"s:name":"Anon $n"},"tags":["t${n % 7}","t${n % 11}","t${n % 13}"]}"""
      case 3 =>
        // the @graph also DESCRIBES the hub (name + a parentOrganization
        // edge to the next hub), so hubs are subjects with outgoing
        // triples: Event -> location hub -> parent hub gives corpus
        // framing real depth >= 2 chains (VERDICT r3 #3 needed a
        // non-vacuous q_kg_frame_d2)
        s"""{"@context":{"s":"http://schema.org/"},"@graph":[{"@id":"https://events.example/e$n","@type":"s:Event","s:location":{"@id":"$hub"},"s:performer":{"s:name":"${HubSurfaces(hubIdx)}"},"s:startDate":{"@value":"2026-0${(n % 9) + 1}-01T00:00:00Z","@type":"http://www.w3.org/2001/XMLSchema#dateTime"}},{"@id":"$hub","s:name":"${HubSurfaces(hubIdx)}","s:parentOrganization":{"@id":"${HubEntities((hubIdx + 1) % HubEntities.size)}"}}]}"""
      case 4 =>
        s"""{"@context":{"s":"http://schema.org/","parent":{"@reverse":"s:children"}},"@id":"https://people.example/c$n","s:name":"Child $n","parent":{"@id":"https://people.example/p${n % 500}"}}"""
      case _ =>
        s"""{"@context":{"s":"http://schema.org/"},"@id":"https://${hostFor(seed, i, 1000)}/org/$n","@type":"s:Organization","s:name":"Org $n","s:member":[{"s:name":"M${n % 3}"},{"s:name":"M${(n % 3) + 1}"}],"s:sameAs":{"@id":"$hub"}}"""
    }
  }

  /** Deterministic outlinks for row `i`: 0..3 anchors per page. ~1/8 of
    * links point at a hub ENTITY with its canonical surface as anchor
    * text (the anchor-text-consensus naming signal crawl pipelines mine);
    * the rest point at Zipf-hot page urls, so link targets are skewed
    * like real in-link distributions. Pure function of (seed, i) —
    * splittable and re-derivable like everything else in the corpus. */
  def linksFor(seed: Long, i: Long): Vector[(String, String)] = {
    val r = mix64(seed ^ (i * 131 + 7))
    val nLinks = ((r >>> 6) % 4).toInt.abs // 0..3 links per page
    (0 until nLinks).map { l =>
      val rl = mix64(r + l * 1013L)
      if ((rl & 7) == 0) {
        val h = ((rl >>> 8) % HubEntities.size).toInt.abs
        (HubEntities(h), HubSurfaces(h))
      } else {
        val u = (rl >>> 11).toDouble / (1L << 53).toDouble
        val host = s"host-${zipfRank(u, 1000)}.example"
        val slot = ((rl >>> 24) % 50000).toInt.abs
        (s"https://$host/page/$slot", s"page $slot on $host")
      }
    }.toVector
  }

  def htmlShell(url: String, payloads: Seq[String], filler: String,
      links: Seq[(String, String)] = Nil): String = {
    val blocks = payloads
      .map(p => s"""<script type="application/ld+json">$p</script>""")
      .mkString("\n")
    val anchors = links
      .map { case (href, text) => s"""<a href="$href">$text</a>""" }
      .mkString("\n")
    s"""<!DOCTYPE html><html><head><title>$url</title>
$blocks
</head><body><p>$filler</p>
$anchors
</body></html>"""
  }

  def pageAt(seed: Long, i: Long): Page = {
    val r = mix64(seed + i)
    val host = hostFor(seed, i, 1000)
    val url = s"https://$host/page/$i"
    val nBlocks = (((r >>> 4) % 4) + 0).toInt.abs // 0..3 blocks per page
    val payloads = (0 until nBlocks).map(b => payload(seed, i, b))
    val filler = s"synthetic page $i body text " * (((r >>> 40) % 5).toInt.abs + 1)
    val html = htmlShell(url, payloads, filler, linksFor(seed, i))
    val ts = new Timestamp(1700000000000L + (r % 31536000000L).abs)
    Page(url, ts, html.getBytes(java.nio.charset.StandardCharsets.UTF_8), filler,
      Langs((r % Langs.size).toInt.abs))
  }

  /** Distributed generation: narrow map over spark.range — zero shuffle,
    * arbitrarily parallel. */
  def pages(spark: SparkSession, n: Long, seed: Long = 42L,
            partitions: Int = 0): Dataset[Page] = {
    import spark.implicits._
    val base = if (partitions > 0) spark.range(0, n, 1, partitions) else spark.range(0, n)
    base.map(i => pageAt(seed, i))
  }
}
