package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.jsonld._

/** Per-document JSON-LD → triples core, run inside one narrow flatMap
  * (SURVEY.md §3.2: the pipeline's spine —
  * pages.flatMap(extract).flatMap(toTriples)).
  *
  * Blank-node determinism across tasks: each document gets its own
  * JsonLdApi (fresh `_:b<N>` counter), and emitted bnode labels are
  * prefixed with a stable doc key (`_:d<hash64(url#idx)>.<label>`), so
  * a corpus-wide union never collides and re-running any subset of
  * partitions reproduces identical labels — no coordination, no
  * monotonically_increasing_id (SURVEY.md §4.3).
  */
object TripleEmit {

  /** 128-bit doc key: two independent 64-bit hashes of the full url (an
    * FNV-1a stream and a polynomial stream, one pass), each mixed with the
    * block index. Round 1 keyed on MurmurHash3's 32 bits of url entropy —
    * a bijective mix64 on top adds none — giving ~1 expected colliding
    * url pair per 100k urls and silently merged `_:b0` labels at scale
    * (ADVICE.md). Two independent 64-bit streams ≈ 128-bit collision
    * resistance. */
  def docKey(url: String, blockIdx: Int): String = {
    var h1 = 0xCBF29CE484222325L // FNV-1a
    var h2 = 0x6C62272E07BB0142L // independent polynomial stream
    var i = 0
    while (i < url.length) {
      val c = url.charAt(i).toLong
      h1 = (h1 ^ c) * 0x100000001B3L
      h2 = h2 * 0x5DEECE66DL + c
      i += 1
    }
    val k1 = graft.ops.TextHash.mix64(h1 ^ (blockIdx.toLong * 0x9E3779B97F4A7C15L))
    val k2 = graft.ops.TextHash.mix64(h2 + blockIdx)
    java.lang.Long.toUnsignedString(k1, 36) + "x" + java.lang.Long.toUnsignedString(k2, 36)
  }

  private[pipeline] def prefixBnode(value: String, key: String): String =
    if (value.startsWith("_:")) "_:d" + key + "." + value.substring(2) else value

  /** One extracted block → triples (+ optional canonicalized bnode names).
    * Errors return Left(quarantine) — a bad page must not kill the job.
    * `contextCache` (url -> raw JSON) resolves remote `@context`
    * references offline (ContextCache — the S1 stand-in; a remote context
    * many documents share is processed once per thread); when empty,
    * any remote context quarantines the document. */
  def docToTriples(doc: ExtractedDoc, normalizeBNodes: Boolean,
                   baseUri: String,
                   contextCache: Map[String, String] = Map.empty): Either[QuarantineRow, Vector[Triple]] = {
    try {
      val parsed = Json.parse(doc.payload)
      val opts = JsonLdOptions(base = if (baseUri != null) baseUri else doc.url)
      if (contextCache.nonEmpty) opts.documentLoader = ContextCache.loader(contextCache)
      val expanded = JsonLdProcessor.expand(parsed, opts)
      val api = new JsonLdApi(expanded, opts)
      val dataset: RdfDataset =
        if (normalizeBNodes) api.normalize(api.toRDF()).toOption.get
        else api.toRDF()
      val key = docKey(doc.url, doc.block_idx)
      val out = Vector.newBuilder[Triple]
      dataset.graphNames.foreach { graphName =>
        val g =
          if (graphName == "@default") "@default"
          else prefixBnode(graphName, key)
        dataset.getQuads(graphName).foreach { q =>
          val okind: Byte =
            if (q.obj.isIRI) 0 else if (q.obj.isBlankNode) 1 else 2
          out += Triple(
            subj = prefixBnode(q.subject.value, key),
            pred = prefixBnode(q.predicate.value, key),
            objKind = okind,
            objValue = if (okind == 1) prefixBnode(q.obj.value, key) else q.obj.value,
            objDatatype = if (okind == 2) q.obj.datatype else null,
            objLang = if (okind == 2) q.obj.language else null,
            graph = g)
        }
      }
      Right(out.result())
    } catch {
      case e: JsonLdError =>
        Left(QuarantineRow(doc.url, doc.block_idx, e.errorType.text, e.detail))
      case e: Exception =>
        Left(QuarantineRow(doc.url, doc.block_idx, "internal error",
          s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
  }

  /** The distributed spine. Quarantined documents are dropped here
    * without being counted; callers wanting the rows use `quarantine`. */
  def triples(docs: Dataset[ExtractedDoc], normalizeBNodes: Boolean = false,
              contextCache: Map[String, String] = Map.empty): Dataset[Triple] = {
    import docs.sparkSession.implicits._
    docs.flatMap { doc =>
      docToTriples(doc, normalizeBNodes, null, contextCache) match {
        case Right(ts) => ts
        case Left(_)   => Vector.empty[Triple]
      }
    }
  }

  def quarantine(docs: Dataset[ExtractedDoc],
                 contextCache: Map[String, String] = Map.empty): Dataset[QuarantineRow] = {
    import docs.sparkSession.implicits._
    docs.flatMap { doc =>
      docToTriples(doc, normalizeBNodes = false, null, contextCache) match {
        case Left(q) => Some(q)
        case _       => None
      }
    }
  }

  /** Corpus-level dedup: map-side partial aggregation via dropDuplicates
    * (hash-aggregate with partial combine — the only shuffle in the
    * extract→triples path). */
  def dedup(ts: Dataset[Triple]): Dataset[Triple] =
    ts.dropDuplicates("subj", "pred", "objKind", "objValue", "objDatatype", "objLang", "graph")

  /** End-to-end: pages → extracted docs → deduplicated triples.
    *
    * Extraction and triple emission are fused into ONE typed flatMap so a
    * page is decoded from Tungsten format exactly once — chaining separate
    * typed transforms would pay an encoder round-trip (serialize +
    * deserialize of the ~2KB html rows) at every boundary. The only
    * shuffle left is the dedup hash-aggregate. */
  def pipeline(pages: Dataset[Page], normalizeBNodes: Boolean = false,
               contextCache: Map[String, String] = Map.empty): Dataset[Triple] =
    dedup(triplesFused(pages, normalizeBNodes, contextCache))

  /** One page's extracted documents — THE extraction enumeration (block
    * order, indexing, microdata offset) shared by every emit variant;
    * a change here changes all of them together (review r5: three
    * verbatim copies risked silent divergence). */
  private def pageDocs(page: Page): Iterator[ExtractedDoc] = {
    val html = new String(page.html, java.nio.charset.StandardCharsets.UTF_8)
    val blocks = Extract.scriptBlocksTolerant(html)
    val micro = Extract.microdataBlocks(html)
    blocks.iterator.zipWithIndex.map { case (p, i) =>
      ExtractedDoc(page.url, i, p, "jsonld")
    } ++ micro.iterator.zipWithIndex.map { case (p, i) =>
      ExtractedDoc(page.url, blocks.size + i, p, "microdata")
    }
  }

  /** The fused narrow stage without the dedup shuffle. */
  def triplesFused(pages: Dataset[Page], normalizeBNodes: Boolean = false,
                   contextCache: Map[String, String] = Map.empty): Dataset[Triple] = {
    import pages.sparkSession.implicits._
    pages.flatMap { page =>
      pageDocs(page).flatMap { doc =>
        docToTriples(doc, normalizeBNodes, null, contextCache) match {
          case Right(t) => t
          case Left(_)  => Vector.empty[Triple]
        }
      }
    }
  }

  /** The fused narrow stage with each emitted triple carrying its source
    * url — the provenance emission. Same single-decode extraction as
    * [[triplesFused]], one extra string column, still zero shuffles;
    * the per-triple source table this produces is what
    * [[provenance]] aggregates (and at production scale the artifact
    * you'd persist bucketed by subj next to the deduplicated triples). */
  def triplesWithSource(pages: Dataset[Page],
      contextCache: Map[String, String] = Map.empty): org.apache.spark.sql.DataFrame = {
    import pages.sparkSession.implicits._
    pages.flatMap { page =>
      pageDocs(page).flatMap { doc =>
        docToTriples(doc, normalizeBNodes = false, null, contextCache) match {
          case Right(ts) => ts.map(t => (page.url, t.subj, t.pred, t.objKind,
            t.objValue, t.objDatatype, t.objLang, t.graph))
          case Left(_) => Vector.empty
        }
      }
    }.toDF("url", "subj", "pred", "objKind", "objValue",
      "objDatatype", "objLang", "graph")
  }

  /** Per-triple provenance: how many distinct pages assert each
    * deduplicated triple, and the deterministic first source (min url).
    * The answer to "where did this fact come from" — the triple-level
    * completion of the partition-level lineage the resumable job keeps.
    *
    * Scale shape: one aggregation keyed by the 7 triple columns; the
    * distinct-url count is Spark's standard two-phase distinct agg,
    * partial map-side. */
  def provenance(withSource: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    withSource
      .groupBy(col("subj"), col("pred"), col("objKind"), col("objValue"),
        col("objDatatype"), col("objLang"), col("graph"))
      .agg(countDistinct(col("url")).as("n_sources"),
        min(col("url")).as("first_url"))
  }

  /** Single-pass keyed emit for the resumable job: the same fused narrow
    * stage, but every output row carries the page's lineage partition key
    * and quarantine rows ride along as kind=1 instead of being recomputed
    * in a second full pass (VERDICT.md #7 / round-1 KgRun). */
  def emitKeyed(pages: Dataset[Page], normalizeBNodes: Boolean = false,
                contextCache: Map[String, String] = Map.empty): Dataset[EmitRow] = {
    import pages.sparkSession.implicits._
    pages.flatMap { page =>
      val key = Lineage.hostBucket(page.url)
      pageDocs(page).flatMap { doc =>
        docToTriples(doc, normalizeBNodes, null, contextCache) match {
          case Right(ts) => ts.map(t => EmitRow(key, 0, t.subj, t.pred, t.objKind,
            t.objValue, t.objDatatype, t.objLang, t.graph, null, -1, null, null))
          case Left(q) => Vector(EmitRow(key, 1, null, null, 0, null, null, null, null,
            q.url, q.block_idx, q.errorCode, q.errorDetail))
        }
      }
    }
  }
}
