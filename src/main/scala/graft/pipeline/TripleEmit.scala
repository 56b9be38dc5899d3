package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
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
  *
  * One emit loop (the private `emit`) runs extraction and `docToTriples`
  * for every public entry; each entry only chooses its rows:
  *  - [[pipeline]]: deduplicated `Triple`s, quarantined documents dropped;
  *  - [[triplesWithSource]]: every triple with its page url (8 columns),
  *    quarantined documents dropped;
  *  - [[emitKeyed]]: `EmitRow`s tagged with the page's lineage key, one
  *    per triple (kind 0) and one per quarantined document (kind 1),
  *    split by [[keyedTriples]] and [[keyedQuarantine]].
  */
object TripleEmit {

  /** Quarantine error code of a document whose processing exhausted the
    * thread stack (deep nesting; the parser and the JSON-LD passes are
    * recursive and have no depth budget). */
  val StackOverflowCode = "stack overflow"

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
    * any remote context quarantines the document. This is the spine's one
    * per-document failure boundary: any `Exception`, and stack exhaustion
    * ([[StackOverflowCode]]), becomes a quarantine row; nothing broader
    * is caught. */
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
      case _: StackOverflowError =>
        Left(QuarantineRow(doc.url, doc.block_idx, StackOverflowCode,
          "the document's nesting exhausted the thread stack"))
    }
  }

  /** Corpus-level dedup: map-side partial aggregation via dropDuplicates
    * (hash-aggregate with partial combine — the only shuffle in the
    * extract→triples path). */
  def dedup(ts: Dataset[Triple]): Dataset[Triple] =
    ts.dropDuplicates("subj", "pred", "objKind", "objValue", "objDatatype", "objLang", "graph")

  /** The emit loop: the ONE typed flatMap over pages behind every public
    * emitter. Each page's documents ([[Extract.docs]]) go through
    * [[docToTriples]] once; `rows(page)` is applied once per page and
    * turns each document's result into the caller's rows, so each caller
    * carries exactly its own row type and width (a typed flatMap's output
    * cannot be column-pruned by Catalyst, so no emitter pays for a wider
    * shared row). Extraction and triple emission stay fused in this one
    * stage so a page is decoded from Tungsten format exactly once —
    * chaining separate typed transforms would pay an encoder round-trip
    * of the ~2KB html rows at every boundary. */
  private def emit[R: Encoder](pages: Dataset[Page], normalizeBNodes: Boolean,
      contextCache: Map[String, String])(
      rows: Page => Either[QuarantineRow, Vector[Triple]] => IterableOnce[R]): Dataset[R] =
    pages.flatMap { page =>
      val toRows = rows(page)
      Extract.docs(page).flatMap(doc => toRows(docToTriples(doc, normalizeBNodes, null, contextCache)))
    }

  /** End-to-end: pages → deduplicated triples. Quarantined documents are
    * dropped without being counted ([[emitKeyed]] keeps them). The only
    * shuffle is the dedup hash-aggregate. */
  def pipeline(pages: Dataset[Page], normalizeBNodes: Boolean = false,
               contextCache: Map[String, String] = Map.empty): Dataset[Triple] = {
    import pages.sparkSession.implicits._
    dedup(emit(pages, normalizeBNodes, contextCache)(_ => _.getOrElse(Vector.empty)))
  }

  /** Every emitted triple with its source url, not deduplicated — the
    * provenance emission: one extra string column, zero shuffles; the
    * per-triple source table this produces is what [[provenance]]
    * aggregates (and at production scale the artifact you'd persist
    * bucketed by subj next to the deduplicated triples). Quarantined
    * documents are dropped. */
  def triplesWithSource(pages: Dataset[Page],
      contextCache: Map[String, String] = Map.empty): DataFrame = {
    import pages.sparkSession.implicits._
    emit(pages, normalizeBNodes = false, contextCache) { page =>
      _.fold(_ => Vector.empty, _.map(t => (page.url, t.subj, t.pred, t.objKind,
        t.objValue, t.objDatatype, t.objLang, t.graph)))
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
  def provenance(withSource: DataFrame): DataFrame =
    withSource
      .groupBy(col("subj"), col("pred"), col("objKind"), col("objValue"),
        col("objDatatype"), col("objLang"), col("graph"))
      .agg(countDistinct(col("url")).as("n_sources"),
        min(col("url")).as("first_url"))

  /** Single-pass keyed emit for the resumable job: every output row
    * carries the page's lineage partition key (computed once per page),
    * and quarantine rows ride along instead of being recomputed in a
    * second full pass (VERDICT.md #7 / round-1 KgRun). Not deduplicated;
    * [[keyedTriples]] and [[keyedQuarantine]] split the output. */
  def emitKeyed(pages: Dataset[Page], normalizeBNodes: Boolean = false,
                contextCache: Map[String, String] = Map.empty): Dataset[EmitRow] = {
    import pages.sparkSession.implicits._
    emit(pages, normalizeBNodes, contextCache) { page =>
      val key = Lineage.hostBucket(page.url)
      _.fold(q => Vector(EmitRow(key, 1, null, null, 0, null, null, null, null,
          q.url, q.block_idx, q.errorCode, q.errorDetail)),
        _.map(t => EmitRow(key, 0, t.subj, t.pred, t.objKind,
          t.objValue, t.objDatatype, t.objLang, t.graph, null, -1, null, null)))
    }
  }

  /** The triple rows of [[emitKeyed]]'s output (kind 0): the 7 triple
    * columns plus `partition_key`, deduplicated within the partition key
    * (keys are host-derived, so a page's triples always land in the same
    * partition; global cross-host dedup is a downstream compaction). */
  def keyedTriples(emitted: Dataset[_]): DataFrame =
    emitted.filter(col("kind") === 0)
      .select(col("subj"), col("pred"), col("objKind"), col("objValue"),
        col("objDatatype"), col("objLang"), col("graph"), col("partition_key"))
      .dropDuplicates()

  /** The quarantine rows of [[emitKeyed]]'s output (kind 1): `url`,
    * `block_idx`, `errorCode`, `errorDetail` and `partition_key`. */
  def keyedQuarantine(emitted: Dataset[_]): DataFrame =
    emitted.filter(col("kind") === 1)
      .select(col("url"), col("block_idx"), col("errorCode"), col("errorDetail"),
        col("partition_key"))
}
