package graft.pipeline

import java.sql.Timestamp

/** Input corpus row per BASELINE.json `input_hint`:
  * pages(url, warc_ts, html binary, text, lang). */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** One embedded JSON-LD block, extracted byte-exact from a page.
  * `block_idx` is the 0-based occurrence index within the page;
  * `payload` must be byte-identical to the bytes between the script tags
  * (north-rule per-row invariant). */
final case class ExtractedDoc(
    url: String,
    block_idx: Int,
    payload: String,
    kind: String) // "jsonld" | "microdata"

/** One `<a href>` hyperlink extracted from a page: the crawl's link
  * graph edge with its anchor text — the surface-form signal anchor-text
  * consensus and host-graph construction consume. */
final case class PageLink(
    src_url: String,
    href: String,
    anchor: String)

/** The pipeline's terminal record (SURVEY.md §1.4): tagged-union RDF node
  * flattened into (kind, value, datatype, lang) columns for cheap
  * dropDuplicates/joins at 100 TB scale.
  * objKind: 0 = IRI, 1 = blank node, 2 = literal. */
final case class Triple(
    subj: String,
    pred: String,
    objKind: Byte,
    objValue: String,
    objDatatype: String,
    objLang: String,
    graph: String)

/** A document that failed extraction/expansion — never kills the job;
  * routed to a quarantine table (SURVEY.md §2.3 U13). */
final case class QuarantineRow(
    url: String,
    block_idx: Int,
    errorCode: String,
    errorDetail: String)

/** One fused-pipeline output row: either a triple (kind=0, quarantine
  * fields null) or a quarantine record (kind=1, triple fields null), both
  * tagged with the page's lineage partition key — so ONE pass over the
  * corpus feeds both sinks (round 1 re-ran extract+expand a second time
  * just to collect quarantine rows; at 100 TB that doubles the job).
  * `TripleEmit.keyedTriples`/`keyedQuarantine` split it by kind. */
final case class EmitRow(
    partition_key: String,
    kind: Byte, // 0 = triple, 1 = quarantine
    subj: String,
    pred: String,
    objKind: Byte,
    objValue: String,
    objDatatype: String,
    objLang: String,
    graph: String,
    url: String,
    block_idx: Int,
    errorCode: String,
    errorDetail: String)

/** Per-partition lineage manifest row for write-audit-publish resume
  * (SURVEY.md §4.3). */
final case class LineageRow(
    partition_key: String,
    input_fingerprint: Long,
    triple_count: Long,
    status: String,
    updated_at: Timestamp)

/** Shared RDF vocabulary constants (one definition — framing, validation,
  * and inference all filter on these; two drifting copies of a
  * load-bearing IRI would silently match nothing). */
object Rdf {
  val Type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
}
