package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.{col, count, lit, shiftrightunsigned, sum, xxhash64}
import org.apache.spark.unsafe.types.UTF8String
import graft.pipeline.{Extract, ExtractedDoc, Page, Triple, TripleEmit}

/** Order-insensitive content fingerprint of a row set: the row count and
  * the sums of the low and high halves of each row's Spark `xxhash64`
  * (seed 42, columns chained in order, nulls skipped). The halves keep
  * the sums exact in a 64-bit accumulator under ANSI overflow checks. */
final case class Fingerprint(rows: Long, lo: Long, hi: Long) {
  override def toString: String = s"$rows rows, hash $lo/$hi"
}

object Fingerprint {
  val TripleCols: Seq[String] =
    Seq("subj", "pred", "objKind", "objValue", "objDatatype", "objLang", "graph")

  /** The Spark aggregate whose single row equals [[of]] over the same rows. */
  def aggColumns(cols: Seq[String]): Seq[Column] = {
    val h = xxhash64(cols.map(col): _*)
    Seq(count(lit(1)), sum(h.bitwiseAND(0xFFFFFFFFL)), sum(shiftrightunsigned(h, 32)))
  }

  /** One Spark action: the fingerprint of `table` over `cols`. */
  def ofTable(table: Dataset[_], cols: Seq[String]): Fingerprint = {
    val a = aggColumns(cols)
    val r = table.agg(a.head, a.tail: _*).head()
    Fingerprint(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  private def str(s: String, seed: Long): Long =
    if (s == null) seed
    else { val u = UTF8String.fromString(s); XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, seed) }

  /** Spark's `xxhash64(prefix..., subj, pred, objKind, objValue,
    * objDatatype, objLang, graph)` computed without Spark. */
  def tripleHash(t: Triple, prefix: String = null, seed: Long = 42L): Long = {
    var h = str(prefix, seed)
    h = str(t.subj, h); h = str(t.pred, h)
    h = XXH64.hashInt(t.objKind.toInt, h)
    h = str(t.objValue, h); h = str(t.objDatatype, h); h = str(t.objLang, h)
    str(t.graph, h)
  }

  def of(hashes: Iterator[Long]): Fingerprint = {
    var n, lo, hi = 0L
    hashes.foreach { h => n += 1; lo += h & 0xFFFFFFFFL; hi += h >>> 32 }
    Fingerprint(n, lo, hi)
  }
}

/** What the no-Spark reference computed for one page table. */
final case class RefResult(
    jsonldDocs: Long, microDocs: Long,
    emitted: Long, distinct: Fingerprint,
    quarantine: Set[(String, Int, String)]) {
  def docs: Long = jsonldDocs + microDocs
}

/** The spine computed without Spark: extract, `TripleEmit.docToTriples`
  * and a concurrent set, on plain threads. */
object Reference {

  /** One page's documents, enumerated as the spine does: script blocks
    * first, then microdata blocks offset by the script count. */
  def pageDocs(page: Page): Vector[ExtractedDoc] = {
    val html = new String(page.html, UTF_8)
    val blocks = Extract.scriptBlocksTolerant(html)
    val micro = Extract.microdataBlocks(html)
    blocks.zipWithIndex.map { case (p, i) => ExtractedDoc(page.url, i, p, "jsonld") } ++
      micro.zipWithIndex.map { case (p, i) => ExtractedDoc(page.url, blocks.size + i, p, "microdata") }
  }

  /** Runs `body(i)` for i in [0, n) on `threads` threads. */
  def parallel(n: Long, threads: Int)(body: Long => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(threads)
    val next = new AtomicLong(0)
    val errors = new ConcurrentHashMap[Throwable, java.lang.Boolean]()
    try {
      (0 until threads).foreach { _ =>
        pool.submit(new Runnable {
          def run(): Unit = try {
            var i = next.getAndAdd(256)
            while (i < n) {
              var k = i
              while (k < math.min(n, i + 256)) { body(k); k += 1 }
              i = next.getAndAdd(256)
            }
          } catch { case e: Throwable => errors.put(e, true) }
        })
      }
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.HOURS)
    } finally pool.shutdownNow()
    errors.keySet.asScala.headOption.foreach(e => throw e)
  }

  /** `keyOf` keys each page's triples (the lineage bucket for the
    * resumable job; null for the global dedup of the spine). */
  def run(n: Long, threads: Int, page: Long => Page, normalize: Boolean,
          cache: Map[String, String], keyOf: String => String = _ => null): RefResult = {
    // distinct rows by a 128-bit key: Spark's 64-bit row hash plus a
    // second, independently seeded one (a collision of both is ~2^-128)
    val seen = ConcurrentHashMap.newKeySet[(Long, Long)]()
    val quarantine = ConcurrentHashMap.newKeySet[(String, Int, String)]()
    val jsonld, micro, emitted = new AtomicLong
    parallel(n, threads) { i =>
      val p = page(i)
      val key = keyOf(p.url)
      pageDocs(p).foreach { d =>
        (if (d.kind == "jsonld") jsonld else micro).incrementAndGet()
        TripleEmit.docToTriples(d, normalize, null, cache) match {
          case Right(ts) =>
            emitted.addAndGet(ts.size)
            ts.foreach(t => seen.add((Fingerprint.tripleHash(t, key), Fingerprint.tripleHash(t, key, 0x5EEDL))))
          case Left(q)   => quarantine.add((q.url, q.block_idx, q.errorCode))
        }
      }
    }
    RefResult(jsonld.get, micro.get, emitted.get,
      Fingerprint.of(seen.iterator.asScala.map(_._1)),
      quarantine.asScala.toSet)
  }

  /** The quarantine the generator planted: (url, block 0) -> kind. */
  def planted(n: Long, page: Long => Page): Map[(String, Int), Int] =
    (Corpus.PlantOffset until n by Corpus.PlantEvery).map { i =>
      (page(i).url, 0) -> Corpus.plantedKind(i)
    }.toMap

  /** Quarantined rows must be exactly the planted (url, block) set; an
    * invalid `@id` and an unresolvable remote context must carry their
    * JSON-LD error code. Truncated JSON is only required to quarantine:
    * `Json.parse` reports some truncations as "parse error" and others
    * (input ending right after ',' or ':') as an internal
    * StringIndexOutOfBoundsException, counted in the descriptors. */
  def checkQuarantine(r: Report, name: String, got: Set[(String, Int, String)],
                      planted: Map[(String, Int), Int]): Boolean = {
    val keys = got.map(g => (g._1, g._2))
    val rows = r.check(s"$name.rows_equal_planted", keys == planted.keySet && keys.size == got.size,
      s"${got.size} quarantined vs ${planted.size} planted; unexpected " +
        s"${(keys -- planted.keySet).take(3)}, missing ${(planted.keySet -- keys).take(3)}")
    val wrong = got.filter { case (u, b, code) =>
      planted.get((u, b)).exists(k => k > 0 && code != Corpus.MalformedCodes(k))
    }
    val codes = r.check(s"$name.codes", wrong.isEmpty, s"wrong code on ${wrong.take(3)}")
    r.descriptors(s"$name.by_code") =
      got.toSeq.groupBy(_._3).map { case (c, xs) => c -> xs.size }
    rows && codes
  }
}
