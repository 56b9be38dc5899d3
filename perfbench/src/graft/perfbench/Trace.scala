package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.{CollectionAccumulator, LongAccumulator}
import graft.jsonld._
import graft.pipeline.{Page, QuarantineRow, Triple, TripleEmit}

/** Spark-layer counters for one window of actions, fed by a listener the
  * benchmark registers itself. */
final class SparkStats extends SparkListener {
  private var jobs, stages, tasks, runMs, cpuNs, gcMs = 0L
  private var shWrite, shRecords, shRead, fetchMs, spill = 0L
  private val durations = mutable.ArrayBuffer.empty[Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    tasks += 1
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      durations += m.executorRunTime
      shWrite += m.shuffleWriteMetrics.bytesWritten
      shRecords += m.shuffleWriteMetrics.recordsWritten
      shRead += m.shuffleReadMetrics.totalBytesRead
      fetchMs += m.shuffleReadMetrics.fetchWaitTime
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Starts a window: counters reset, listener registered. */
  def start(spark: SparkSession): Unit = {
    org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
    synchronized { reset() }
    spark.sparkContext.addSparkListener(this)
  }

  private def reset(): Unit = {
    jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0
    shWrite = 0; shRecords = 0; shRead = 0; fetchMs = 0; spill = 0
    durations.clear()
  }

  /** Ends the window started by [[start]] (listener removed), for
    * `wallS` seconds on `cores` task slots. */
  def stop(spark: SparkSession, cores: Int, wallS: Double): Map[String, Double] = {
    org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    synchronized {
      val d = durations.sorted
      def q(p: Double) = if (d.isEmpty) 0.0 else d(math.min(d.size - 1, (p * d.size).toInt)) / 1e3
      val out = Map(
        "spark.jobs" -> jobs.toDouble, "spark.stages" -> stages.toDouble,
        "spark.tasks" -> tasks.toDouble, "spark.task_run_s" -> runMs / 1e3,
        "spark.task_cpu_s" -> cpuNs / 1e9, "spark.gc_s" -> gcMs / 1e3,
        "spark.task_p50_s" -> q(0.5), "spark.task_max_s" -> (if (d.isEmpty) 0.0 else d.last / 1e3),
        "spark.shuffle_write_bytes" -> shWrite.toDouble, "spark.shuffle_records" -> shRecords.toDouble,
        "spark.shuffle_read_bytes" -> shRead.toDouble, "spark.fetch_wait_s" -> fetchMs / 1e3,
        "spark.spill_bytes" -> spill.toDouble,
        "spark.idle_core_s" -> (cores * wallS - runMs / 1e3))
      reset()
      out
    }
  }
}

/** Per-document layer counters, summed over a Spark action through
  * accumulators (each timed call runs on one task thread, so its
  * nanoTime span is that thread's wall time in the layer). */
final class LayerAccs(@transient spark: SparkSession, names: Seq[String]) extends Serializable {
  private val accs: Map[String, LongAccumulator] =
    names.map(n => n -> spark.sparkContext.longAccumulator(n)).toMap
  val codes: CollectionAccumulator[String] =
    spark.sparkContext.collectionAccumulator[String]("quarantine codes")
  def apply(n: String): LongAccumulator = accs(n)
  def values: Map[String, Long] = accs.map { case (k, a) => k -> a.value.longValue }
}

/** The unit of a reported metric, from its name's suffix. */
object Units {
  def of(name: String): String =
    if (name.contains("us_per_")) "us"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes")) "bytes"
    else if (name.endsWith("share") || name.endsWith("ratio")) "ratio"
    else "count"
}

object Trace {

  /** The production spine (`TripleEmit.pipeline`) with the benchmark's
    * own fused flatMap: the same extraction enumeration and the same
    * `docToTriples` call, each timed, then the same dedup. Produces the
    * identical triple set. */
  def tracedSpine(pages: Dataset[Page], normalize: Boolean, cache: Map[String, String],
                  acc: LayerAccs): Dataset[Triple] = {
    import pages.sparkSession.implicits._
    val emitted = pages.flatMap { page =>
      val t0 = System.nanoTime()
      val docs = Reference.pageDocs(page)
      acc("extract_ns").add(System.nanoTime() - t0)
      acc("pages").add(1)
      docs.iterator.flatMap { d =>
        acc(if (d.kind == "jsonld") "jsonld_docs" else "micro_docs").add(1)
        val t1 = System.nanoTime()
        val r = TripleEmit.docToTriples(d, normalize, null, cache)
        acc("d2t_ns").add(System.nanoTime() - t1)
        r match {
          case Right(ts) => acc("emitted").add(ts.size); ts
          case Left(q)   => acc.codes.add(q.errorCode); Vector.empty[Triple]
        }
      }
    }
    TripleEmit.dedup(emitted)
  }

  val SpineAccs: Seq[String] =
    Seq("extract_ns", "pages", "jsonld_docs", "micro_docs", "d2t_ns", "emitted")

  val DecompAccs: Seq[String] = Seq("docs", "ok_docs", "parse_ns", "ctx_docs", "ctx_ns", "ctx_repeat",
    "expand_ns", "tordf_ns", "quads", "norm_ns", "d2t_ns", "triples", "bnodes")

  /** Layer decomposition over every document of `pages`: each public
    * layer call timed on its own (`Json.parse`, `JsonLdProcessor.expand`,
    * `JsonLdApi.toRDF`, `JsonLdApi.normalize`, and `Context.parse` of the
    * document's `@context` alone through the same loader), and the whole
    * `docToTriples` on the same document, so emit's own share is the
    * remainder. The whole call runs first on even documents and last on
    * odd ones, so warm-cache order effects cancel in the remainder.
    * Documents that fail (the planted ones) count in `docs` only. */
  def decompose(pages: Dataset[Page], normalize: Boolean, cache: Map[String, String],
                acc: LayerAccs): Unit = {
    pages.foreachPartition { (it: Iterator[Page]) =>
      val seenCtx = mutable.HashSet.empty[String]
      var k = 0L
      it.foreach { page =>
        Reference.pageDocs(page).foreach { d =>
          acc("docs").add(1)
          k += 1
          def opts() = {
            val o = JsonLdOptions(base = d.url)
            if (cache.nonEmpty) o.documentLoader = ContextCache.loader(cache)
            o
          }
          def whole(): (Either[QuarantineRow, Vector[Triple]], Long) = {
            val t = System.nanoTime()
            val r = TripleEmit.docToTriples(d, normalize, null, cache)
            (r, System.nanoTime() - t)
          }
          try {
            val first = if (k % 2 == 0) Some(whole()) else None
            var t = System.nanoTime()
            val parsed = Json.parse(d.payload)
            val parseNs = System.nanoTime() - t
            val ctx = parsed match {
              case o: JObj if o.containsKey("@context") => o("@context").deepClone()
              case _ => null
            }
            val o = opts()
            t = System.nanoTime()
            val expanded = JsonLdProcessor.expand(parsed, o)
            val expandNs = System.nanoTime() - t
            t = System.nanoTime()
            val api = new JsonLdApi(expanded, o)
            val ds = api.toRDF()
            val toRdfNs = System.nanoTime() - t
            var normNs = 0L
            if (normalize) {
              t = System.nanoTime()
              api.normalize(ds).toOption.get
              normNs = System.nanoTime() - t
            }
            var ctxNs = 0L
            if (ctx != null) {
              t = System.nanoTime()
              new Context(opts()).parse(ctx)
              ctxNs = System.nanoTime() - t
            }
            val (r, d2tNs) = first.getOrElse(whole())
            var quads = 0L
            val bnodes = mutable.HashSet.empty[String]
            ds.graphNames.foreach(g => ds.getQuads(g).foreach { q =>
              quads += 1
              if (q.subject.isBlankNode) bnodes += q.subject.value
              if (q.obj.isBlankNode) bnodes += q.obj.value
            })
            r.foreach { ts =>
              acc("ok_docs").add(1); acc("parse_ns").add(parseNs)
              if (ctx != null) {
                acc("ctx_docs").add(1); acc("ctx_ns").add(ctxNs)
                if (!seenCtx.add(Json.write(ctx))) acc("ctx_repeat").add(1)
              }
              acc("expand_ns").add(expandNs); acc("tordf_ns").add(toRdfNs)
              acc("quads").add(quads); acc("norm_ns").add(normNs)
              acc("d2t_ns").add(d2tNs); acc("triples").add(ts.size)
              acc("bnodes").add(bnodes.size)
            }
          } catch { case _: Exception => () }
        }
      }
    }
  }

  /** Per-layer metrics from a decomposition's counters. */
  def layerMetrics(v: Map[String, Long]): Map[String, Double] = {
    val ok = math.max(1L, v("ok_docs")).toDouble
    val us = (ns: Long) => ns / 1e3 / ok
    val parts = v("parse_ns") + v("expand_ns") + v("tordf_ns") + v("norm_ns")
    Map(
      "json.parse_us_per_doc" -> us(v("parse_ns")),
      "context.us_per_doc" -> v("ctx_ns") / 1e3 / math.max(1L, v("ctx_docs")),
      "context.repeat_share" -> v("ctx_repeat").toDouble / math.max(1L, v("ctx_docs")),
      "expand.us_per_doc" -> us(v("expand_ns")),
      "toRDF.us_per_doc" -> us(v("tordf_ns")),
      "toRDF.quads_per_doc" -> v("quads") / ok,
      "normalize.us_per_doc" -> us(v("norm_ns")),
      "emit.us_per_doc" -> us(v("d2t_ns") - parts),
      "emit.triples_per_doc" -> v("triples") / ok,
      "docs.bnodes_per_doc" -> v("bnodes") / ok)
  }
}
