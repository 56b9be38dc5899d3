package graft.perfbench

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.pipeline.{Page, Triple, TripleEmit}
import Main.{median, now, time}

/** spine_inline / spine_remote_c14n: pages table -> `TripleEmit.pipeline`
  * -> distinct triples -> count and content hash, one action per pass. */
object Spine {

  /** Pages per run at scale 1. */
  val InlinePages = 40000
  val RemotePages = 1500

  /** Untimed passes before the timed ones. */
  val WarmupPasses = 3

  def run(spark: SparkSession, o: Opts, cores: Int, stats: SparkStats, r: Report,
          normalize: Boolean): Unit = {
    import spark.implicits._
    val seed = o.seed
    val n = o.size(if (normalize) RemotePages else InlinePages)
    val cache = if (normalize) Corpus.contextCache(seed) else Map.empty[String, String]
    val gen: Long => Page =
      if (normalize) i => Corpus.remotePage(seed, i) else i => Corpus.inlinePage(seed, i)
    val path = s"${o.work}/pages"
    spark.range(0, n, 1, cores * 4).map(i => gen(i)).write.mode("overwrite").parquet(path)
    val pages = () => spark.read.parquet(path).as[Page]
    r.mark("inputs")

    def pass(traced: Boolean): (Fingerprint, Double, Option[LayerAccs]) = {
      val acc = if (traced) Some(new LayerAccs(spark, Trace.SpineAccs)) else None
      val (fp, wall) = time {
        val distinct: Dataset[Triple] = acc match {
          case Some(a) => Trace.tracedSpine(pages(), normalize, cache, a)
          case None    => TripleEmit.pipeline(pages(), normalize, cache)
        }
        val out = if (o.corrupt == "drop_triple") distinct.except(distinct.limit(1)) else distinct
        Fingerprint.ofTable(out, Fingerprint.TripleCols)
      }
      (fp, wall, acc)
    }

    // the no-Spark reference the passes are checked against. It also warms
    // the per-document code on every core, but it is the benchmark's own
    // work, not the program's, so its time is left out of setup_s. Then a
    // fixed number of untimed passes
    val (ref, refS) = time(Reference.run(n, cores, gen, normalize, cache))
    (1 to WarmupPasses).foreach(_ => pass(traced = false))
    r.metric("setup_s", Main.sinceStart() - refS, "s")
    r.mark("ready")

    // timed passes; a traced run alternates untraced and traced passes so
    // the tracing overhead is measured in the same window
    type Traced = (Fingerprint, Double, LayerAccs, Map[String, Double])
    var heap = 0.0
    val (plain, traced) = new Health(spark, cores).window(r) {
      val plain = collection.mutable.ArrayBuffer.empty[(Fingerprint, Double)]
      val traced = collection.mutable.ArrayBuffer.empty[Traced]
      val t0 = now()
      while (now() - t0 < o.seconds || plain.size < 3 || (o.trace && traced.size < 3)) {
        val (fp, wall, _) = pass(traced = false)
        plain += ((fp, wall))
        heap = math.max(heap, Main.liveHeapMb())
        if (o.trace) {
          stats.start(spark)
          val (tfp, twall, acc) = pass(traced = true)
          traced += ((tfp, twall, acc.get, stats.stop(spark, cores, twall)))
          Main.liveHeapMb()
        }
      }
      (plain.toSeq, traced.toSeq)
    }
    r.mark("timed")

    // correctness: every pass against the reference
    val planted = Reference.planted(n, gen)
    val fps = plain.map(_._1) ++ traced.map(_._1)
    fps.zipWithIndex.foreach { case (fp, k) =>
      r.check(s"pass$k.distinct_triples", fp == ref.distinct, s"spark $fp vs reference ${ref.distinct}")
    }
    r.check("traced_equals_untraced", fps.distinct.size == 1, fps.distinct.mkString("; "))
    Reference.checkQuarantine(r, "quarantine", ref.quarantine, planted)
    r.attempted = fps.size
    r.failed = fps.count(_ != ref.distinct)

    val wall = median(plain.map(_._2).toSeq)
    r.metric("pass_s", wall, "s")
    r.metric("heap_live_peak_mb", heap, "MB")
    r.metric("triples_per_s", ref.distinct.rows / wall, "1/s")
    r.metric("doc_fail_ratio", ref.quarantine.size.toDouble / ref.docs, "ratio")
    r.descriptors("pages") = n
    r.descriptors("passes") = plain.size
    r.descriptors("pass_walls_s") = plain.map(_._2).toSeq
    r.descriptors("distinct_triples") = ref.distinct.rows
    r.descriptors("docs") = ref.docs
    r.descriptors("blocks_per_page") = ref.jsonldDocs.toDouble / n
    r.descriptors("dedup.keep_ratio") = ref.distinct.rows.toDouble / ref.emitted
    r.descriptors("malformed_share") = planted.size.toDouble / ref.jsonldDocs
    r.descriptors("reference_s") = refS
    r.descriptors("output") = fps.head.toString

    if (o.trace) {
      val mid = traced.sortBy(_._2).apply(traced.size / 2)
      val (_, twall, acc, sp) = mid
      val v = acc.values
      val coreS = (v("extract_ns") + v("d2t_ns")) / 1e9
      sp.foreach { case (k, x) => r.layer(k, x, Units.of(k)) }
      r.layer("trace.overhead_ratio", median(traced.map(_._2).toSeq) / wall, "ratio")
      r.layer("extract.us_per_page", v("extract_ns") / 1e3 / v("pages"), "us")
      r.layer("extract.blocks_per_page", v("jsonld_docs").toDouble / v("pages"), "count")
      r.layer("core.cpu_s", coreS, "s")
      r.layer("core.share", coreS / (cores * twall), "ratio")
      r.layer("dedup.keep_ratio", ref.distinct.rows.toDouble / v("emitted"), "ratio")
      r.layer("pass.wall_s", twall, "s")
      import scala.jdk.CollectionConverters._
      acc.codes.value.asScala.groupBy(identity).foreach { case (c, xs) =>
        r.layer(s"quarantine.$c", xs.size.toDouble, "count")
      }
      val dec = new LayerAccs(spark, Trace.DecompAccs)
      val (_, decS) = time(Trace.decompose(pages(), normalize, cache, dec))
      Trace.layerMetrics(dec.values).foreach { case (k, x) => r.layer(k, x, Units.of(k)) }
      r.descriptors("decompose_s") = decS
    }
  }
}
