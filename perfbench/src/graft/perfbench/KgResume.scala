package graft.perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.pipeline._
import Main.{median, now, time}

/** kg_resume: the persisted, resumable job, composed from the same public
  * calls `graft.KgRun` makes, in the same order, run in three phases per
  * cycle — a cold build into an empty directory, a resume after a seeded
  * change to the pages of 8 of the 64 host buckets, and an up-to-date
  * re-run with nothing pending. */
object KgResume {

  val Pages = 4000

  /** Pending pages and the wall time of each part of one job run. */
  final case class Parts(pending: Long, pendingS: Double, emitWriteS: Double,
                         quarantineS: Double, adjacencyS: Double)

  def job(spark: SparkSession, pagesPath: String, out: String): Parts = {
    import spark.implicits._
    val triplesPath = s"$out/triples"
    val manifestPath = s"$out/lineage"
    val quarantinePath = s"$out/quarantine"
    val t0 = now()
    val pages = spark.read.parquet(pagesPath)
    val manifest = Lineage.readManifest(spark, manifestPath)
    val pending = Lineage.pendingPages(pages, manifest).cache()
    val nPending = pending.count()
    val pendingS = now() - t0
    // blocking unpersists: a pass ends with its cached data released, so
    // the live heap read after it does not depend on the async cleanup
    if (nPending == 0) {
      pending.unpersist(blocking = true)
      return Parts(0, pendingS, 0, 0, 0)
    }
    val emitted = TripleEmit.emitKeyed(pending.drop("partition_key").as[Page])
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val obs = Observation("kg_metrics")
    val triplesKeyed = emitted.filter(col("kind") === 0)
      .select(col("subj"), col("pred"), col("objKind"), col("objValue"),
        col("objDatatype"), col("objLang"), col("graph"), col("partition_key"))
      .dropDuplicates()
      .observe(obs, count(lit(1)).as("triples_written"),
        sum(when(col("objKind") === 2, 1L).otherwise(0L)).as("literal_triples"))
    var quarantineS = 0.0
    val t1 = now()
    Lineage.writeWithLineage(spark, triplesKeyed, pending, triplesPath, manifestPath,
      beforePublish = runKeys => {
        val tq = now()
        Lineage.deletePartitions(spark, quarantinePath, runKeys)
        emitted.filter(col("kind") === 1)
          .select(col("url"), col("block_idx"), col("errorCode"), col("errorDetail"),
            col("partition_key"))
          .write.mode(SaveMode.Overwrite).partitionBy("partition_key").parquet(quarantinePath)
        quarantineS = now() - tq
      })
    val emitWriteS = now() - t1 - quarantineS
    emitted.unpersist(blocking = true)
    pending.unpersist(blocking = true)
    val (_, adjacencyS) = time {
      val written = spark.read.parquet(triplesPath)
      GraphMaterialize.adjacency(written.drop("partition_key").as[Triple])
        .write.mode(SaveMode.Overwrite).parquet(s"$out/adjacency")
    }
    // the job's own report: totals and the observed metrics
    spark.read.parquet(triplesPath).count()
    try spark.read.parquet(quarantinePath).count()
    catch { case _: org.apache.spark.sql.AnalysisException => 0L }
    obs.get
    Parts(nPending, pendingS, emitWriteS, quarantineS, adjacencyS)
  }

  private def dirBytes(p: String): (Long, Long) = {
    val st = Files.walk(Paths.get(p))
    try {
      val fs = st.filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
      (fs.map(Files.size).sum, fs.length.toLong)
    } finally st.close()
  }

  /** The phases of one timed pass and the corpus version each reads: a
    * cold build of version 1, a resume to version 2, an up-to-date re-run. */
  val Phases: Seq[(String, Int)] = Seq("cold" -> 1, "resume" -> 2, "uptodate" -> 2)

  final case class Phase(name: String, version: Int, parts: Parts, wall: Double,
                         spark: Map[String, Double])

  /** One pass: its phases, and the table and quarantine rows its resume
    * left behind. */
  final case class Pass(traced: Boolean, phases: Seq[Phase], table: Fingerprint,
                        quarantine: Set[(String, Int, String)]) {
    def wall: Double = phases.map(_.wall).sum
  }

  def run(spark: SparkSession, o: Opts, cores: Int, stats: SparkStats, r: Report): Unit = {
    import spark.implicits._
    val seed = o.seed
    val n = o.size(Pages)
    val changed = Corpus.changedBuckets(seed)
    def table(version: Int, pages: Int): String = {
      val p = s"${o.work}/pages_v${version}_$pages"
      spark.range(0, pages, 1, cores * 4).map(i => Corpus.kgPage(seed, i, version, changed))
        .write.mode("overwrite").parquet(p)
      p
    }
    val tables = Map(1 -> table(1, n), 2 -> table(2, n))
    // warm-up: a cold build of a small slice (JIT and codegen are per
    // code path, not per row; the resume shares nearly all of its paths)
    val warm = table(1, n / 10)
    val out = (k: Int) => s"${o.work}/kg_out_$k"
    r.mark("inputs")

    // the table and quarantine rows a resume left behind, read untimed
    def written(dir: String): (Fingerprint, Set[(String, Int, String)]) = {
      val w = spark.read.parquet(s"$dir/triples")
      val t = if (o.corrupt == "drop_triple") w.except(w.limit(1)) else w
      val fp = Fingerprint.ofTable(t, "partition_key" +: Fingerprint.TripleCols)
      val q = spark.read.parquet(s"$dir/quarantine").select("url", "block_idx", "errorCode")
        .as[(String, Int, String)].collect().toSet
      (fp, if (o.corrupt == "drop_quarantine") q.drop(1) else q)
    }

    def pass(k: Int, traced: Boolean): Pass = {
      Main.deleteRecursive(Paths.get(out(k)))
      var table = (Fingerprint(0, 0, 0), Set.empty[(String, Int, String)])
      val phases = Phases.map { case (name, v) =>
        if (traced) stats.start(spark)
        val (parts, wall) = time(job(spark, tables(v), out(k)))
        val sp = if (traced) stats.stop(spark, cores, wall) else Map.empty[String, Double]
        if (name == "resume") table = written(out(k))
        Phase(name, v, parts, wall, sp)
      }
      Pass(traced, phases, table._1, table._2)
    }

    job(spark, warm, out(-1))
    Main.deleteRecursive(Paths.get(out(-1)))
    r.metric("setup_s", Main.sinceStart(), "s")
    r.mark("ready")
    var heap = 0.0
    var onDisk = Map.empty[String, (Long, Long)]
    // a traced run alternates untraced and traced passes, so the tracing
    // overhead is measured in the same window
    val passes = new Health(spark, cores).window(r) {
      val ps = collection.mutable.ArrayBuffer.empty[Pass]
      val t0 = now()
      while (now() - t0 < o.seconds || !ps.exists(!_.traced) || (o.trace && !ps.exists(_.traced))) {
        val k = ps.size
        ps += pass(k, traced = o.trace && k % 2 == 1)
        heap = math.max(heap, Main.liveHeapMb())
        if (ps.last.traced) onDisk = Seq("triples", "lineage", "quarantine", "adjacency")
          .map(t => t -> dirBytes(s"${out(k)}/$t")).toMap
        Main.deleteRecursive(Paths.get(out(k)))
      }
      ps.toSeq
    }
    r.mark("timed")

    // correctness: after each resume the table equals a cold build of the
    // changed corpus, computed without Spark; each phase saw the pages it
    // should have pending. A pass fails if any of its checks fails.
    val gen = (v: Int) => (i: Long) => Corpus.kgPage(seed, i, v, changed)
    val (refs, refS) = time(Seq(1, 2).map(v => v -> Reference.run(n, cores, gen(v),
      normalize = false, Map.empty, keyOf = url => Lineage.hostBucket(url))).toMap)
    val planted = Seq(1, 2).map(v => v -> Reference.planted(n, gen(v))).toMap
    val changedPages = (0L until n).count(i => changed(Lineage.hostBucket(gen(1)(i).url)))
    val want = Phases.map { case (name, _) =>
      if (name == "cold") n.toLong else if (name == "resume") changedPages.toLong else 0L }
    val passOk = passes.zipWithIndex.map { case (p, k) =>
      val pend = p.phases.map(_.parts.pending)
      Seq(
        r.check(s"pass$k.pending", pend == want, s"pending per phase $pend, expected $want"),
        r.check(s"pass$k.resume_table_equals_cold_build", p.table == refs(2).distinct,
          s"spark ${p.table} vs reference ${refs(2).distinct}"),
        Reference.checkQuarantine(r, s"pass$k.resume_quarantine_table", p.quarantine, planted(2))
      ).forall(identity)
    }
    Seq(1, 2).foreach(v => Reference.checkQuarantine(r, s"reference_quarantine_v$v", refs(v).quarantine, planted(v)))
    r.attempted = passes.size
    r.failed = passOk.count(!_)

    val plain = passes.filterNot(_.traced).flatMap(_.phases)
    val traced = passes.filter(_.traced).flatMap(_.phases)
    val phase = (name: String) => median(plain.filter(_.name == name).map(_.wall))
    val passWall = median(passes.filterNot(_.traced).map(_.wall))
    val ref = refs(1)
    r.metric("pass_s", passWall, "s")
    r.metric("heap_live_peak_mb", heap, "MB")
    r.metric("cold_build_s", phase("cold"), "s")
    r.metric("resume_s", phase("resume"), "s")
    r.metric("uptodate_s", phase("uptodate"), "s")
    r.metric("doc_fail_ratio", ref.quarantine.size.toDouble / ref.docs, "ratio")
    r.descriptors("pages") = n
    r.descriptors("passes") = passes.size
    r.descriptors("phase_walls_s") = plain.map(p => s"${p.name}:${p.wall}").toSeq
    r.descriptors("changed_buckets") = changed.toSeq.sorted
    r.descriptors("resume_pending_share") = changedPages.toDouble / n
    r.descriptors("triples_written") = ref.distinct.rows
    r.descriptors("docs") = ref.docs
    r.descriptors("blocks_per_page") = ref.jsonldDocs.toDouble / n
    r.descriptors("dedup.keep_ratio") = ref.distinct.rows.toDouble / ref.emitted
    r.descriptors("malformed_share") = planted(1).size.toDouble / ref.jsonldDocs
    r.descriptors("reference_s") = refS
    r.descriptors("output") = passes.head.table.toString

    if (o.trace) {
      // Spark counters of the cold build (the phase that runs the emit
      // layer over the whole corpus); lineage and adjacency parts per phase
      val cold = traced.filter(_.name == "cold")
      cold.head.spark.keys.foreach(k => r.layer(k, median(cold.map(_.spark(k)).toSeq), Units.of(k)))
      r.layer("trace.overhead_ratio",
        median(passes.filter(_.traced).map(_.wall)) / passWall, "ratio")
      Seq("cold", "resume", "uptodate").foreach { name =>
        val ps = (plain ++ traced).filter(_.name == name).map(_.parts)
        r.layer(s"lineage.pending_s.$name", median(ps.map(_.pendingS).toSeq), "s")
        r.layer(s"lineage.write_s.$name", median(ps.map(_.emitWriteS).toSeq), "s")
        r.layer(s"lineage.quarantine_s.$name", median(ps.map(_.quarantineS).toSeq), "s")
        r.layer(s"adjacency_s.$name", median(ps.map(_.adjacencyS).toSeq), "s")
      }
      r.layer("lineage.pending_share.resume", changedPages.toDouble / n, "ratio")
      // the tables one pass leaves on disk
      onDisk.foreach { case (t, (b, f)) =>
        r.layer(s"lineage.bytes_written.$t", b.toDouble, "bytes")
        r.layer(s"lineage.files_written.$t", f.toDouble, "count")
      }
      val dec = new LayerAccs(spark, Trace.DecompAccs)
      val (_, decS) = time(Trace.decompose(spark.read.parquet(tables(1)).as[Page], normalize = false, Map.empty, dec))
      Trace.layerMetrics(dec.values).foreach { case (k, x) => r.layer(k, x, Units.of(k)) }
      r.descriptors("decompose_s") = decS
    }
  }
}
