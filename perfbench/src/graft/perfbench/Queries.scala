package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.{QueryGuard, SparkEntry}
import graft.jsonld.{JObj, JStr, Json}
import Main.{median, now, pct, time}

/** query_text: the documents-only query operators of `graft.SparkEntry`
  * (no auxiliary tables), one after another from one client, over a
  * seeded documents table. Results are checked against each query's
  * `SparkEntry.oracleSql` DuckDB oracle by run.py. */
object Queries {

  val Docs = 600

  /** Query -> the module whose operator it runs. */
  val Groups: Seq[(String, String)] = Seq(
    "q_pmi_top" -> "TextOps",
    "q_inverted_index" -> "IndexOps",
    "q_pack_shards" -> "CurationOps")

  val TimeoutMs = 60000L

  def run(spark: SparkSession, o: Opts, cores: Int, stats: SparkStats, r: Report): Unit = {
    import spark.implicits._
    val seed = o.seed
    val n = o.size(Docs)
    val sf = s"${o.work}/sf"
    spark.range(0, n, 1, cores).map(i => Corpus.document(seed, i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$sf/documents.parquet")
    r.mark("inputs")

    // one query at a time, its result computed and returned to the client
    final case class Result(ok: Boolean, s: Double, schema: StructType, rows: Array[Row]) {
      def fingerprint: Fingerprint = Fingerprint.of(rows.iterator.map { row =>
        val xs = row.toSeq
        (MurmurHash3.orderedHash(xs, 1).toLong << 32) | (MurmurHash3.orderedHash(xs, 2) & 0xffffffffL)
      })
    }
    def runQuery(q: String): Result = {
      var df: DataFrame = null
      var rows = Array.empty[Row]
      val (ok, s) = time(QueryGuard.run(spark, q, TimeoutMs) {
        df = SparkEntry.queries(q)(spark, sf)
        rows = df.collect()
      })
      Result(ok, s, if (df == null) null else df.schema, rows)
    }
    final case class Sample(q: String, s: Double, ok: Boolean, result: Fingerprint, spark: Map[String, Double])
    def pass(traced: Boolean): (Seq[Sample], Double) = time(Groups.map { case (q, _) =>
      if (traced) stats.start(spark)
      val res = runQuery(q)
      val sp = if (traced) stats.stop(spark, cores, res.s) else Map.empty[String, Double]
      Sample(q, res.s, res.ok, res.fingerprint, sp)
    })

    // warm-up pass, whose results the oracles check and every timed pass
    // must repeat
    val verified = Groups.map { case (q, _) => q -> runQuery(q) }.toMap
    r.metric("setup_s", Main.sinceStart(), "s")
    r.mark("ready")

    // a traced run alternates untraced and traced passes
    var heap = 0.0
    val passes = new Health(spark, cores).window(r) {
      val ps = collection.mutable.ArrayBuffer.empty[(Boolean, Double, Seq[Sample])]
      val t0 = now()
      while (now() - t0 < o.seconds || ps.count(!_._1) < 2 || (o.trace && ps.count(_._1) < 2)) {
        val traced = o.trace && ps.size % 2 == 1
        val (samples, wall) = pass(traced)
        ps += ((traced, wall, samples))
        heap = math.max(heap, Main.liveHeapMb())
      }
      ps.toSeq
    }
    r.mark("timed")

    // the warm-up results to parquet, plus the oracle SQL, for run.py's
    // DuckDB comparison
    val outDir = s"${o.work}/query_out"
    verified.foreach { case (q, res) =>
      if (res.ok) spark.createDataFrame(java.util.Arrays.asList(res.rows: _*), res.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
    }
    val oracles = Json.write(JObj(Groups.map { case (q, _) => q -> JStr(SparkEntry.oracleSql(q)) }: _*))
    Files.writeString(Paths.get(o.work, "oracle_sql.json"), oracles)

    val all = passes.flatMap(_._3)
    Groups.foreach { case (q, _) =>
      val v = verified(q)
      r.check(s"$q.verified", v.ok, s"warm-up pass ${if (v.ok) "returned" else "failed"}")
      val got = all.filter(_.q == q).map(_.result).distinct
      r.check(s"$q.result_every_pass", got == Seq(v.fingerprint),
        s"timed-pass results $got vs warm-up ${v.fingerprint}")
    }
    r.attempted = all.size
    r.failed = all.count(!_.ok)

    val plain = passes.filterNot(_._1)
    val plainSamples = plain.flatMap(_._3).filter(_.ok).map(_.s).toSeq
    val wall = median(plain.map(_._2).toSeq)
    r.metric("pass_s", wall, "s")
    r.metric("heap_live_peak_mb", heap, "MB")
    r.metric("query_p50_s", median(plainSamples), "s")
    r.metric("query_p90_s", pct(plainSamples, 0.9), "s")
    r.metric("query_fail_ratio", all.count(!_.ok).toDouble / all.size, "ratio")
    r.descriptors("docs") = n
    r.descriptors("queries") = Groups.map(_._1)
    r.descriptors("passes") = plain.size
    r.descriptors("pass_walls_s") = plain.map(_._2).toSeq
    r.descriptors("query_samples") = plainSamples.size
    r.descriptors("rows") = verified.map { case (q, res) => q -> res.rows.length }

    if (o.trace) {
      val traced = passes.filter(_._1)
      r.layer("trace.overhead_ratio", median(traced.map(_._2).toSeq) / wall, "ratio")
      // Spark counters: per pass, summed over its queries; median pass
      val perPass = traced.map(_._3.map(_.spark).reduce((a, b) => a.map { case (k, v) => k -> (v + b(k)) }))
      perPass.head.keys.foreach { k =>
        val v = k match {
          case "spark.task_p50_s" => median(traced.flatMap(_._3.map(_.spark(k))).toSeq)
          case "spark.task_max_s" => traced.flatMap(_._3.map(_.spark(k))).max
          case _ => median(perPass.map(_(k)).toSeq)
        }
        r.layer(k, v, Units.of(k))
      }
      Groups.foreach { case (q, _) =>
        r.layer(s"query.${q}_s", median(traced.flatMap(_._3).filter(_.q == q).map(_.s).toSeq), "s")
      }
      Groups.map(_._2).distinct.foreach { g =>
        val qs = Groups.filter(_._2 == g).map(_._1).toSet
        val per = traced.map(_._3.filter(s => qs(s.q)))
        r.layer(s"query.${g}_s", median(per.map(_.map(_.s).sum).toSeq), "s")
        r.layer(s"query.${g}_stages", median(per.map(_.map(_.spark("spark.stages")).sum).toSeq), "count")
        r.layer(s"query.${g}_shuffle_bytes",
          median(per.map(_.map(_.spark("spark.shuffle_write_bytes")).sum).toSeq), "bytes")
        r.layer(s"query.${g}_spill_bytes", median(per.map(_.map(_.spark("spark.spill_bytes")).sum).toSeq), "bytes")
      }
    }
  }
}
