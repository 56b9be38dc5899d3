package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr
import graft.jsonld.{JArr, JBool, JDouble, JLong, JNull, JObj, JStr, JV, Json}

/** Command line of one benchmark process (see run.py, which builds this
  * code and is the only intended caller). */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, scale: Double, corrupt: String) {
  def size(n: Int): Int = math.max(200, (n * scale).toInt)
}

/** Everything one run reports; written as JSON for run.py. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val descriptors = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.LinkedHashMap.empty[String, (Boolean, String)]
  val timeline = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L

  def metric(n: String, v: Double, unit: String): Unit = metrics(n) = (v, unit)
  def layer(n: String, v: Double, unit: String): Unit = layers(n) = (v, unit)
  /** Records when (seconds since JVM start) a step of the run ended. */
  def mark(step: String): Unit = timeline(step) = Main.sinceStart()
  /** Records a check; returns whether it passed. */
  def check(n: String, ok: Boolean, detail: String): Boolean = {
    checks(n) = (ok, detail)
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $n: $detail")
    ok
  }

  def toJson: String = {
    def m(x: mutable.LinkedHashMap[String, (Double, String)]) = jv(x.map {
      case (k, (v, u)) => k -> JObj("value" -> jv(v), "unit" -> JStr(u))
    })
    Json.write(JObj(
      "attempted" -> JLong(attempted), "failed" -> JLong(failed),
      "metrics" -> m(metrics), "layers" -> m(layers),
      "descriptors" -> jv(descriptors.clone().addOne("timeline" -> timeline)),
      "checks" -> jv(checks.map { case (k, (ok, d)) => k -> JObj("ok" -> JBool(ok), "detail" -> JStr(d)) })))
  }

  /** The report's values as the engine's JSON values. */
  private def jv(v: Any): JV = v match {
    case j: JV => j
    case s: String => JStr(s)
    case d: Double => if (d.isNaN || d.isInfinite) JNull else JDouble(d)
    case n: Int => JLong(n)
    case n: Long => JLong(n)
    case b: Boolean => JBool(b)
    case m: collection.Map[_, _] => JObj(m.toSeq.map { case (k, x) => k.toString -> jv(x) }: _*)
    case xs: Iterable[_] => JArr(xs.map(jv).toSeq: _*)
    case null => JNull
    case other => JStr(other.toString)
  }
}

/** Host-health record: load average, CPU affinity and a fixed CPU-bound
  * Spark probe, before and after the timed passes. */
final class Health(spark: SparkSession, cores: Int) {
  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split(" ").take(3).mkString(" ")
    catch { case _: Exception => "n/a" }
  private def cpusAllowed(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().collectFirst {
        case l if l.startsWith("Cpus_allowed_list:") => l.split(":\\s*", 2)(1).trim
      }.getOrElse("n/a") finally src.close()
    } catch { case _: java.io.IOException => "n/a" }
  /** bit_xor(xxhash64(id)) over 20M ids on every core: no IO, fixed work;
    * the faster of two runs. */
  private def probe(): Double = {
    def once() = {
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, cores).select(expr("bit_xor(xxhash64(id))")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }
  probe() // JIT for the probe itself

  /** Per-core-normalized probe seconds above which a window is degraded
    * (healthy: 0.08-0.1 s on 4 cores of a 2.x GHz x86 VM; 3x headroom). */
  private val boundS = 0.1 * 3 * 4.0 / cores

  /** Runs the timed passes `passes` between two health readings. A
    * degraded window is recorded, discarded and measured once more; a
    * second degraded window fails the run, so no timing from a degraded
    * window is ever reported. */
  def window[A](r: Report)(passes: => A): A = {
    def attempt(k: Int): A = {
      val (pre, loadPre) = (probe(), loadavg())
      val a = passes
      val post = probe()
      val degraded = pre > boundS || post > boundS
      r.descriptors(if (k == 0) "health" else "health_remeasured") = Map(
        "loadavg_pre" -> loadPre, "loadavg_post" -> loadavg(), "cpus_allowed" -> cpusAllowed(),
        "cores" -> cores, "probe_pre_s" -> pre, "probe_post_s" -> post, "probe_bound_s" -> boundS,
        "degraded" -> degraded)
      if (!degraded) a
      else if (k == 0) {
        System.err.println(f"[perfbench] DEGRADED host window: probe $pre%.2fs -> $post%.2fs (bound $boundS%.2fs); discarded, measuring again")
        attempt(1)
      } else throw new IllegalStateException(
        f"degraded host window twice: probe $pre%.2fs -> $post%.2fs (bound $boundS%.2fs); no result")
    }
    attempt(0)
  }
}

object Main {

  def now(): Double = System.nanoTime() / 1e9

  def time[A](f: => A): (A, Double) = { val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9) }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  /** Heap in use right after a full collection, in MB. The first
    * collection lets Spark's ContextCleaner see unreachable broadcasts,
    * shuffles and cached blocks; the pause gives its thread time to drop
    * them before the collection that is measured. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Seconds since this JVM started. */
  def sinceStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally st.close()
    }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m("work"), m.getOrElse("scale", "1").toDouble, m.getOrElse("corrupt", ""))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      // bounded job/stage/SQL bookkeeping, so the live heap reflects the
      // engine's data, not how many actions the run happened to make
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val stats = new SparkStats
    val r = new Report
    r.mark("session")
    r.descriptors("workload") = o.workload
    r.descriptors("seed") = o.seed
    r.descriptors("cores") = cores
    r.descriptors("trace") = o.trace
    try {
      o.workload match {
        case "spine_inline"      => Spine.run(spark, o, cores, stats, r, normalize = false)
        case "spine_remote_c14n" => Spine.run(spark, o, cores, stats, r, normalize = true)
        case "kg_resume"         => KgResume.run(spark, o, cores, stats, r)
        case "query_text"        => Queries.run(spark, o, cores, stats, r)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally {
      r.mark("checked")
      Files.writeString(Paths.get(o.work, "result.json"), r.toJson)
      spark.stop()
    }
  }
}
