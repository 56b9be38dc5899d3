package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants, enforced at test time so a new operator
  * cannot land half-wired:
  *  - every query has an oracle and vice versa (a query without an
  *    oracle silently downgrades to a rows-only check in the driver's
  *    correctness gate);
  *  - every plan-audited name is a real query;
  *  - names follow the q_* convention the bench/correctness tooling
  *    sorts and reports on;
  *  - sessions are built by the one factory, [[Sessions]];
  *  - plans are cut by the one helper, `graftshim.Leaf`;
  *  - every top-level type in `src/main` is reachable: referenced from
  *    code, or a main. */
class ContractSpec extends AnyFunSuite {

  test("queries and oracles are exactly 1:1") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without query: ${(o -- q).toSeq.sorted}")
  }

  /** Queries deliberately left out of the plan audit: the simple §2.4
    * single-agg / single-window / narrow-projection shapes whose plans
    * were audited in early rounds and have no moving parts (their rows
    * live in BENCH/PLANS.md history). Anything NEW must either be
    * audited or added here CONSCIOUSLY — subset alone would let an
    * operator land half-wired (review r5b). */
  private val auditExempt = Set(
    "q_dedup_components", "q_dedup_exact", "q_doc_langid", "q_doc_quality",
    "q_doc_tokens", "q_doc_tokens_bpe", "q_emb_norm", "q_emb_stats",
    "q_events_sessions", "q_kg_canonicalize", "q_kg_newest", "q_kg_triples",
    "q_media_features", "q_rollup", "q_semi_anti", "q_window_latest")

  test("plan audit covers every query except the explicit exemptions") {
    val q = SparkEntry.queries.keySet
    val missing = PlanAudit.audited.filterNot(q.contains)
    assert(missing.isEmpty, s"audited but not registered: $missing")
    assert(PlanAudit.audited.distinct.size == PlanAudit.audited.size,
      "duplicate names in the audited list")
    val unaudited = q -- PlanAudit.audited.toSet
    assert(unaudited == auditExempt,
      s"queries neither audited nor exempt: ${(unaudited -- auditExempt).toSeq.sorted}; " +
        s"exempt but now audited/unregistered: ${(auditExempt -- unaudited).toSeq.sorted}")
  }

  test("query names follow the reporting convention") {
    SparkEntry.queries.keySet.foreach { n =>
      assert(n == "q1_agg" || n.startsWith("q_"), s"unconventional name: $n")
      assert(!n.contains(" ") && n == n.toLowerCase, s"unsortable name: $n")
    }
  }

  /** Every `src/main` Scala file, by path under `src/main/scala`. */
  private lazy val mainSources: Map[String, String] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val st = Files.walk(root)
    try st.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toMap
    finally st.close()
  }

  /** Files allowed to build a session themselves: the factory, and the
    * measurement harness, which stays byte-identical. */
  private val sessionBuilders =
    Set("graft/Sessions.scala", "graft/Bench.scala", "graft/Verify.scala")

  test("only the session factory and the frozen harness build sessions") {
    val builders = mainSources.collect { case (p, text) if text.contains("SparkSession.builder") => p }.toSet
    assert(builders.contains("graft/Sessions.scala"))
    assert((builders -- sessionBuilders).isEmpty,
      s"hand-rolled SparkSession.builder outside graft.Sessions: ${(builders -- sessionBuilders).toSeq.sorted}")
  }

  /** The one file allowed to checkpoint a frame: [[org.apache.spark.sql.graftshim.Leaf]]
    * decides lazy against eager and keeps RDD checkpoints off the lazy
    * path. */
  private val checkpointer = "org/apache/spark/sql/graftshim/Leaf.scala"

  test("only the plan-cut helper checkpoints a frame") {
    val callers = mainSources.collect { case (p, text)
      if Seq("localCheckpoint(", ".checkpoint(").exists(stripComments(text).contains) => p }.toSet
    assert(callers == Set(checkpointer),
      s"checkpoint calls outside graftshim.Leaf: ${(callers - checkpointer).toSeq.sorted}")
  }

  /** Top-level types that nothing in `src/main` references and that
    * declare no main, each with the reason it stays. */
  private val unreachableKept = Map(
    "DocumentLoader" -> "json-ld.net's remote-document loader, for callers that wire a transport",
    "JdkHttpTransport" -> "the network transport a deployment passes to DocumentLoader")

  /** Scala source with its comments blanked out. Newlines stay, so line
    * starts stay; string and character literals stay too, so a `//` in a
    * string starts no comment and a name in a string counts. */
  private def stripComments(src: String): String = {
    val out = new StringBuilder
    var i = 0
    var depth = 0 // block comments nest in Scala
    def copyUntil(end: Int): Unit = { out ++= src.substring(i, end); i = end }
    while (i < src.length) {
      if (depth > 0) {
        if (src.startsWith("/*", i)) { depth += 1; i += 2 }
        else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
        else { if (src(i) == '\n') out += '\n'; i += 1 }
      } else if (src.startsWith("/*", i)) { depth = 1; i += 2 }
      else if (src.startsWith("//", i)) { while (i < src.length && src(i) != '\n') i += 1 }
      else if (src.startsWith("\"\"\"", i)) {
        var end = src.indexOf("\"\"\"", i + 3)
        end = if (end < 0) src.length else end + 3
        while (end < src.length && src(end) == '"') end += 1
        copyUntil(end)
      } else if (src(i) == '"') {
        var end = i + 1
        while (end < src.length && src(end) != '"' && src(end) != '\n')
          end += (if (src(end) == '\\') 2 else 1)
        copyUntil(math.min(end + 1, src.length))
      } else if (src(i) == '\'' && i + 2 < src.length && (src(i + 2) == '\'' || src(i + 1) == '\\')) {
        val end = src.indexOf('\'', i + 2)
        copyUntil(if (end < 0) src.length else end + 1)
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  private val TopLevelDecl =
    """(?m)^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*(?:object|class|trait)\s+(\w+)""".r

  /** The top-level types of `sources` (path -> text) that no code outside
    * their own declaration names and that declare no `main`. A
    * declaration runs from its first line to the next top-level one. */
  private def unreachable(sources: Map[String, String]): Set[String] = {
    val code = sources.map { case (p, text) => p -> stripComments(text) }
    val decls = code.toSeq.flatMap { case (p, text) =>
      val starts = TopLevelDecl.findAllMatchIn(text).toSeq
      starts.zip(starts.drop(1).map(_.start) :+ text.length).map { case (m, end) => (m.group(1), p, m.start, end) }
    }
    decls.groupBy(_._1).filter { case (name, own) =>
      def inOwn(p: String, at: Int) = own.exists { case (_, q, start, end) => q == p && start <= at && at < end }
      val word = ("\\b" + name + "\\b").r
      val referenced = code.exists { case (p, text) => word.findAllMatchIn(text).exists(m => !inOwn(p, m.start)) }
      val hasMain = own.exists { case (_, p, start, end) => code(p).substring(start, end).contains("def main(") }
      !referenced && !hasMain
    }.keySet
  }

  test("every top-level type in src/main is referenced from code or declares a main") {
    val found = unreachable(mainSources)
    assert((found -- unreachableKept.keySet).isEmpty,
      s"unreferenced top-level types without a main: ${(found -- unreachableKept.keySet).toSeq.sorted}")
    assert((unreachableKept.keySet -- found).isEmpty,
      s"listed as unreachable but now referenced or gone: ${(unreachableKept.keySet -- found).toSeq.sorted}")
  }

  test("the reachability check sees through comments and strings") {
    val stripped = stripComments("val u = \"http://x\" // A\n/* B /* C */ D */ val c = '\"'; E")
    assert(stripped.contains("\"http://x\"") && stripped.contains("E"), stripped)
    assert(!Seq("A", "B", "C", "D").exists(stripped.contains), stripped)
    val found = unreachable(Map(
      "a.scala" -> "object A { def main(args: Array[String]): Unit = B.f }\n",
      "b.scala" -> "object B { def f = 1 }\n// C is named only here\nclass C { val c = new C }\n",
      "d.scala" -> "case class D(x: Int)\nobject D { def apply(): D = D(0) }\nobject E { val d = D(1) }\n"))
    assert(found == Set("C", "E"), found)
  }
}
