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
  *  - sessions are built by the one factory, [[Sessions]]. */
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

  /** Files allowed to build a session themselves: the factory, and the
    * measurement harness, which stays byte-identical. */
  private val sessionBuilders =
    Set("graft/Sessions.scala", "graft/Bench.scala", "graft/Verify.scala")

  test("only the session factory and the frozen harness build sessions") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val st = Files.walk(root)
    val builders =
      try st.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .map(p => root.relativize(p).toString).toSet
      finally st.close()
    assert(builders.contains("graft/Sessions.scala"))
    assert((builders -- sessionBuilders).isEmpty,
      s"hand-rolled SparkSession.builder outside graft.Sessions: ${(builders -- sessionBuilders).toSeq.sorted}")
  }
}
