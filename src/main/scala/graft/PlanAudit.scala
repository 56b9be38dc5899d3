package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan audit of the headline queries: prints the properties
  * that matter at 100 TB — scan pushdown (PushedFilters/ReadSchema),
  * WholeStageCodegen coverage, join strategies (broadcast vs sort-merge),
  * and the shuffle count — so plan regressions are visible in review,
  * not just wall-clock. Output is pasted into BENCH/PLANS.md per round.
  *
  * Usage: sbt "runMain graft.PlanAudit <sfDir> [--dump <outDir> <suffix>] [q1 q2 ...]"
  *
  * With `--dump`, each query's `.explain("formatted")` is also written
  * to `<outDir>/<query>_<suffix>.txt` — the optimization-round evidence
  * artifact (`plans/r06/<query>_{before,after}.txt`) — and the queries
  * are every SparkEntry query in name order rather than [[audited]].
  * Several operators cut their plan with `graftshim.Leaf` during
  * DataFrame construction (an eager leaf runs its job right there), so
  * their plan is the consumer plan over that leaf's `LogicalRDD`.
  */
object PlanAudit {
  /** Audited query names — a val on the object (not a local) so
    * ContractSpec can assert it stays a subset of SparkEntry.queries. */
  val audited: Seq[String] = Seq(
    "q1_agg", "q_join_agg", "q_filter_prune", "q_topk_parts",
    "q_minhash_neardups", "q_jaccard_verify", "q_simhash_neardups",
    "q_ann_topk", "q_ann_bucketed", "q_ann_ivf", "q_cosine_neardups",
    "q_ngram_topk", "q_kg_adjacency", "q_kg_entitylink",
    "q_kg_entitylink_cold", "q_kg_flatten", "q_kg_frame", "q_kg_frame_d2",
    "q_kg_stats", "q_turtle_ingest", "q_turtle_ingest_bnodes",
    "q_dedup_incremental", "q_dedup_hotbucket", "q_kg_triples_norm",
    "q_dedup_lines", "q_decontaminate", "q_kg_compact",
    "q_pii_scrub", "q_doc_repetition", "q_pack_shards", "q_sample_stratified",
    "q_host_quota", "q_doc_chunks",
    "q_dedup_survivors", "q_kg_hubs", "q_kg_cooccur", "q_tfidf_topterms",
    "q_kg_twohop", "q_kg_delta", "q_kg_hubdict", "q_curation_verdict",
    "q_kg_bgp", "q_kg_bgp_opt", "q_kg_closure", "q_kg_validate",
    "q_kg_rdfs", "q_kg_construct", "q_kg_sameas", "q_kg_charsets",
    "q_kg_intervals", "q_kg_schemagraph", "q_kg_applydelta", "q_kg_negatives",
    "q_kg_entity_features", "q_kg_bgp_agg", "q_kg_provenance",
    "q_kg_entitymatch", "q_kg_walks", "q_url_canon",
    "q_kg_triangles", "q_kg_hostgraph", "q_kg_anchortext",
    "q_kg_communities", "q_kg_kcore", "q_boilerplate",
    "q_inverted_index", "q_bm25_search", "q_kg_hll_pred", "q_kg_hyperball",
    "q_kg_cms_hot", "q_kg_hits", "q_kg_bloom_prune", "q_doc_quantiles",
    "q_span_dedup", "q_semdedup", "q_asof_join", "q_range_band",
    "q_zorder", "q_kmeans", "q_temperature_mix", "q_dsir_select",
    "q_lm_perplexity", "q_pmi_top", "q_simjoin_exact", "q_kg_ppr",
    "q_bpe_merges", "q_quality_classifier", "q_bpe_tokenize", "q_kg_path",
    "q_pareto_select", "q_split_leakproof", "q_kg_distances",
    "q_containment", "q_dedup_components_inc", "q_c4_linefilter",
    "q_gopher_quality", "q_gopher_repetition", "q_kg_disambiguate")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val (dump, rest) = args.drop(1).toList match {
      case "--dump" :: out :: suffix :: names => (Some((Paths.get(out), suffix)), names)
      case "--dump" :: _ => throw new IllegalArgumentException(
        "usage: PlanAudit <sfDir> [--dump <outDir> <suffix>] [names...]")
      case names => (None, names)
    }
    // optional trailing args: only these names (incremental rounds
    // re-audit just the queries they touched)
    val subset = rest.toSet
    val unknown = subset.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")} — " +
        "a typo here would silently leave a stale plan file in place")
    val names = (if (dump.isEmpty) audited else SparkEntry.queries.keys.toSeq.sorted)
      .filter(n => subset.isEmpty || subset(n))
    dump.foreach { case (dir, _) => Files.createDirectories(dir) }
    val spark = Sessions.local()
    // static plans for the audit: AQE re-plans at runtime (and is ON in
    // every real run); disabling it here exposes the codegen spans and
    // join choices Catalyst makes from statistics alone
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"\n===== $name =====")
      summarize(name, df.queryExecution.executedPlan.toString)
      dump.foreach { case (dir, suffix) =>
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.write(dir.resolve(s"${name}_$suffix.txt"), txt.getBytes("UTF-8"),
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
        println(s"dumped $name")
      }
    }
    spark.stop()
  }

  private def summarize(name: String, plan: String): Unit = {
    val lines = plan.linesIterator.toVector
    def count(p: String) = lines.count(_.contains(p))
    // codegen membership renders as a "*(n)" stage prefix in plan strings
    val codegenStages = lines.flatMap(l => "\\*\\((\\d+)\\)".r.findAllMatchIn(l).map(_.group(1)))
      .distinct.size
    println(s"  exchanges(shuffles) = ${count("Exchange")}" +
      s" | broadcast = ${count("BroadcastExchange")}" +
      s" | SMJ = ${count("SortMergeJoin")}" +
      s" | BHJ = ${count("BroadcastHashJoin")}" +
      s" | codegen stages = $codegenStages")
    lines.filter(_.contains("FileScan")).take(4).foreach { l =>
      val cols = "\\[([^\\]]*)\\]".r.findFirstMatchIn(l).map(_.group(1)).getOrElse("")
      val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findFirstIn(l).getOrElse("PushedFilters: n/a")
      println(s"  scan cols=[$cols] $pushed")
    }
  }
}
