package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Leaf

/** Training-data preparation over the constructed graph: dense entity
  * ids and negative sampling for KG-embedding training (TransE-family
  * corrupt-tail negatives). No reference counterpart — this is the
  * curation-side extension the 100 TB brief asks for, built with the
  * repo's deterministic-surrogate convention (integer PageRank, integer
  * tf-idf): the corruption stream is an affine stride over dense ids
  * instead of a seeded PRF, so a SQL oracle reproduces every sample
  * bit-for-bit. Swapping the stride for xxhash64 is a one-line change
  * in production.
  */
object GraphTrain {

  /** Dense contiguous entity ids, 0..n-1 in entity sort order — the id
    * space KG-embedding training consumes (row index into the embedding
    * matrix). Entities = all subjects plus all node objects (IRI +
    * bnode).
    *
    * Scale shape: a global `row_number()` window would single-partition
    * the corpus, so ids are assigned as range-partition offsets + local
    * ranks: sort-shuffle into `partitions` ranges, count each range (one
    * bounded collect — `partitions` longs), broadcast-join the cumulative
    * offsets back and rank WITHIN each partition. Every step is
    * deterministic (ranges ordered, within-range rank ordered by entity),
    * so id(entity) == `row_number() OVER (ORDER BY entity) - 1`, which is
    * exactly how the oracle recomputes it. */
  def denseEntityIds(triples: DataFrame, partitions: Int = 64): DataFrame = {
    // pins the range assignment; read twice below. Lazy: the bounded
    // per-partition-count collect right after fills the blocks (one job,
    // not two — optimization r6)
    val ents = Leaf(triples.select(col("subj").as("entity"))
      .unionByName(triples.filter(col("objKind").isin(0, 1))
        .select(col("objValue").as("entity")))
      .distinct()
      .repartitionByRange(partitions, col("entity"))
      .select(col("entity"), spark_partition_id().as("pid")), eager = false)
    val counts = ents.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("pid")).collect() // bounded: `partitions` rows
    val offsets = counts.scanLeft((0, 0L)) { case ((_, acc), r) =>
      (r.getInt(0), acc + r.getLong(1))
    }.init.zip(counts).map { case ((_, off), r) => (r.getInt(0), off) }
    val offsetDf = ents.sparkSession.createDataFrame(offsets.toSeq)
      .toDF("pid", "offset")
    val localRank = Window.partitionBy(col("pid")).orderBy(col("entity"))
    ents
      .withColumn("rank", row_number().over(localRank).cast("long") - 1L)
      .join(broadcast(offsetDf), Seq("pid"))
      .select(col("entity"), (col("offset") + col("rank")).as("id"))
  }

  /** Random-walk corpus generation (DeepWalk/node2vec-style input for
    * embedding training): `walksPerNode` walks of `steps` hops from
    * every node with outgoing edges. The next hop is the neighbor at
    * index `(w·2654435761 + t·40503 + len(node)·97) mod degree` over the
    * node's dst-sorted neighbor list — the deterministic-surrogate
    * convention again (swap the affine pick for a seeded PRF in
    * production; the stride keeps every emitted walk SQL-replayable
    * bit-for-bit). Walks that reach a sink node (no outgoing edges) or
    * a hub excluded by `maxDegree` simply end early — standard
    * truncated-walk semantics; capped hubs still START their
    * walksPerNode walks (step-0 rows), they just cannot extend, so the
    * corpus never omits the highest-degree entities.
    *
    * Scale shape: the neighbor table carries a per-source index
    * (row_number windowed BY SOURCE — per-key state is one node's
    * degree, never corpus-sized) and is checkpointed once; each of the
    * `steps` extensions is ONE equi-join keyed by the current node
    * (co-located when the table is bucketed), exchanging (start, w,
    * node) id tuples only. Output is walk-corpus-sized by construction:
    * nodes × walksPerNode × (steps+1) rows max. */
  def randomWalks(triples: DataFrame, walksPerNode: Int = 2, steps: Int = 3,
      maxDegree: Int = 1024): DataFrame = {
    require(walksPerNode >= 1 && steps >= 1, "need at least one walk and one step")
    val edges = triples.filter(col("objKind").isin(0, 1) &&
        col("subj") =!= col("objValue"))
      .select(col("subj").as("src"), col("objValue").as("dst"))
      .distinct()
    val bySrc = Window.partitionBy(col("src"))
    val nbrs = Leaf(edges
      .withColumn("idx", row_number().over(bySrc.orderBy(col("dst"))).cast("long") - 1L)
      .withColumn("deg", count(lit(1)).over(bySrc))
      .filter(col("deg") <= maxDegree), eager = true) // read once per step
    // starts come from ALL edge sources, not the capped neighbor table:
    // a hub over maxDegree still gets its step-0 rows (its walks simply
    // cannot EXTEND — the same truncated-walk semantics as sinks), so
    // the corpus never silently omits the highest-degree entities
    // (review r5b)
    var frontier = edges.select(col("src").as("start")).distinct()
      .withColumn("w", explode(array((0 until walksPerNode).map(lit): _*)))
      .withColumn("node", col("start"))
      .select(col("start"), col("w"), col("node"))
    val parts = scala.collection.mutable.ArrayBuffer(
      frontier.withColumn("step", lit(0)))
    for (t <- 1 to steps) {
      // O(1)-deep plan per level, like pathClosure; lazy (optimization
      // r6) — the walk is a FIXED small step count with no per-level
      // convergence action, so the caller's one action fills every level
      // (each level frame serves its two consumers — next level + the
      // union — from the same blocks)
      frontier = Leaf(frontier.join(nbrs, col("node") === col("src"))
        .filter(col("idx") === pmod(
          col("w") * lit(2654435761L) + lit(t.toLong * 40503L) +
            length(col("node")) * 97L, col("deg")))
        .select(col("start"), col("w"), col("dst").as("node")), eager = false)
      parts += frontier.withColumn("step", lit(t))
    }
    parts.reduce(_ unionByName _)
      .select(col("start"), col("w"), col("step"), col("node"))
  }

  /** Per-entity feature table for graph-ML training (GNN node features,
    * embedding-model side inputs): out-degree, in-degree, distinct
    * predicate count, literal-attribute count, and the deterministic
    * primary type (min rdf:type IRI; null when untyped). Covers every
    * node — subjects AND object-only leaves.
    *
    * Scale shape: two keyed aggregations (by subj, by object node) and
    * one full-outer merge keyed by entity — all partial-agg friendly,
    * nothing collected, output is entity-sized. */
  def entityFeatures(triples: DataFrame): DataFrame = {
    val typePred = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    val subjSide = triples.groupBy(col("subj").as("entity")).agg(
      count(lit(1)).as("out_deg"),
      countDistinct(col("pred")).as("n_preds"),
      sum(when(col("objKind") === 2, 1L).otherwise(0L)).as("n_lit"),
      min(when(col("pred") === typePred && col("objKind") === 0,
        col("objValue"))).as("primary_type"))
    val objSide = triples.filter(col("objKind").isin(0, 1))
      .groupBy(col("objValue").as("entity")).agg(count(lit(1)).as("in_deg"))
    subjSide.join(objSide, Seq("entity"), "full_outer")
      .select(col("entity"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("n_preds"), lit(0L)).as("n_preds"),
        coalesce(col("n_lit"), lit(0L)).as("n_lit"),
        col("primary_type"))
  }

  /** Corrupt-tail negative samples: every true node-to-node edge
    * (subj, pred, obj) is paired with k candidate corrupt tails by
    * striding the dense id space —
    * `neg_id = (sid + (i+1)*2654435761 + len(pred)*97) mod n` —
    * then anti-joined against the true edge set so no emitted negative
    * is actually asserted. Output keeps the positive's `obj`, so each
    * row is one (positive, negative) training pair. A corrupted tail
    * may coincide with the subject itself (standard samplers allow it;
    * filter downstream if not wanted), and fewer than k pairs survive
    * for a positive whose stride lands on true tails — the usual
    * "filtered negatives" semantics.
    *
    * Scale shape: everything exchanges ids and the (subj, pred,
    * candidate) keys only — the wide stages are the id-labeling join
    * (AQE-sided; the id table is entity-sized) and the anti-join against
    * the true edge set, both keyed joins a 1000-executor cluster
    * co-locates. The `n = ids.count()` action is one long. k is a
    * constant fan-out (posexplode of a k-array), never data-sized. */
  def negativeSamples(triples: DataFrame, ids: DataFrame, k: Int = 4): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // the id table is read three ways (the size count, the subj-id probe,
    // the neg_id resolve) — a lazy leaf, so the count below fills the
    // blocks once instead of each consumer re-running the caller's
    // id-assignment plan (optimization r6)
    val idsCk = Leaf(ids, eager = false)
    val n = idsCk.count()
    require(n > 0, "empty entity id table")
    val edges = Leaf(triples.filter(col("objKind").isin(0, 1))
      .select(col("subj"), col("pred"), col("objValue"))
      .distinct(), eager = true) // read by the candidate build AND the anti-join
    val cand = edges
      .join(idsCk.select(col("entity").as("subj"), col("id").as("sid")), Seq("subj"))
      .withColumn("i", explode(array((0 until k).map(lit): _*)))
      .withColumn("neg_id",
        pmod(col("sid") + (col("i") + 1) * lit(2654435761L) +
          length(col("pred")) * 97L, lit(n)))
    cand
      .join(idsCk.select(col("id").as("neg_id"), col("entity").as("neg_obj")),
        Seq("neg_id"))
      .join(edges.withColumnRenamed("objValue", "neg_obj"),
        Seq("subj", "pred", "neg_obj"), "left_anti")
      .select(col("subj"), col("pred"), col("objValue").as("obj"),
        col("neg_obj"), col("i"))
  }
}
