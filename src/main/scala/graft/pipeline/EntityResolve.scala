package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Leaf

/** Dictionary-free entity resolution over the constructed graph: the
  * blocking + pairwise-scoring step classic ER pipelines run to DISCOVER
  * equivalences (which [[GraphMaterialize.sameAsMerge]] then applies).
  * Complements the dictionary-driven linker: `linkEntities` resolves
  * mentions against a curated dictionary; this finds duplicate entity
  * NODES the crawl itself created.
  *
  * Blocking key: the lower-cased name literal — candidate pairs only
  * form inside a block, never across the corpus. Score: Jaccard overlap
  * of the entities' literal (pred, value) attribute sets (the blocking
  * predicate excluded — sharing the key that formed the block is not
  * evidence).
  *
  * Scale discipline (the same lesson as the LSH family guard): a block
  * of B entities yields B²/2 pairs, so blocks larger than `maxBlock`
  * (boilerplate names — "home", "untitled") are EXCLUDED. Every
  * exchange carries ids, keys and counts only; the attribute-set join
  * is keyed by (entity) then (pred, value) — co-locatable, partial-agg
  * friendly. Threshold compares in integer
  * arithmetic (shared·den ≥ union·num), so the cut is exact — no float
  * boundary drift between engines.
  */
object EntityResolve {

  val NamePred = "http://schema.org/name"

  /** Discovered equivalence pairs (a < b) with attribute-overlap
    * evidence: `shared` = common literal attributes, `jaccard` =
    * shared / union, kept when jaccard ≥ num/den. */
  def discoverEquivalences(triples: DataFrame, maxBlock: Int = 64,
      num: Int = 1, den: Int = 2,
      namePred: String = NamePred): DataFrame = {
    require(num >= 0 && den > 0, "threshold must be a non-negative rational")
    val names = triples.filter(col("pred") === namePred && col("objKind") === 2)
      .select(col("subj").as("entity"), lower(col("objValue")).as("block"))
      .distinct()
    val okBlocks = names.groupBy(col("block")).agg(count(lit(1)).as("bn"))
      .filter(col("bn") > 1 && col("bn") <= maxBlock)
      .select(col("block"))
    // the self-join's two sides are identical subtrees exchanged on
    // `block` — ReuseExchange computes the blocking pass once, no
    // checkpoint needed (optimization r6)
    val blocked = names.join(okBlocks, Seq("block"))
    val pairs = Leaf(blocked.as("x")
      .join(blocked.as("y"),
        col("x.block") === col("y.block") && col("x.entity") < col("y.entity"))
      .select(col("x.entity").as("a"), col("y.entity").as("b"))
      // entities sharing SEVERAL name literals (multilingual labels) meet
      // once per shared block — without the dedup the score join counts
      // every shared attribute once per meeting, inflating `shared` past
      // the set size and driving uni = ca+cb-shared to 0, which silently
      // DROPS exact duplicates (review r5: empirically demonstrated)
      .distinct(), eager = true) // read by the score join AND the final assembly
    val attrs = Leaf(triples.filter(col("objKind") === 2 && col("pred") =!= namePred)
      .select(col("subj").as("entity"), col("pred"), col("objValue"))
      .distinct(), eager = true) // read by the shared join (twice) AND the size agg
    val sizes = attrs.groupBy(col("entity")).agg(count(lit(1)).as("na"))
    val shared = pairs
      .join(attrs.select(col("entity").as("a"), col("pred"), col("objValue")), Seq("a"))
      .join(attrs.select(col("entity").as("b"), col("pred"), col("objValue")),
        Seq("b", "pred", "objValue"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared"))
    pairs
      .join(shared, Seq("a", "b"), "left")
      .join(sizes.select(col("entity").as("a"), col("na").as("ca")), Seq("a"), "left")
      .join(sizes.select(col("entity").as("b"), col("na").as("cb")), Seq("b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("shared"), lit(0L)).as("shared"),
        (coalesce(col("ca"), lit(0L)) + coalesce(col("cb"), lit(0L)) -
          coalesce(col("shared"), lit(0L))).as("uni"))
      .filter(col("uni") > 0 &&
        col("shared") * lit(den.toLong) >= col("uni") * lit(num.toLong))
      .select(col("a"), col("b"), col("shared"),
        round(col("shared") / col("uni"), 4).as("jaccard"))
  }
}
