package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Leaf

/** Conjunctive graph-pattern queries over the materialized triples table
  * — the read-side counterpart of the KG-construction spine. Two entry
  * points:
  *
  *  - [[matchBgp]]: SPARQL-style basic-graph-pattern matching (a set of
  *    triple patterns with shared variables) compiled to a
  *    selectivity-ordered chain of DataFrame equi-joins;
  *  - [[pathClosure]]: bounded transitive closure of one predicate
  *    (SPARQL `p+` property paths up to a depth limit) as a BFS with
  *    per-level checkpoints and min-depth semantics.
  *
  * The reference engine has no query surface (json-ld.net stops at
  * toRDF/normalize — SURVEY.md §2.4); these are the operations a consumer
  * of the constructed graph runs, and both are plain ANSI-SQL-expressible
  * (self-joins / a bounded recursive CTE), so the driver's DuckDB oracle
  * gates them like every other distributed operator.
  */
object GraphQuery {

  /** A term of a triple pattern: either a constant (IRI or literal
    * lexical form, compared against subj/pred/objValue) or a named
    * variable producing an output column. */
  sealed trait Term
  final case class C(value: String) extends Term
  final case class V(name: String) extends Term

  /** One triple pattern. `kind`, when set, additionally constrains the
    * object's objKind (0 = IRI, 1 = bnode, 2 = literal) — needed when a
    * variable in object position must range over entities only. */
  final case class TriplePattern(s: Term, p: Term, o: Term,
      kind: Option[Int] = None)

  /** Match a basic graph pattern against the triples table; returns one
    * row per solution with a column per variable (first-mention order).
    *
    * Plan shape (the part that matters at 100 TB):
    *
    *  - each pattern becomes an independent SCAN of the triples table
    *    with its constant positions as pushed-down filters — at
    *    production scale the table is partitioned by `pred`, so a
    *    constant-predicate pattern (the overwhelmingly common case)
    *    prunes to one partition's files and never reads the rest;
    *  - patterns are joined GREEDILY by selectivity: start from the most
    *    constant-bound pattern, then repeatedly attach the pattern
    *    sharing the most already-bound variables (never zero unless the
    *    BGP is genuinely disconnected — a deliberate cross join then,
    *    loudly documented here rather than silently produced);
    *  - joins carry only the variable columns (constants are filtered
    *    out at the scan, never shuffled), so every exchange is a narrow
    *    projection of bound values;
    *  - no static broadcast hints: pattern cardinalities are
    *    data-dependent (`?s rdf:type :Event` can be 10^9 rows at crawl
    *    scale), so the build-side choice is left to AQE, which converts
    *    a shuffle join to broadcast at runtime when the measured side is
    *    small. Star groups (patterns sharing their subject variable)
    *    end up adjacent under the greedy order, so AQE reuses the
    *    subject-hash exchange across the whole star.
    *
    * Semantics: bag (no implicit distinct), like SPARQL BGP under
    * duplicate-free RDF input — the triples table is deduplicated by the
    * pipeline, so solutions are exactly the SQL self-join rows. A
    * variable repeated WITHIN one pattern (e.g. `?x :p ?x`) constrains
    * equality at the scan.
    */
  def matchBgp(triples: DataFrame, patterns: Seq[TriplePattern]): DataFrame =
    matchBgp(triples, patterns, Nil)

  /** [[matchBgp]] with SPARQL OPTIONAL groups: each group is itself a BGP,
    * evaluated independently and LEFT-joined to the required solutions on
    * the variables it shares with them — solutions keep their row with
    * nulls for the group's unmatched variables.
    *
    * Restriction (what keeps the semantics exactly SQL LEFT JOIN, with no
    * SPARQL unbound-compatibility subtleties): every optional group must
    * share ≥1 variable with the REQUIRED patterns, and its join keys are
    * drawn from required-bound variables only — never from another
    * optional group's possibly-null columns. Groups attach left-to-right. */
  def matchBgp(triples: DataFrame, patterns: Seq[TriplePattern],
      optionals: Seq[Seq[TriplePattern]]): DataFrame = {
    require(patterns.nonEmpty, "empty BGP")

    def vars(p: TriplePattern): Seq[String] =
      Seq(p.s, p.p, p.o).collect { case V(n) => n }

    // scan for one pattern: constant filters + variable projection
    def scan(p: TriplePattern): DataFrame = {
      var df = triples
      p.s match { case C(v) => df = df.filter(col("subj") === v); case _ => }
      p.p match { case C(v) => df = df.filter(col("pred") === v); case _ => }
      p.o match { case C(v) => df = df.filter(col("objValue") === v); case _ => }
      p.kind.foreach(k => df = df.filter(col("objKind") === k))
      // repeated variable within the pattern => positional equality
      (p.s, p.p) match {
        case (V(a), V(b)) if a == b => df = df.filter(col("subj") === col("pred"))
        case _ =>
      }
      (p.s, p.o) match {
        case (V(a), V(b)) if a == b => df = df.filter(col("subj") === col("objValue"))
        case _ =>
      }
      (p.p, p.o) match {
        case (V(a), V(b)) if a == b => df = df.filter(col("pred") === col("objValue"))
        case _ =>
      }
      val seen = scala.collection.mutable.LinkedHashMap[String, String]()
      Seq(p.s -> "subj", p.p -> "pred", p.o -> "objValue").foreach {
        case (V(n), c) => if (!seen.contains(n)) seen(n) = c
        case _ =>
      }
      df.select(seen.toSeq.map { case (n, c) => col(c).as(n) }: _*)
    }

    // selectivity rank: more constants first; constant predicate breaks
    // ties (it is the partition-pruning column at scale)
    def rank(p: TriplePattern): (Int, Int) = {
      val consts = Seq(p.s, p.p, p.o).count(_.isInstanceOf[C]) +
        p.kind.size
      val predConst = p.p match { case C(_) => 1; case _ => 0 }
      (consts, predConst)
    }

    // greedy inner-join chain over one pattern group
    def joinChain(group: Seq[TriplePattern]): (DataFrame, Set[String]) = {
      val remaining = scala.collection.mutable.ArrayBuffer(group: _*)
      val first = remaining.maxBy(rank)
      remaining -= first
      var acc = scan(first)
      var bound = vars(first).toSet
      while (remaining.nonEmpty) {
        val connected = remaining.filter(p => vars(p).exists(bound))
        val next =
          if (connected.nonEmpty) connected.maxBy(p => (vars(p).count(bound), rank(p)))
          else remaining.maxBy(rank) // disconnected BGP: deliberate cross join
        remaining -= next
        val shared = vars(next).filter(bound).distinct
        acc =
          if (shared.nonEmpty) acc.join(scan(next), shared)
          else acc.crossJoin(scan(next))
        bound ++= vars(next)
      }
      (acc, bound)
    }

    val (required, requiredVars) = joinChain(patterns)
    var introduced = Set.empty[String] // vars bound only by earlier optionals
    val joined = optionals.foldLeft(required) { (acc, group) =>
      require(group.nonEmpty, "empty OPTIONAL group")
      val (opt, optVars) = joinChain(group)
      val clash = optVars.intersect(introduced)
      require(clash.isEmpty,
        s"variables ${clash.mkString(", ")} are bound by two OPTIONAL groups " +
          "— join through a required variable instead")
      val keys = optVars.intersect(requiredVars).toSeq.sorted
      require(keys.nonEmpty,
        "OPTIONAL group shares no variable with the required patterns")
      introduced ++= optVars -- requiredVars
      acc.join(opt, keys, "left")
    }
    // pin the documented column contract (first-mention order) — the
    // greedy join order would otherwise leak into the output layout
    val mentionOrder = (patterns ++ optionals.flatten)
      .flatMap(vars).distinct
    joined.select(mentionOrder.map(col): _*)
  }

  /** SPARQL-CONSTRUCT-style derived-edge materialization: match `patterns`
    * and emit one `(subjVar, predIri, objVar)` IRI-to-IRI triple per
    * distinct solution — the "shortcut edge" pass a KG pipeline runs to
    * make multi-hop relations directly queryable (e.g. event→location→
    * parentOrganization ⟹ event→affiliatedWith→org).
    *
    * Restricted to IRI-kind outputs on purpose: the solution columns are
    * bare lexical forms (matchBgp does not carry node kinds through
    * joins), so emitting literals would require guessing datatypes.
    * Derived ENTITY edges — the dominant CONSTRUCT use in graph
    * materialization — need no such guess. Constrain the bound vars to
    * IRIs at the pattern level (`kind = Some(0)`) when the data could
    * bind bnodes/literals.
    *
    * Output schema = the full [[Triple]] row (datatype/lang null,
    * default graph), distinct — ready to union into the triples table. */
  def constructEdges(triples: DataFrame, patterns: Seq[TriplePattern],
      subjVar: String, predIri: String, objVar: String): DataFrame =
    matchBgp(triples, patterns)
      .select(
        col(subjVar).as("subj"),
        lit(predIri).as("pred"),
        lit(0).cast("tinyint").as("objKind"),
        col(objVar).as("objValue"),
        lit(null).cast("string").as("objDatatype"),
        lit(null).cast("string").as("objLang"),
        lit("@default").as("graph"))
      .distinct()

  /** Bounded transitive closure of one predicate: all (src, dst) pairs
    * connected by a directed path of 1..maxDepth edges, with the MINIMUM
    * depth. SPARQL `pred+` with a depth budget — the depth budget is the
    * scale guard (an unbounded `+` over a crawl graph with cycles and
    * 10^9-node components is not a job you run; a bounded closure is).
    *
    * Scale shape: classic frontier BFS —
    *
    *  - the edge set is deduplicated once and checkpointed (it is read
    *    by every level);
    *  - sources with out-degree > maxDegree are excluded from EXTENDING
    *    paths (same documented exclusion as [[GraphMaterialize.twoHopCounts]]:
    *    a 10^5-out-degree hub multiplies every incoming frontier row) —
    *    their own depth-1 edges still appear;
    *  - each level joins the previous NEW frontier (not the whole
    *    reachable set) against the edges, anti-joins against the
    *    accumulated pairs (min-depth semantics for free), and
    *    checkpoints — the plan stays O(1) deep and a level's shuffle is
    *    proportional to the frontier, not the closure;
    *  - early exit on an empty frontier (one bounded count action per
    *    level, ≤ maxDepth actions total).
    *
    * At production scale both `reach` and `edges` are bucketed by their
    * join key so the per-level join co-locates; cycles are handled by the
    * anti-join (a node reached again at greater depth adds nothing).
    * Self-pairs (src = dst) ARE emitted when a cycle returns to its
    * origin (depth = cycle length) — both engines derive them alike.
    * Eager by contract, like [[GraphMaterialize.hubScores]]; the leaves
    * (edges + one per level) carry no named cache entry — a standalone
    * 6-pass repeat run measured flat per-pass times, no block
    * accumulation (the in-bench pass growth was session interference). */
  def pathClosure(triples: DataFrame, pred: String, maxDepth: Int,
      maxDegree: Int = 1024): DataFrame =
    pathClosure(triples, Seq(pred), maxDepth, maxDegree)

  /** Alternation form: closure of `(p1|p2|…)+` — one edge set over all
    * the listed predicates. */
  def pathClosure(triples: DataFrame, preds: Seq[String], maxDepth: Int,
      maxDegree: Int): DataFrame =
    closureOfEdges(predEdges(triples, preds), maxDepth, maxDegree)

  /** Entity-to-entity edge frame of a predicate alternation — the
    * shared front of [[pathClosure]] and [[seededDistances]]. */
  private def predEdges(triples: DataFrame, preds: Seq[String]): DataFrame = {
    require(preds.nonEmpty, "no predicates")
    triples
      .filter(col("pred").isin(preds: _*) && col("objKind") === 0)
      .select(col("subj").as("src"), col("objValue").as("dst"))
  }

  /** Shared BFS scaffolding: self-edge-trimmed distinct edges plus the
    * hub-guard extendable subset (sources with out-degree ≤ maxDegree),
    * both checkpointed — ONE definition of the guard so the closure and
    * the seeded-distances variants can never silently disagree. */
  private def guardedEdges(pairs: DataFrame, maxDegree: Int): (DataFrame, DataFrame) = {
    // lazy leaves (optimization r6): the first BFS level's count()
    // fills `edges`; the first level-2 step fills `extendable` — no
    // standalone jobs, same plan cut and multi-branch reuse as before.
    val edges = Leaf(pairs
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
      .distinct(), eager = false)
    val okSrc = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .filter(col("d") <= maxDegree).select(col("src"))
    (edges, Leaf(edges.join(okSrc, Seq("src")), eager = false))
  }

  /** Bounded `+` closure of an ARBITRARY (src, dst) pair frame — the
    * core [[pathClosure]] always used, factored out so [[evalPath]] can
    * close over composed path results, not just predicate edge sets.
    * Self-edges are trimmed (they change no reachability pair except
    * (a,a), and dropping them is what bounds the BFS); sources above
    * `maxDegree` still emit their direct edges but are not extended
    * THROUGH (the hub guard, unchanged). */
  private[pipeline] def closureOfEdges(pairs: DataFrame, maxDepth: Int,
      maxDegree: Int): DataFrame = {
    require(maxDepth >= 1, "maxDepth must be >= 1")
    val (edges, extendable) = guardedEdges(pairs, maxDegree)

    // per-level frames are LEAVES; the accumulated reach set is their
    // union (never itself cut again — Spark 4's LogicalRDD constraint
    // rewrite chokes on a leaf over a union of leaves, and the union of
    // ≤ maxDepth leaves is already O(1)-deep). Lazy leaves fused with the
    // frontier emptiness check: count() fills every partition of the
    // level (isEmpty would stop at the first row and leave partitions
    // unfilled), so one level = one job (the eager form ran checkpoint +
    // isEmpty = two; optimization r6).
    var levels = List(Leaf(edges.withColumn("depth", lit(1)), eager = false))
    var frontier = levels.head
    var d = 1
    var frontierNonEmpty = frontier.count() > 0
    while (d < maxDepth && frontierNonEmpty) {
      d += 1
      val stepped = frontier.as("f")
        .join(extendable.as("e"), col("f.dst") === col("e.src"))
        .select(col("f.src").as("src"), col("e.dst").as("dst"))
        .distinct()
      val seen = levels.map(_.select("src", "dst")).reduce(_ unionByName _)
      val fresh = Leaf(stepped
        .join(seen, Seq("src", "dst"), "left_anti")
        .withColumn("depth", lit(d)), eager = false)
      levels ::= fresh
      frontier = fresh
      frontierNonEmpty = fresh.count() > 0
    }
    levels.reduce(_ unionByName _)
  }

  /** Seeded BFS distances: the minimum hop count from a seed SET to
    * every reachable node along the given predicates, bounded by
    * `maxDepth`. The scale-honest complement of [[pathClosure]]: closure
    * materializes ALL reachable (src, dst) pairs — O(V·reach) state,
    * the right shape when every source matters — while a seeded BFS
    * keeps one row per REACHED NODE (dist column, seeds at 0), so
    * exploring the k-hop neighborhood of a handful of entities (the
    * entity-linking context-gathering step, or "what does this hub
    * touch within 3 hops") costs O(reachable) rows however large the
    * graph is. Seed sets are human-scale by contract (an `isin`
    * literal, like [[GraphMaterialize.personalizedPageRank]]'s
    * teleport set).
    *
    * Semantics match [[closureOfEdges]] exactly: self-edges trimmed,
    * min-dist per node (per-level anti-join on the seen set), and the
    * same hub guard — the FIRST hop out of a seed may leave any node,
    * but paths only extend THROUGH sources with out-degree ≤
    * `maxDegree`. Per level: one key-partitioned join frontier⋈edges
    * (frontier rows are 8-byte-id + int), one distinct, one anti-join;
    * each level frame is a leaf (the multi-branch rule —
    * the seen union references every prior level). Eager by contract. */
  def seededDistances(triples: DataFrame, seeds: Seq[String],
      preds: Seq[String], maxDepth: Int, maxDegree: Int = 1024): DataFrame = {
    require(seeds.nonEmpty, "no seeds")
    require(maxDepth >= 1, "maxDepth must be >= 1")
    val spark = triples.sparkSession
    import spark.implicits._
    val (edges, extendable) = guardedEdges(predEdges(triples, preds), maxDegree)

    // lazy leaf + count() per level, like [[closureOfEdges]]
    // (optimization r6): one job per BFS level instead of two
    var levels = List(Leaf(seeds.distinct.toDF("node")
      .withColumn("dist", lit(0)), eager = false))
    var frontier = levels.head
    var d = 0
    var frontierNonEmpty = frontier.count() > 0
    while (d < maxDepth && frontierNonEmpty) {
      d += 1
      // first hop out of a seed may leave a hub; later hops may not
      val step = if (d == 1) edges else extendable
      val stepped = frontier.as("f")
        .join(step.as("e"), col("f.node") === col("e.src"))
        .select(col("e.dst").as("node")).distinct()
      val seen = levels.map(_.select("node")).reduce(_ unionByName _)
      val fresh = Leaf(stepped
        .join(seen, Seq("node"), "left_anti")
        .withColumn("dist", lit(d)), eager = false)
      levels ::= fresh
      frontier = fresh
      frontierNonEmpty = fresh.count() > 0
    }
    levels.reduce(_ unionByName _)
  }

  /** SPARQL 1.1 property-path algebra (the composable subset with
    * graph-bounded semantics): a predicate atom, inverse `^p`, sequence
    * `p/q`, alternation `p|q`, and bounded `p+`. Zero-length forms
    * (`p?`, `p*`) are deliberately absent — their identity component
    * ranges over every RDF term in the graph, which at corpus scale is a
    * full-term-universe materialization, not a path query; rewrite
    * `p?`-shaped needs as `Alt` with an explicit identity frame.
    *
    * Reference scope: json-ld.net has no query surface at all (SURVEY.md
    * §2.4) — this extends the repo's read-side layer the same way
    * [[matchBgp]]/[[pathClosure]] do, and stays fully ANSI-SQL-
    * expressible (joins/unions/one bounded recursive CTE) for the
    * driver's DuckDB oracle. */
  sealed trait PathExpr extends Product with Serializable
  object PathExpr {
    /** Atom: all (subj, obj) pairs of one predicate, IRI objects only. */
    final case class P(iri: String) extends PathExpr
    /** Inverse `^p`: swap endpoints. */
    final case class Inv(p: PathExpr) extends PathExpr
    /** Sequence `a/b`: relational composition. */
    final case class Seq2(a: PathExpr, b: PathExpr) extends PathExpr
    /** Alternation `a|b`: union. */
    final case class Alt(a: PathExpr, b: PathExpr) extends PathExpr
    /** Bounded `p+`: 1..maxDepth compositions of `p` with itself. */
    final case class Plus(p: PathExpr, maxDepth: Int,
        maxDegree: Int = 1024) extends PathExpr
  }

  /** Evaluate a path expression to its DISTINCT (src, dst) pair frame.
    *
    * Plan shape: atoms are constant-pruned scans of the triples table
    * (predicate pushdown visible in the scan); Inv is a projection;
    * Seq2 is one equi-join on the composition key (both sides exit
    * distinct-aggregation exchanges hashed on that key — co-partitioned
    * under AQE); Alt is a union folded into the downstream distinct;
    * Plus checkpoints per BFS level via [[closureOfEdges]] (the hub
    * guard and per-level anti-join semantics of [[pathClosure]],
    * unchanged). Expression trees are human-query-sized, so plan depth
    * is bounded by the query, not the data; only Plus materializes. */
  def evalPath(triples: DataFrame, expr: PathExpr): DataFrame = {
    import PathExpr._
    expr match {
      case P(iri) =>
        triples.filter(col("pred") === iri && col("objKind") === 0)
          .select(col("subj").as("src"), col("objValue").as("dst"))
          .distinct()
      case Inv(p) =>
        evalPath(triples, p)
          .select(col("dst").as("src"), col("src").as("dst"))
      case Seq2(a, b) =>
        evalPath(triples, a).as("a")
          .join(evalPath(triples, b).as("b"), col("a.dst") === col("b.src"))
          .select(col("a.src").as("src"), col("b.dst").as("dst"))
          .distinct()
      case Alt(a, b) =>
        evalPath(triples, a).unionByName(evalPath(triples, b)).distinct()
      case Plus(p, maxDepth, maxDegree) =>
        closureOfEdges(evalPath(triples, p), maxDepth, maxDegree)
          .select(col("src"), col("dst"))
    }
  }
}
