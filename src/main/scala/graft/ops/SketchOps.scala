package graft.ops

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Leaf

/** HyperLogLog cardinality sketches and their webgraph application
  * (HyperBall-style r-hop neighborhood-size estimation).
  *
  * Why this exists at 100 TB: `COUNT(DISTINCT x) GROUP BY g` shuffles
  * every distinct (g, x) pair — at 10^12 documents that is the full
  * corpus over the wire. The HLL register array is a fixed 2^p bytes of
  * mergeable state per group: the typed `Aggregator` below folds rows
  * into registers ON THE MAP SIDE and only the m-byte buffers cross the
  * exchange, so the shuffle is O(groups × m) regardless of row count —
  * the canonical sketch win (Flajolet et al. 2007; HyperBall per
  * Boldi & Vigna, "In-core computation of geometric centralities with
  * HyperBall", 2013 — both public papers, see PAPERS.md).
  *
  * Determinism contract (what makes these DuckDB-oracle-checkable, unlike
  * Spark's own `approx_count_distinct`): the hash is the repo's
  * mix64∘fnv1a64 ([[TextHash]]), a pure function of the string; register
  * merge is an elementwise max (associative, commutative, idempotent) —
  * so the register state is independent of partitioning, task order, and
  * cluster size, and the oracle re-derives the registers from the raw
  * strings in pure SQL (FNV loop via `list_reduce`, the two mix64
  * multiplies via 32-bit-split mulmod, rho via `length(bin(suffix))`).
  * No approximation enters the CORRECTNESS gate: the gated columns are
  * the exact integer register summary; the float estimate lives in
  * [[estimate]] and is accuracy-asserted in SketchSpec.
  *
  * Register summary encoding: with K = 64-p, a register holds
  * rho ∈ [0, K+1] (0 = never touched). The harmonic sum Σ 2^-rho is
  * carried exactly as the pair (s_hi, s_lo): each bucket contributes
  * term = 2^(K+1-rho), split as s_hi += term >> 28, s_lo += term & (2^28-1).
  * Both halves stay ≤ 2^40 for p ≤ 12, so BIGINT arithmetic in both
  * engines is exact and overflow-free; Σ 2^-rho = ((s_hi<<28)+s_lo) / 2^(K+1).
  */
object SketchOps {

  /** The sketch hash: one avalanche-mixed 64-bit value per string. */
  @inline def hash64(s: String): Long =
    TextHash.mix64(TextHash.fnv1a64(s, 0, s.length))

  /** Top p bits select the register. */
  @inline def bucketOf(h: Long, p: Int): Int = (h >>> (64 - p)).toInt

  /** Rank of the remaining K = 64-p bits: 1 + leading-zero count within
    * the K-bit window (K+1 when the whole window is zero). Matches the
    * oracle's `65 - p - length(bin(suffix))`. */
  @inline def rhoOf(h: Long, p: Int): Byte = {
    val suffix = h & ((1L << (64 - p)) - 1L)
    if (suffix == 0L) (64 - p + 1).toByte
    else (java.lang.Long.numberOfLeadingZeros(suffix) - p + 1).toByte
  }

  /** A fresh register array with only `s`'s own register set — the
    * HyperBall ball(v, 0) = {v} initial state. */
  def registersOf(s: String, p: Int): Array[Byte] = {
    val regs = new Array[Byte](1 << p)
    val h = hash64(s)
    regs(bucketOf(h, p)) = rhoOf(h, p)
    regs
  }

  /** Exact integer summary of a register array (see encoding note above).
    * n_zero additionally feeds linear counting in [[estimate]]. */
  final case class HllSummary(n_zero: Long, s_hi: Long, s_lo: Long)

  def summarize(regs: Array[Byte], p: Int): HllSummary = {
    val kp1 = 64 - p + 1
    var zeros = 0L; var hi = 0L; var lo = 0L
    var i = 0
    while (i < regs.length) {
      val e = kp1 - (regs(i) & 0xFF) // term = 2^e, e ∈ [0, K+1]
      if (e == kp1) zeros += 1L
      if (e >= 28) hi += 1L << (e - 28) else lo += 1L << e
      i += 1
    }
    HllSummary(zeros, hi, lo)
  }

  /** The standard HLL estimator (bias-corrected raw + linear counting for
    * the small range) over the exact summary. Spec-asserted accuracy;
    * never part of the hash-matched oracle row (it is IEEE float math). */
  def estimate(s: HllSummary, p: Int): Double = {
    val m = 1 << p
    val alpha =
      if (m <= 16) 0.673 else if (m <= 32) 0.697 else if (m <= 64) 0.709
      else 0.7213 / (1.0 + 1.079 / m)
    val sumScaled = (BigInt(s.s_hi) << 28) + BigInt(s.s_lo) // Σ 2^(K+1-rho)
    val raw = alpha * m.toDouble * m.toDouble *
      math.pow(2.0, 64 - p + 1) / sumScaled.toDouble
    if (raw <= 2.5 * m && s.n_zero > 0) m * math.log(m.toDouble / s.n_zero)
    else raw
  }

  /** Typed HLL aggregator: String in, m-byte register buffer across the
    * shuffle, exact integer summary out. Buffer mutation is safe — Spark
    * gives each group its own buffer instance and reduce/merge own it. */
  class HllAgg(p: Int) extends Aggregator[String, Array[Byte], HllSummary] {
    override def zero: Array[Byte] = new Array[Byte](1 << p)
    override def reduce(b: Array[Byte], s: String): Array[Byte] = {
      if (s != null) {
        val h = hash64(s)
        val i = bucketOf(h, p)
        val r = rhoOf(h, p)
        if ((b(i) & 0xFF) < (r & 0xFF)) b(i) = r
      }
      b
    }
    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < a.length) {
        if ((b(i) & 0xFF) > (a(i) & 0xFF)) a(i) = b(i)
        i += 1
      }
      a
    }
    override def finish(b: Array[Byte]): HllSummary = summarize(b, p)
    override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    override def outputEncoder: Encoder[HllSummary] = Encoders.product[HllSummary]
  }

  /** Register-array max-merge (HyperBall's union step): the ball registers
    * of a node are the elementwise max of its own and its successors'. */
  class RegMergeAgg(p: Int) extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
    override def zero: Array[Byte] = new Array[Byte](1 << p)
    override def reduce(b: Array[Byte], in: Array[Byte]): Array[Byte] = merge(b, in)
    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < a.length) {
        if ((b(i) & 0xFF) > (a(i) & 0xFF)) a(i) = b(i)
        i += 1
      }
      a
    }
    override def finish(b: Array[Byte]): Array[Byte] = b
    override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Astral code points (> U+FFFF) hash as surrogate PAIRS on the JVM but
    * as single code points in the oracle's SQL — refuse them loudly
    * rather than let the two engines silently diverge. The synthetic
    * corpus is ASCII; a production corpus would pin one convention. */
  private def asciiGuarded(c: org.apache.spark.sql.Column) =
    when(c.rlike("[\\x{10000}-\\x{10FFFF}]"),
      raise_error(concat(lit("sketch hash: astral code point in "), c)))
      .otherwise(c)

  /** Per-group distinct-cardinality register summary:
    * (group, n_zero, s_hi, s_lo), one row per group.
    *
    * Plan shape: a single hash-aggregate — partial HllAgg buffers on the
    * map side, m-byte buffers through the exchange, final merge+summarize
    * on the reduce side. No distinct, no second shuffle. */
  def distinctSketch(df: DataFrame, groupCol: String, valueCol: String, p: Int): DataFrame = {
    val agg = functions.udaf(new HllAgg(p), Encoders.STRING)
    df.groupBy(col(groupCol))
      .agg(agg(asciiGuarded(col(valueCol))).as("hll"))
      .select(col(groupCol),
        col("hll.n_zero").as("n_zero"),
        col("hll.s_hi").as("s_hi"),
        col("hll.s_lo").as("s_lo"))
  }

  /** HyperBall: for every node of the directed IRI graph, the HLL
    * register summary of its radius-`radius` out-ball (self included).
    *
    * Per round: contributions = edges ⋈ state (register arrays ride the
    * join keyed by edge target), then one max-merge hash-aggregate per
    * node. State is cut to an eager leaf each round — the repo's
    * multi-branch/iterative-plan rule (pointer-jumping lesson, BENCH/
    * PLANS.md): without it round r replays rounds 1..r-1.
    *
    * Scale: state is |V| × 2^p bytes; the join shuffles register arrays
    * once per round with map-side partial max-merge absorbing hub
    * fan-in — no degree cap needed, unlike exact twoHopCounts, which is
    * the point of the sketch (Boldi & Vigna 2013). */
  def hyperBall(triples: DataFrame, radius: Int, p: Int): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val merge = functions.udaf(new RegMergeAgg(p), Encoders.BINARY)

    val edges = Leaf(triples
      .filter(col("objKind") === 0 && col("subj") =!= col("objValue"))
      .select(asciiGuarded(col("subj")).as("src"), asciiGuarded(col("objValue")).as("dst"))
      .distinct(), eager = true)
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()

    var state = Leaf(nodes.as[String].map(n => (n, registersOf(n, p)))
      .toDF("node", "regs"), eager = true)
    var r = 0
    while (r < radius) {
      val contrib = edges.join(state, edges("dst") === state("node"))
        .select(edges("src").as("node"), col("regs"))
      state = Leaf(state.union(contrib)
        .groupBy("node").agg(merge(col("regs")).as("regs")), eager = true)
      r += 1
    }
    state.as[(String, Array[Byte])]
      .map { case (n, regs) =>
        val s = summarize(regs, p)
        (n, s.n_zero, s.s_hi, s.s_lo)
      }
      .toDF("node", "n_zero", "s_hi", "s_lo")
  }

  // -------------------------------------------------------------------
  // Count-Min Sketch: the FREQUENCY twin of the HLL cardinality sketch
  // (Cormode & Muthukrishnan 2005, public paper — PAPERS.md). Where HLL
  // answers "how many distinct?", CMS answers "roughly how often?" in
  // the same fixed-memory mergeable-state shape: a d×w counter matrix
  // folded on the map side, only d·w longs crossing the exchange — the
  // hot-key detector a 10^12-row mention stream needs (the broadcast
  // dictionary in linkEntitiesScalable must be FOUND before it can be
  // broadcast, and an exact groupBy over the stream is the very shuffle
  // the sketch exists to avoid).
  //
  // Determinism contract (same as HLL): counters are integer SUMS —
  // associative/commutative — so the register matrix is a pure function
  // of the input multiset, independent of partitioning and task order,
  // and the oracle re-derives every register from the raw strings in
  // SQL. The d row-hashes are Kirsch-Mitzenmacher double hashing off the
  // single mix64∘fnv1a64 value: h1 = top 32 bits, h2 = low 32 bits
  // forced odd (odd ⇒ coprime with the power-of-two width, so no row
  // degenerates), col_j = (h1 + j·h2) mod w — trivially re-expressible
  // in the oracle's integer SQL, unlike d independent seeded hashes.
  // -------------------------------------------------------------------

  /** Row-j column of value-hash `h` in a width-`w` (power of two) CMS. */
  @inline def cmsCol(h: Long, j: Int, w: Int): Int = {
    val h1 = h >>> 32
    val h2 = (h & 0xFFFFFFFFL) | 1L
    ((h1 + j * h2) & (w - 1)).toInt
  }

  /** Typed CMS aggregator: String in, d·w-long counter matrix (row-major)
    * as buffer and output. Buffer mutation is safe — Spark gives each
    * group its own buffer and reduce/merge own it. */
  class CmsAgg(d: Int, w: Int) extends Aggregator[String, Array[Long], Array[Long]] {
    require((w & (w - 1)) == 0 && w > 0, s"CMS width must be a power of two, got $w")
    override def zero: Array[Long] = new Array[Long](d * w)
    override def reduce(b: Array[Long], s: String): Array[Long] = {
      if (s != null) {
        val h = hash64(s)
        var j = 0
        while (j < d) { b(j * w + cmsCol(h, j, w)) += 1L; j += 1 }
      }
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** The d×w counter matrix of `valueCol`'s multiset — ONE hash-aggregate
    * (map-side partial matrices, one d·w·8-byte buffer per partition
    * through the exchange), then a bounded driver collect of the single
    * merged matrix (d·w·8 bytes — 32 KB at the default 4×1024, same
    * bounded-collect class as the 32 IVF centroids). */
  def cmsRegisters(df: DataFrame, valueCol: String, d: Int, w: Int): Array[Long] = {
    val agg = functions.udaf(new CmsAgg(d, w), Encoders.STRING)
    df.select(asciiGuarded(col(valueCol)).as("v"))
      .agg(agg(col("v")).as("regs"))
      .head().getAs[scala.collection.Seq[Long]]("regs").toArray
  }

  // -------------------------------------------------------------------
  // Bloom filter: the MEMBERSHIP sketch completing the family (HLL =
  // distinct counts, CMS = frequencies, Bloom = set membership). The
  // 100 TB use is the runtime semi-join filter: build the bit array
  // over the small side's join keys (one agg, m/8 bytes of mergeable
  // state), embed it in a codegen'd probe expression on the fact side,
  // and most fact rows die INSIDE the scan stage before any exchange —
  // what Spark's own `InjectRuntimeFilter` does for equi-joins, here as
  // an explicit operator the pipeline can aim at the mention stream
  // ahead of the entity-link join. Same determinism contract as CMS:
  // bits are ORs of Kirsch-Mitzenmacher positions off mix64∘fnv1a64
  // (order-independent), so the oracle re-derives the exact bit set —
  // INCLUDING false positives — from the raw strings in SQL.
  // -------------------------------------------------------------------

  /** All `k` bloom bits of `s` set in `words`? Bit i lives at
    * [[cmsCol]](h, i, mBits) (the same double-hash stream as CMS).
    * Called from generated code (see BloomMightContain), so it must
    * stay a static-forwarder-reachable pure function. */
  def bloomProbe(words: Array[Long], s: String, k: Int): Boolean = {
    val h = hash64(s)
    val mBits = words.length << 6
    var i = 0
    while (i < k) {
      val idx = cmsCol(h, i, mBits)
      if ((words(idx >>> 6) & (1L << (idx & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** Typed Bloom aggregator: String in, mBits/64-long word array as
    * buffer and output; reduce sets k bits, merge is elementwise OR —
    * associative/commutative/idempotent, so the bit array is a pure
    * function of the key SET. */
  class BloomAgg(mBits: Int, k: Int) extends Aggregator[String, Array[Long], Array[Long]] {
    require((mBits & (mBits - 1)) == 0 && mBits >= 64,
      s"bloom size must be a power of two >= 64 bits, got $mBits")
    override def zero: Array[Long] = new Array[Long](mBits >>> 6)
    override def reduce(b: Array[Long], s: String): Array[Long] = {
      if (s != null) {
        val h = hash64(s)
        var i = 0
        while (i < k) {
          val idx = cmsCol(h, i, mBits)
          b(idx >>> 6) |= 1L << (idx & 63)
          i += 1
        }
      }
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** The bit array of `valueCol`'s key set — ONE hash-aggregate with
    * map-side partial OR, then a bounded driver collect (mBits/8 bytes;
    * 512 KiB at the 2^22 default — the same bounded-collect class as
    * the CMS matrix). Eager by contract. */
  def bloomBits(df: DataFrame, valueCol: String, mBits: Int, k: Int): Array[Long] = {
    val agg = functions.udaf(new BloomAgg(mBits, k), Encoders.STRING)
    df.select(asciiGuarded(col(valueCol)).as("v"))
      .agg(agg(col("v")).as("bits"))
      .head().getAs[scala.collection.Seq[Long]]("bits").toArray
  }

  /** Point-estimate `min_j regs[j][col_j(value)]` for each candidate, kept
    * when ≥ `threshold`. CMS never underestimates, so every true heavy
    * hitter survives; collisions can only add false positives, bounded by
    * the standard (e/w)·N guarantee. The matrix rides a broadcast (32 KB);
    * the candidate pass is a zero-shuffle map. Candidates are the
    * caller's: at toy scale the distinct values, at 10^12 rows a term
    * dictionary or per-partition local-top-k union (any global heavy
    * hitter is heavy in ≥1 partition, so the union is a superset).
    * Eager by contract (like the dedup sketch builders): calling this
    * runs the register-build job. */
  def cmsHeavyHitters(items: DataFrame, candidates: DataFrame, valueCol: String,
      candCol: String, d: Int, w: Int, threshold: Long): DataFrame = {
    val spark = items.sparkSession
    import spark.implicits._
    val regs = cmsRegisters(items, valueCol, d, w)
    val bc = spark.sparkContext.broadcast(regs)
    candidates.select(asciiGuarded(col(candCol)).as("v")).as[String]
      .map { s =>
        val h = hash64(s)
        var est = Long.MaxValue
        var j = 0
        while (j < d) {
          val c = bc.value(j * w + cmsCol(h, j, w))
          if (c < est) est = c
          j += 1
        }
        (s, est)
      }
      .toDF(candCol, "est_count")
      .filter(col("est_count") >= threshold)
  }
}
