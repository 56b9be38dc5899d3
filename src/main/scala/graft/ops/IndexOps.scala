package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Leaf

/** Retrieval-index operators over the `documents` table: inverted-index
  * construction (the posting-list artifact a web-scale search / RAG
  * pipeline materializes next to its embedding index) and BM25-style
  * keyword search over it.
  *
  * Scale shape shared by both: every global exchange carries 8-byte
  * xxhash64 term keys + 8-byte doc ids, never term strings (the
  * q_ngram_topk / topTermsTfIdf discipline, including the collision
  * tripwire on string recovery); per-key aggregation state is bounded
  * by construction (df caps for postings, a broadcast term set for
  * search), so no stopword key can accumulate unbounded state.
  */
object IndexOps {

  /** Whitespace tokens of the lowercased text, empties removed. */
  private[ops] def toks(text: Column): Column =
    filter(split(trim(lower(text)), "\\s+"), t => t =!= "")

  /** Word n-gram phrases from an ALREADY-MATERIALIZED token-array column
    * as ONE in-row array (space-joined; empty when under `n` tokens).
    * `w` MUST be a materialized attribute — the lambda references it per
    * element, and an inlined tokenize subtree would be re-split once per
    * gram: O(T²) per document (measured 8×/4 s on this corpus' 54-token
    * docs, quadratically worse on real pages — CurationOps.tokenNgramsOf
    * documents the same contract). */
  private[ops] def phraseGramsOf(w: Column, n: Int): Column =
    when(size(w) >= n,
      transform(sequence(lit(0), size(w) - n),
        i => array_join(slice(w, i + 1, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Inverted phrase index over word `n`-grams: for every indexed term,
    * its document frequency, total occurrence count, and the full sorted
    * posting list (comma-joined doc ids — a flat artifact any engine can
    * re-derive and compare). Terms outside the df band
    * [`minDf`, corpus_size·maxDfMilli/1000 (integer math, floored at
    * minDf)] are excluded: hapax terms
    * are index noise, and above-band terms are the stopword mass a
    * production index drops (or routes to a separate impact-ordered
    * structure) — BOTH bounds are part of the operator's contract, not
    * an optimization.
    *
    * Scale shape:
    *   1. one narrow scan builds each doc's grams IN-ROW and explodes to
    *      (doc_id, h) — 16-byte rows, strings never exchanged;
    *   2. tf = hash agg on (doc_id, h), map-side partial counts; the tf
    *      frame feeds THREE consumers (df, postings, the band filter), so
    *      it is checkpointed once (the multi-branch rule; eager, like the
    *      sketch builders);
    *   3. df = count agg on h (O(1) state per key) → the band filter —
    *      BEFORE any posting list exists, so collect_list state is
    *      bounded by maxDf and a stopword gram can never blow a task
    *      (the order of ops IS the skew guard);
    *   4. posting lists collect only for in-band terms (≤ maxDf 8-byte
    *      ids per key); term strings are recovered for in-band hashes
    *      only via a second narrow scan + semi-join, with a raise_error
    *      tripwire if any hash maps to >1 distinct gram (a 64-bit
    *      collision would merge two terms' postings — refuse loudly,
    *      never mislabel). */
  def invertedIndex(documents: DataFrame, n: Int = 2, minDf: Long = 2L,
                    maxDfMilli: Long = 200L): DataFrame = {
    require(n >= 1 && minDf >= 1 && maxDfMilli >= 1 && maxDfMilli <= 1000)
    val nDocs = documents.count()
    val maxDf = math.max(minDf, nDocs * maxDfMilli / 1000L)
    val grams = documents
      .select(col("doc_id").cast("long").as("doc_id"), toks(col("text")).as("w"))
      .select(col("doc_id"), explode(phraseGramsOf(col("w"), n)).as("gram"))
    // tf's two consumers (the df band agg and the postings semi-join)
    // both take it exchanged on `h` — ReuseExchange computes the scan +
    // agg once without a checkpoint (optimization r6; verified in the
    // audited plan)
    val tf = grams.select(col("doc_id"), xxhash64(col("gram")).as("h"))
      .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("tf"))
    val band = tf.groupBy(col("h"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
    val postings = tf.join(band.select(col("h")), Seq("h"), "left_semi")
      .groupBy(col("h"))
      .agg(array_join(sort_array(collect_list(col("doc_id"))), ",").as("postings"))
    val names = grams.select(xxhash64(col("gram")).as("h"), col("gram"))
      .join(band.select(col("h")), Seq("h"), "left_semi")
      .dropDuplicates("h", "gram")
    val perHash = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val recovered = names
      .withColumn("n_strings", count(lit(1)).over(perHash))
      .select(col("h"),
        when(col("n_strings") > 1,
          raise_error(concat(lit("xxhash64 collision on gram hash "),
            col("h").cast("string"), lit(" — postings were merged"))))
          .otherwise(col("gram")).as("term"))
    band.join(postings, Seq("h")).join(recovered, Seq("h"))
      .select(col("term"), col("df"), col("tf_total"), col("postings"))
  }

  /** BM25 parameters, integer-scaled (k1 = 1.2, b = 0.75 at scale 1000)
    * — shared verbatim with the SQL oracle. */
  val BmK1Milli = 1200L
  val BmBMilli = 750L

  /** BM25-style keyword search: top-`k` documents for a bag of query
    * terms, scored with an INTEGER BM25 surrogate (the repo's
    * float-parity rule — every division is a truncating integer div on
    * non-negative operands, every sum is integral, so distributed and
    * single-node engines agree bit-for-bit):
    *
    *   dlr    = (dl * 1000 * N) div T                  ≈ 1000·dl/avgdl
    *   denom  = tf·10^6 + (k1·(250000 + 750·dlr)) div 1000
    *   tfn    = (tf · 2200 · 10^6) div denom           ≈ 1000·BM25 tf part
    *   idf    = ((N − df) · 1000) div (df + 1)         (ratio surrogate:
    *            steeper than the log idf but identically ordered in df)
    *   score  = Σ_terms idf · tfn
    *
    * Unit bound: idf·tfn < 2200·10^6·N/df — at 10^12 docs with df = 1
    * this overflows a signed long, so shrink the idf scale (or floor df)
    * at that regime; the ranking is scale-invariant (same rule as
    * hubScores' unit note).
    *
    * Scale shape: the query's term hashes ride a BROADCAST; the corpus
    * side is one narrow scan → in-row tokens → explode → broadcast-hash
    * semi-probe BEFORE any aggregation, so only query-term occurrences
    * (a vanishing fraction of the corpus) ever reach a shuffle; df and
    * the final per-doc sum are hash aggs on 16-byte keys. Corpus stats
    * (N, total tokens) are one bounded 1-row agg. No full-corpus
    * exchange anywhere. */
  def bm25Search(documents: DataFrame, queryTerms: Seq[String],
                 k: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty && k >= 1)
    val spark = documents.sparkSession
    import spark.implicits._
    // lazy: the stats collect below fills the blocks, the tf branch then
    // reads them (one job, not two — optimization r6)
    val docToks = Leaf(documents.select(col("doc_id").cast("long").as("doc_id"),
      toks(col("text")).as("w")), eager = false)
    val Array(nDocs, totToks) = docToks
      .agg(count(lit(1)), sum(size(col("w")))).collect()
      .map(r => Array(r.getLong(0), r.getLong(1))).head
    val qKeys = queryTerms.toDF("term")
      .select(xxhash64(lower(col("term"))).as("h")).distinct()
    val tf = docToks
      .select(col("doc_id"), size(col("w")).cast("long").as("dl"),
        explode(col("w")).as("term"))
      .select(col("doc_id"), col("dl"), xxhash64(col("term")).as("h"))
      .join(broadcast(qKeys), Seq("h"), "left_semi")
      .groupBy(col("doc_id"), col("dl"), col("h")).agg(count(lit(1)).as("tf"))
      // feeds df + the scoring branch, both exchanged on `h` —
      // ReuseExchange computes it once, no checkpoint (optimization r6)
    val dfreq = tf.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, Seq("h"))
      .withColumn("dlr", expr(s"dl * 1000L * ${nDocs}L div ${totToks}L"))
      .withColumn("denom",
        expr(s"tf * 1000000L + ($BmK1Milli * (250000L + $BmBMilli * dlr)) div 1000L"))
      .withColumn("tfn", expr("tf * 2200L * 1000000L div denom"))
      .withColumn("idf", expr(s"((${nDocs}L - df) * 1000L) div (df + 1L)"))
      .groupBy(col("doc_id"))
      .agg(sum(expr("idf * tfn")).as("score"), count(lit(1)).as("n_terms"))
    scored.orderBy(col("score").desc, col("doc_id")).limit(k)
  }
}
