package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Leaf

/** Distributed byte-pair-encoding merge training (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units") — the
  * tokenizer-training pass of an LLM data pipeline, run over the corpus
  * the other curation operators produce.
  *
  * The trainer operates on the WORD-FREQUENCY table, exactly like the
  * reference algorithm: by Heaps' law the distinct-word vocabulary is
  * orders of magnitude smaller than the corpus (and sublinear in it), so
  * after one corpus-wide wordcount every merge iteration touches only the
  * vocabulary frame — at 100 TB the corpus is scanned ONCE; the per-merge
  * cost is independent of corpus size.
  *
  * Determinism contract (what the DuckDB oracle replays stage by stage):
  *  - pair statistic = POSITIONAL adjacent-pair count over each word's
  *    current symbol sequence, weighted by word frequency — Sennrich's
  *    `get_stats` exactly (overlapping runs count once per position:
  *    "aaa" contributes (a,a) twice);
  *  - selection = max count, ties broken by (w1, w2) ascending (binary
  *    string order; the corpus is ASCII so both engines agree);
  *  - application = leftmost non-overlapping replacement — Sennrich's
  *    `re.sub` exactly, realized engine-independently by plain string
  *    `replace` over a DOUBLE-SPACE symbol encoding (below).
  *
  * Symbol encoding: a word's symbol sequence [s1..sn] is rendered as the
  * string `" s1  s2  ...  sn "` — every symbol wrapped in its own spaces
  * (`regexp_replace(word, "(.)", " $1 ")` produces it in one pass).
  * Merging pair (a,b) is then `replace(sym, " a  b ", " ab ")`: the
  * wrappers make the match unambiguous (symbols never contain spaces) and
  * adjacent matches share no characters, so built-in non-overlapping
  * replace IS greedy left-to-right merge application — no lookaround
  * regex needed (RE2, hence the DuckDB oracle, has none).
  *
  * Scale shape: the wordcount shuffles word strings once with map-side
  * combine (the canonical Spark job); each iteration is one narrow map
  * over the vocabulary + one pair-count aggregation (distinct-pair
  * bounded) + a 1-row TakeOrdered collect; the vocabulary frame is
  * re-checkpointed per iteration so the plan stays flat across merges
  * (the pointer-jumping rule — without it iteration i replays all i-1
  * prior replaces from the scan). Iterations are inherently sequential:
  * merge i+1's statistics depend on merge i's application — that is the
  * algorithm, not a plan artifact. NOTE: eager — calling this runs the
  * training loop (bounded driver state: one (w1, w2, count) row per
  * merge, `numMerges` total).
  */
object BpeOps {

  /** Vocabulary bound for the driver-side merge loop: above this many
    * distinct words the trainer falls back to the distributed per-merge
    * loop. 2^25 ≈ 33.5M rows of (word, freq) ≈ low-single-digit GB of
    * driver state — Heaps' law puts a 100 TB web corpus' whitespace-token
    * vocabulary at 10^7–10^8, so the driver path covers the production
    * regime and the fallback keeps the operator total beyond it. */
  val MaxDriverVocab: Long = 1L << 25

  /** Train `numMerges` BPE merges over the lowercased whitespace-token
    * stream of `documents(text)`. Returns one row per learned merge:
    * (rank, w1, w2, merged, pair_n), rank 1-based in learn order. Stops
    * early (fewer rows) if the vocabulary runs out of adjacent pairs.
    *
    * Execution (optimization r6, VERDICT r5 #4): the corpus is touched by
    * exactly ONE Spark job — the word-frequency aggregation (map-side
    * combine, word strings shuffle once). The merge loop itself runs on
    * the DRIVER over the collected frequency table: by Heaps' law that
    * table is sublinear in the corpus (see [[MaxDriverVocab]]), and the
    * loop is what the sequential Sennrich reference (and the DuckDB
    * oracle's staged-CTE replay) does anyway — per merge it touches only
    * vocabulary rows, so a Spark job + driver round-trip per merge bought
    * nothing but scheduling overhead (measured: 12 merges cost ~36 jobs ≈
    * 2 s at sf0.1; the wordcount alone is ~0.3 s). Bit-equality with the
    * distributed loop is pinned by BpeSpec (same positional pair counts,
    * same (cnt desc, w1, w2) argmax with Spark's UTF-8 binary string
    * order, same leftmost non-overlapping application). Vocabularies over
    * the bound take [[trainMergesDistributed]] — the identical algorithm
    * with the vocabulary kept distributed. */
  def trainMerges(documents: DataFrame, numMerges: Int,
      maxDriverVocab: Long = MaxDriverVocab): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = documents.sparkSession
    import spark.implicits._
    // lazy: the count below fills the blocks; the collect (or the
    // fallback's merge loop) re-reads them — ONE wordcount either way.
    // The blocks live while any frame built on `wf` is referenced and
    // the ContextCleaner frees them after that.
    val wf = Leaf(documents
      .select(explode(CurationOps.wsTokens(lower(col("text")))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq")), eager = false)
    val nVocab = wf.count()
    if (nVocab > maxDriverVocab)
      return trainMergesDistributed(wf, numMerges)
    val rows = wf.collect().map(r => (r.getString(0), r.getLong(1)))
    val merges = trainMergesInMemory(rows, numMerges)
    merges.toSeq.toDF("rank", "w1", "w2", "pair_n")
      .select(col("rank"), col("w1"), col("w2"),
        concat(col("w1"), col("w2")).as("merged"), col("pair_n"))
  }

  /** Spark's string sort order on the JVM: unsigned byte-wise comparison
    * of the UTF-8 encodings (UTF8String.compareTo) — NOT Java's UTF-16
    * `String.compareTo`, which disagrees on supplementary-plane
    * characters. The driver loop's tie-break must match the distributed
    * argmax exactly. */
  private def utf8Compare(a: String, b: String): Int = {
    val ba = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(ba.length, bb.length)
    var i = 0
    while (i < n) {
      val x = ba(i) & 0xFF
      val y = bb(i) & 0xFF
      if (x != y) return x - y
      i += 1
    }
    ba.length - bb.length
  }

  /** The Sennrich loop over an in-memory word-frequency table —
    * bit-identical to the distributed loop: symbols start as CODE POINTS
    * (the `regexp_replace(word, "(.)", " $1 ")` encoding matches Java
    * regex `.` = one code point), pair statistics are positional adjacent
    * counts weighted by frequency, selection is (cnt desc, then (w1, w2)
    * ascending in UTF-8 binary order), application is leftmost
    * non-overlapping. */
  private def trainMergesInMemory(wf: Array[(String, Long)],
      numMerges: Int): Seq[(Int, String, String, Long)] = {
    // word -> (symbol sequence, freq); code-point split, like Java "."
    var vocab: Array[(Array[String], Long)] = wf.map { case (w, f) =>
      val syms = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        val n = Character.charCount(cp)
        syms += w.substring(i, i + n)
        i += n
      }
      (syms.toArray, f)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val stats = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          stats.update(k, stats.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (stats.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        stats.foreach { e =>
          if (best == null) best = e
          else {
            val c = java.lang.Long.compare(e._2, best._2)
            val better =
              if (c != 0) c > 0
              else {
                val c1 = utf8Compare(e._1._1, best._1._1)
                if (c1 != 0) c1 < 0 else utf8Compare(e._1._2, best._1._2) < 0
              }
            if (better) best = e
          }
        }
        val ((w1, w2), cnt) = best
        merges += ((rank, w1, w2, cnt))
        val merged = w1 + w2
        vocab = vocab.map { case (syms, f) =>
          var i = 0
          var hit = false
          while (!hit && i < syms.length - 1) {
            hit = syms(i) == w1 && syms(i + 1) == w2
            i += 1
          }
          if (!hit) (syms, f)
          else {
            val nv = scala.collection.mutable.ArrayBuffer.empty[String]
            var j = 0
            while (j < syms.length) {
              if (j + 1 < syms.length && syms(j) == w1 && syms(j + 1) == w2) {
                nv += merged; j += 2
              } else { nv += syms(j); j += 1 }
            }
            (nv.toArray, f)
          }
        }
        rank += 1
      }
    }
    merges.toSeq
  }

  /** The round-5 distributed per-merge loop, kept as the over-bound
    * fallback: one pair-count job + 1-row TakeOrdered collect + vocabulary
    * rewrite per merge, vocabulary re-checkpointed per iteration so the
    * plan stays flat. Takes the already-materialized word-frequency frame
    * (never re-runs the corpus wordcount). Identical semantics to the
    * driver loop — BpeSpec's fallback case forces this path via the
    * injectable bound and asserts row equality with the driver result. */
  private def trainMergesDistributed(wf: DataFrame, numMerges: Int): DataFrame = {
    val spark = wf.sparkSession
    import spark.implicits._
    var vocab = Leaf(wf
      .select(col("freq"), regexp_replace(col("word"), "(.)", " $1 ").as("sym")), eager = true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      // split on the exact two-space separator; trim drops the outer
      // single-space wrappers. Two-step select so the array is a plain
      // attribute before transform (the repo's O(T^2) n-gram rule).
      val pairs = vocab
        .select(col("freq"), split(trim(col("sym")), "  ").as("s"))
        .select(col("freq"), explode(when(size(col("s")) >= 2,
          transform(sequence(lit(1), size(col("s")) - 1),
            i => struct(element_at(col("s"), i).as("w1"),
              element_at(col("s"), i + 1).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("p"))
        .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .agg(sum(col("freq")).as("cnt"))
      // 1-row bounded collect: TakeOrderedAndProject, never a full sort
      val best = pairs.orderBy(col("cnt").desc, col("w1"), col("w2")).limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (w1, w2, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((rank, w1, w2, cnt))
        vocab = Leaf(vocab
          .withColumn("sym", org.apache.spark.sql.functions.replace(
            col("sym"), lit(s" $w1  $w2 "), lit(s" $w1$w2 "))), eager = true)
        rank += 1
      }
    }
    merges.toSeq.toDF("rank", "w1", "w2", "pair_n")
      .select(col("rank"), col("w1"), col("w2"),
        concat(col("w1"), col("w2")).as("merged"), col("pair_n"))
  }

  /** Apply an ordered merge list to the corpus — the TOKENIZATION half of
    * the BPE story ([[trainMerges]] learns; this segments). Returns one
    * row per document: (doc_id, n_tok, n_pieces) where n_pieces is the
    * total subword count after applying every merge, in rank order, to
    * every word (leftmost non-overlapping per merge — the same
    * double-space `replace` equivalence as training, so the learned
    * ranks reproduce the trainer's vocabulary states exactly).
    *
    * Scale shape: the merge list is bounded driver state (it IS the
    * tokenizer model), so application is a PURE NARROW MAP: the explode,
    * the symbol encoding, all `merges.length` chained replaces, and the
    * piece count fuse into one whole-stage-codegen projection with zero
    * exchanges; the only shuffle is the per-doc count agg (map-side
    * combine). At 100 TB this is the ideal plan — embarrassingly
    * parallel, no state, no join. The literal replace CHAIN is the
    * right realization up to O(10³) merges (bounded expression tree,
    * oracle-replayable step for step); a production-vocabulary model
    * (tens of thousands of merges) keeps the identical narrow-map plan
    * but swaps the chain for a per-partition rank-map loop — enforced
    * here so the expression tree can't silently outgrow codegen. */
  def applyMerges(documents: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    require(merges.size <= 1024,
      s"replace-chain application is bounded at 1024 merges (got ${merges.size}); " +
        "larger models need the per-partition rank-map variant")
    val tok = documents
      .select(col("doc_id").cast("long").as("doc_id"),
        explode(CurationOps.wsTokens(lower(col("text")))).as("word"))
      .select(col("doc_id"),
        regexp_replace(col("word"), "(.)", " $1 ").as("sym"))
    val merged = merges.foldLeft(col("sym")) { case (c, (w1, w2)) =>
      org.apache.spark.sql.functions.replace(
        c, lit(s" $w1  $w2 "), lit(s" $w1$w2 "))
    }
    val pieces = tok.select(col("doc_id"),
      size(split(trim(merged), "  ")).cast("long").as("p"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("p")).as("n_pieces"))
    documents.select(col("doc_id").cast("long").as("doc_id"))
      .join(pieces, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"))
  }

  /** DuckDB oracle for [[trainMerges]]: the identical merge loop unrolled
    * as `numMerges` CTE stages (pair enumeration → argmax with the (cnt
    * desc, w1, w2) tie-break → double-space-encoded replace), over the
    * same word-frequency table. Chained-CTE unrolling is the repo's
    * standard shape for fixed-iteration oracles (q_kg_hubs, q_kg_hits) —
    * it is also what makes the oracle auditable stage by stage. Each
    * vocabulary stage v_i is referenced TWICE (by p_{i+1} and v_{i+1}),
    * so the stages are pinned `MATERIALIZED` — left to the inliner the
    * plan doubles per stage (measured: 12 stages inlined never finished;
    * materialized runs in 0.1 s at sf0.01). */
  def trainMergesOracleSql(numMerges: Int): String = {
    require(numMerges >= 1)
    val union = (1 to numMerges)
      .map(i => s"SELECT $i AS rank, w1, w2, cnt FROM b$i")
      .mkString("\nUNION ALL ")
    s"""${trainStagesSql(numMerges)}
       |SELECT rank, w1, w2, w1 || w2 AS merged, cnt AS pair_n FROM (
       |$union
       |) ORDER BY rank""".stripMargin
  }

  /** The shared WITH-clause of both BPE oracles: word frequencies, the
    * double-space-encoded vocabulary v0, and `numMerges` training stages
    * (pair counts p_i, argmax b_i, rewritten vocabulary v_i). */
  private def trainStagesSql(numMerges: Int): String = {
    val head =
      s"""WITH wf AS (
         |  SELECT tok AS word, count(*) AS freq FROM (
         |    SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
         |                              x -> x <> '')) AS tok
         |    FROM documents) GROUP BY 1),
         |v0 AS MATERIALIZED (SELECT freq, regexp_replace(word, '(.)', ' \\1 ', 'g') AS sym FROM wf)""".stripMargin
    val stages = (1 to numMerges).map { i =>
      s"""p$i AS (
         |  SELECT w1, w2, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, unnest(CASE WHEN len(s) >= 2
         |      THEN [{'w1': s[i], 'w2': s[i+1]} FOR i IN range(1, len(s))]
         |      ELSE [] END, recursive := true)
         |    FROM (SELECT freq, string_split(trim(sym), '  ') AS s FROM v${i - 1}))
         |  GROUP BY 1, 2),
         |b$i AS (SELECT w1, w2, cnt FROM p$i ORDER BY cnt DESC, w1, w2 LIMIT 1),
         |v$i AS MATERIALIZED (SELECT freq,
         |  replace(sym, ' ' || b.w1 || '  ' || b.w2 || ' ',
         |               ' ' || b.w1 || b.w2 || ' ') AS sym
         |  FROM v${i - 1}, b$i b)""".stripMargin
    }
    s"""$head,
       |${stages.mkString(",\n")}""".stripMargin
  }

  /** DuckDB oracle for [[applyMerges]] over merges learned by
    * [[trainMerges]]: re-derives the merge list FROM SCRATCH via the
    * shared training stages (zero trust in engine artifacts), then
    * replays the application as the same rank-ordered chain of
    * double-space replaces over every corpus word and counts pieces. */
  def applyMergesOracleSql(numMerges: Int): String = {
    require(numMerges >= 1)
    val chained = (1 to numMerges).foldLeft("enc.sym") { (acc, i) =>
      s"replace($acc, ' ' || b$i.w1 || '  ' || b$i.w2 || ' ', ' ' || b$i.w1 || b$i.w2 || ' ')"
    }
    val bTables = (1 to numMerges).map(i => s"b$i").mkString(", ")
    s"""${trainStagesSql(numMerges)},
       |dtok AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |                       x -> x <> '')) AS word
       |  FROM documents),
       |enc AS (SELECT doc_id, regexp_replace(word, '(.)', ' \\1 ', 'g') AS sym FROM dtok),
       |app AS (SELECT doc_id, $chained AS sym FROM enc, $bTables),
       |pc AS (SELECT doc_id, count(*) AS n_tok,
       |         CAST(sum(len(string_split(trim(sym), '  '))) AS BIGINT) AS n_pieces
       |       FROM app GROUP BY doc_id)
       |SELECT al.doc_id, coalesce(pc.n_tok, 0) AS n_tok,
       |       coalesce(pc.n_pieces, 0) AS n_pieces
       |FROM (SELECT doc_id FROM documents) al LEFT JOIN pc USING (doc_id)
       |ORDER BY al.doc_id""".stripMargin
  }
}
