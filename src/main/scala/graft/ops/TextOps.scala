package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Leaf

/** Text-analysis operators for a large-scale training-data pipeline,
  * expressed with codegen'd built-in functions wherever possible (no
  * UDFs in the hot path → whole-stage codegen keeps these in one stage).
  * All operate on the `documents(doc_id, text, lang, source, n_chars)`
  * table.
  */
object TextOps {

  /** Whitespace token count — pure Column expression (codegen'd). */
  def tokenCount(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** GPT-2-style pretokenizer pattern, restricted to constructs shared by
    * Java regex and RE2 (no lookahead, no \p classes — the corpus is
    * ASCII): contraction suffixes, space-prefixed letter/digit runs,
    * space-prefixed punctuation runs, whitespace runs. Every character is
    * covered by exactly one leftmost-first alternative, so token counts
    * are engine-independent. */
  val BpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+|\\s+"

  /** BPE-ish token count via the pretokenizer regex — the standard
    * pre-merge token budget estimate for training-data curation. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0)))

  /** Quality score in [0,1]: length band + punctuation ratio + stopword
    * hit rate + uppercase ratio. Deterministic arithmetic reproducible in
    * ANSI SQL for the DuckDB oracle. */
  def qualityScore(text: Column): Column = {
    val len = length(text).cast("double")
    val lenScore = least(len / lit(500.0), lit(1.0))
    val punct = length(regexp_replace(text, "[^.,;:!?]", "")).cast("double")
    val punctRatio = punct / greatest(len, lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio * lit(10.0), lit(1.0))
    val spaces = length(regexp_replace(text, "[^ ]", "")).cast("double")
    val wordScore = least(spaces / lit(50.0), lit(1.0))
    round((lenScore + punctScore + wordScore) / lit(3.0), 6)
  }

  /** n-gram-heuristic language ID over the `documents` table: scores a
    * handful of high-frequency function words per language. Pure SQL
    * expression (CASE over regexp counts) — reproducible in DuckDB. */
  def langId(text: Column): Column = {
    def hits(words: Seq[String]): Column = {
      val pattern = "(?i)\\b(" + words.mkString("|") + ")\\b"
      size(split(text, pattern)) - 1
    }
    val en = hits(Seq("the", "and", "of", "to", "is"))
    val de = hits(Seq("der", "die", "und", "ist", "nicht"))
    val fr = hits(Seq("le", "la", "et", "est", "les"))
    val es = hits(Seq("el", "los", "es", "una", "que"))
    when(de >= greatest(en, fr, es) && de > 0, "de")
      .when(fr >= greatest(en, es) && fr > 0, "fr")
      .when(es >= en && es > 0, "es")
      .when(en > 0, "en")
      .otherwise("unknown")
  }

  /** 64-bit document fingerprint (xxhash64 of normalized text) — the
    * rolling-hash document signature used for exact-dup detection at
    * scale; shuffle key is an 8-byte long, not the document body. */
  def fingerprint(text: Column): Column =
    xxhash64(lower(regexp_replace(text, "\\s+", " ")))

  /** Per-document salient terms by an INTEGER tf-idf surrogate:
    * `score = tf * 1e6 div df` — monotone in tf/df (the rational tf-idf
    * core without the float log), so it ranks identically to tf·idf for
    * fixed tf, and the integer arithmetic is exactly reproducible by a
    * SQL oracle (the repo's float-parity rule). Output: every (doc_id,
    * term, tf, df, score) whose score reaches the document's k-th
    * highest — top-k WITH boundary ties, which makes the contract
    * tie-break-free (no cross-engine string-vs-hash ordering hazard).
    *
    * Scale shape (the q_ngram_topk pattern, per-doc): the tf and df
    * shuffles carry 8-byte xxhash64 term keys, never term strings; the
    * per-doc threshold is a window over the already-aggregated tf frame
    * (rows per doc = distinct terms, bounded by doc length); term
    * strings are recovered for the ~k·docs candidate rows only, via a
    * second narrow scan semi-joined on the candidate hash set — at
    * 100 TB a rescan is cheaper than an all-strings exchange. A 64-bit
    * collision would merge two terms' df, so the recovery join asserts
    * one distinct term per candidate hash and raises instead of
    * mislabeling (the ngram tripwire). */
  def topTermsTfIdf(documents: DataFrame, k: Int = 5): DataFrame = {
    val toks = documents.select(col("doc_id").cast("long").as("doc_id"),
      explode(filter(split(trim(lower(col("text"))), "\\s+"), t => t =!= "")).as("term"))
    val tf = toks.select(col("doc_id"), xxhash64(col("term")).as("h"))
      .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // scored feeds TWO branches (the per-doc threshold and the candidate
    // filter) — but BOTH consume it hash-partitioned on doc_id (the kth
    // window partitions by doc_id; the candidate join keys on doc_id), so
    // ReuseExchange serves both branches from ONE exchange and the
    // tokenize scan + both aggs run once without any checkpoint
    // (optimization r6 — the eager checkpoint here cost a standalone
    // materialization job per call; verified in the audited plan).
    val scored = tf.join(dfreq, Seq("h"))
      .withColumn("score", expr("tf * 1000000L div df"))
    // k-th highest score per doc: min over any k top rows — tie-choice
    // among equal scores cannot change the threshold value
    val byScore = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc)
    val kth = scored.withColumn("rn", row_number().over(byScore))
      .filter(col("rn") <= k)
      .groupBy(col("doc_id")).agg(min(col("score")).as("kth"))
    val cand = scored.join(kth, Seq("doc_id")).filter(col("score") >= col("kth"))
    val names = toks.select(xxhash64(col("term")).as("h"), col("term"))
      .join(cand.select(col("h")).distinct(), Seq("h"), "left_semi")
      .dropDuplicates("h", "term")
    val perHash = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val recovered = names
      .withColumn("n_strings", count(lit(1)).over(perHash))
      .select(col("h"),
        when(col("n_strings") > 1,
          raise_error(concat(lit("xxhash64 collision on term hash "),
            col("h").cast("string"), lit(" — df was merged"))))
          .otherwise(col("term")).as("term"))
    cand.join(recovered, Seq("h"))
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"))
  }

  /** PMI collocation mining: the corpus's top-k token bigrams by
    * pointwise mutual information (Church & Hanks 1990), the standard
    * distributional-statistics pass next to tf-idf — it surfaces
    * multi-word expressions ("new york", "machine learning") that
    * frequency alone buries under stopword pairs. PMI in fixed-point
    * 1/1024-bit units via the integer lg1024 kernel:
    *
    *   pmi(w1,w2) = lg(c2) + lg(N) − lg(c1(w1)) − lg(c1(w2))
    *
    * (term-by-term fixed-point, so no c2·N product to overflow at
    * 10^13-token scale), over bigrams with c2 ≥ `minCount`; ranked by
    * (pmi desc, w1, w2) — the string tie-break makes the contract
    * deterministic — and the top `k` rows emitted with their rank.
    *
    * Scale shape: bigram and unigram counting shuffle 16-byte double-hash
    * keys with map-side partial combine (strings never ride the count
    * exchanges); the candidate prune is the tf-idf kth-threshold pattern
    * PER SALT BUCKET — each bucket keeps rows tying-or-beating its own
    * k-th pmi, so the union provably covers the global top-k while no
    * task ever ranks more than its bucket — and only the ≤ salt·k(+ties)
    * survivors get their strings back via a semi-joined rescan with the
    * q_ngram_topk collision tripwire (a 128-bit collision would merge
    * two bigrams' counts; the recovery join raises instead of
    * mislabeling). N crosses the driver as one scalar, folded into the
    * pmi expression as a literal. */
  def pmiCollocations(documents: DataFrame, minCount: Long = 5,
      k: Int = 50, salt: Int = 8): DataFrame = {
    require(minCount >= 1 && k >= 1 && salt >= 1)
    import org.apache.spark.sql.expressions.Window
    def keyed(c: Column, names: (String, String)): Seq[Column] =
      Seq(xxhash64(c).as(names._1), xxhash64(reverse(c)).as(names._2))
    val toks = documents.select(CurationOps.wsTokens(col("text")).as("w"))
    val bi = toks
      .select(explode(when(size(col("w")) >= 2,
        transform(sequence(lit(1), size(col("w")) - 1),
          i => struct(element_at(col("w"), i).as("w1"),
            element_at(col("w"), i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("b"))
      .select(concat(col("b.w1"), lit(" "), col("b.w2")).as("bi"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
    val biKeys = bi.select(
      keyed(col("bi"), ("h1", "h2")) ++
        keyed(col("w1"), ("p1", "p2")) ++ keyed(col("w2"), ("s1", "s2")): _*)
    // p/s keys are functions of the (h1,h2) key — min() just picks the
    // constant, keeping the agg a single map-side-combining shuffle
    // lazy: the N-scalar collect right below fills the blocks; the pmi
    // join then reads them (one job, not two — optimization r6)
    val c2 = Leaf(biKeys.groupBy("h1", "h2").agg(count(lit(1)).as("pair_n"),
      min(col("p1")).as("p1"), min(col("p2")).as("p2"),
      min(col("s1")).as("s1"), min(col("s2")).as("s2")), eager = false)
    val totRow = c2.agg(sum(col("pair_n"))).first()
    // with no bigrams the sum is null and there is no row to score
    val lgN = if (totRow.isNullAt(0)) 0L else CurationOps.lgL(totRow.getLong(0))
    val uni = toks.select(explode(col("w")).as("t"))
      .select(keyed(col("t"), ("u1", "u2")): _*)
      .groupBy("u1", "u2").agg(count(lit(1)).as("uni_n"))
    val scoredKeys = c2.filter(col("pair_n") >= minCount)
      .join(uni.withColumnRenamed("uni_n", "left_n"),
        col("p1") === col("u1") && col("p2") === col("u2")).drop("u1", "u2")
      .join(uni.withColumnRenamed("uni_n", "right_n"),
        col("s1") === col("u1") && col("s2") === col("u2")).drop("u1", "u2")
      .withColumn("pmi1024", expr(
        s"${CurationOps.lg1024Sql("pair_n")} + ${lgN}L" +
          s" - ${CurationOps.lg1024Sql("left_n")} - ${CurationOps.lg1024Sql("right_n")}"))
      .withColumn("salt_b", pmod(xxhash64(col("h1"), col("h2")), lit(salt)))
      // two consumers (bucket kth + candidate filter), both keyed on
      // salt_b — ReuseExchange serves them from one exchange, no
      // checkpoint needed (optimization r6; verified in the audited plan)
    val byPmi = Window.partitionBy(col("salt_b")).orderBy(col("pmi1024").desc)
    val kth = scoredKeys.withColumn("rn", row_number().over(byPmi))
      .filter(col("rn") <= k)
      .groupBy(col("salt_b")).agg(min(col("pmi1024")).as("kth"))
    val cand = scoredKeys.join(kth, Seq("salt_b"))
      .filter(col("pmi1024") >= col("kth"))
    val names = bi.select(Seq(col("w1"), col("w2")) ++ keyed(col("bi"), ("h1", "h2")): _*)
      .join(cand.select(col("h1"), col("h2")), Seq("h1", "h2"), "left_semi")
      .dropDuplicates("h1", "h2", "w1", "w2")
    val perKey = Window.partitionBy(col("h1"), col("h2"))
    val recovered = names.withColumn("n_strings", count(lit(1)).over(perKey))
      .select(col("h1"), col("h2"),
        when(col("n_strings") > 1,
          raise_error(concat(lit("128-bit collision on bigram key "),
            col("h1").cast("string"), lit("/"), col("h2").cast("string"))))
          .otherwise(col("w1")).as("w1"), col("w2"))
    cand.join(recovered, Seq("h1", "h2"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("pmi1024").desc, col("w1"), col("w2"))))
      .filter(col("rank") <= k)
      .select(col("rank"), col("w1"), col("w2"), col("pair_n"),
        col("left_n"), col("right_n"), col("pmi1024"))
  }

  /** documents enriched with all per-row text metrics — single narrow
    * projection over the scan (verify with .explain: one WholeStageCodegen). */
  def enrich(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"), col("lang"), col("source"), col("n_chars"),
      tokenCount(col("text")).as("n_tokens"),
      qualityScore(col("text")).as("quality"),
      langId(col("text")).as("lang_pred"),
      fingerprint(col("text")).as("fp"))
}
