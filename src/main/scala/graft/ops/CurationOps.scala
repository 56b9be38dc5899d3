package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Leaf

/** Corpus-curation operators below document granularity: exact
  * line/paragraph-level deduplication (CCNet/RefinedWeb-style — the
  * boilerplate killer document-level dedup can't see) and eval-set
  * decontamination (n-gram-overlap flagging of training documents
  * against held-out evaluation sets).
  *
  * Scale shape shared by both: the global exchanges carry ONLY fixed-size
  * keys (16-byte double hashes + 8-byte ids/positions); document text is
  * never shuffled — reassembly re-reads it from the doc-keyed side, and
  * the eval n-gram set rides a broadcast.
  */
object CurationOps {

  /** Double 64-bit line key: two independent xxhash64 views (the string
    * and its reverse). Treating a line pair as identical requires BOTH
    * hashes to collide (~2^-128) — the keys-only exchange keeps exact
    * string semantics to within odds far below hardware error, without
    * ever shuffling the strings themselves (the q_ngram_topk tripwire
    * pattern, keyed instead of asserted, because here the hot path can't
    * afford a recovery rescan per line). */
  private def lineKey(line: Column): Seq[Column] =
    Seq(xxhash64(line).as("h1"), xxhash64(reverse(line)).as("h2"))

  /** Exact line-level dedup across the corpus: a line (newline-delimited;
    * trailing/leading whitespace significant — normalize upstream if not)
    * is RETAINED only at its globally first occurrence, ordered by
    * (doc_id, pos); every later occurrence — across documents or repeated
    * within one — is dropped, and each document's text is reassembled
    * from its retained lines in original order (empty string when
    * nothing survives).
    *
    * Plan at 100 TB:
    *   1. one narrow scan explodes (doc_id, pos, line) and immediately
    *      projects to (doc_id, pos, h1, h2) — text dropped before any
    *      exchange;
    *   2. global ownership = one hash-agg shuffle on the 16-byte line key
    *      with map-side partial min (boilerplate lines collapse to one
    *      row per map task before the exchange);
    *   3. the ownership verdict joins back to the keys-only frame (same
    *      key, co-partitioned by the previous shuffle under AQE), and the
    *      retained positions aggregate per doc_id — an 8-byte-pos list;
    *   4. reassembly re-reads text by joining the per-doc retained-pos
    *      list to the documents table on doc_id (bucketable/co-located at
    *      scale) and re-splits in place — the only pass that touches text
    *      again, and it is doc-local.
    */
  def lineDedup(documents: DataFrame): DataFrame = {
    val lines = documents.select(col("doc_id"),
      posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
    val keyed = lines.select(Seq(col("doc_id"), col("pos")) ++ lineKey(col("line")): _*)
    val owners = keyed.groupBy(col("h1"), col("h2"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("owner"))
    val retained = keyed.join(owners, Seq("h1", "h2"))
      .filter(col("doc_id") === col("owner.doc_id") && col("pos") === col("owner.pos"))
      .select(col("doc_id"), col("pos"))
    val keep = retained.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("keep"))
    documents.join(keep, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        size(split(col("text"), "\n")).as("n_lines"),
        coalesce(size(col("keep")), lit(0)).as("n_kept"),
        when(col("keep").isNull, lit(""))
          .otherwise(array_join(
            transform(col("keep"), p => element_at(split(col("text"), "\n"), p + 1)),
            "\n")).as("text_dedup"))
  }

  /** Per-host boilerplate line removal — the CCNet-style step BETWEEN
    * global line dedup and document dedup: a line is boilerplate for a
    * host when it appears in at least `minDocFracMilli`/1000 of that
    * host's documents (and the host has at least `minDocs` documents —
    * below that the fraction is meaningless and nothing is removed).
    * Unlike [[lineDedup]] (first occurrence survives globally), ALL
    * occurrences of a boilerplate line are removed: a nav bar is noise in
    * every copy. The threshold is integer math (`nd·1000 ≥ milli·n_docs`)
    * so the SQL oracle replays the verdict exactly — no float boundary.
    *
    * Scale shape (the [[lineDedup]] discipline, keyed by host):
    *   1. one narrow scan explodes (host, doc_id, pos, 16-byte line key)
    *      — text dropped before any exchange;
    *   2. per-(host, line) document frequency via TWO-LEVEL agg (pre-agg
    *      on (host, key, doc_id), then count — the hostGraph pattern: an
    *      exact distinct count with O(1) state per key, no
    *      count_distinct expand);
    *   3. host doc counts are a keys-only agg, joined to the line
    *      frequencies (co-partitioned on host under AQE);
    *   4. the boilerplate verdict anti-joins back to the keys-only line
    *      frame and documents reassemble from retained positions — the
    *      only pass that touches text again, and it is doc-local. */
  def hostBoilerplate(docs: DataFrame, minDocs: Long = 3L,
                      minDocFracMilli: Long = 500L): DataFrame = {
    require(minDocs >= 1 && minDocFracMilli >= 1 && minDocFracMilli <= 1000)
    val keyed = docs.select(col("host"), col("doc_id"),
        posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
      .select(Seq(col("host"), col("doc_id"), col("pos")) ++ lineKey(col("line")): _*)
    val lineDf = keyed.groupBy(col("host"), col("h1"), col("h2"), col("doc_id"))
      .agg(count(lit(1)).as("m"))
      .groupBy(col("host"), col("h1"), col("h2"))
      .agg(count(lit(1)).as("nd"))
    val hostDocs = docs.groupBy(col("host")).agg(count(lit(1)).as("n_docs"))
    val boiler = lineDf.join(hostDocs, Seq("host"))
      .filter(col("n_docs") >= minDocs &&
        col("nd") * 1000 >= lit(minDocFracMilli) * col("n_docs"))
      .select(col("host"), col("h1"), col("h2"))
    val retained = keyed.join(boiler, Seq("host", "h1", "h2"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("keep"))
    docs.join(retained, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("host"),
        size(split(col("text"), "\n")).as("n_lines"),
        (size(split(col("text"), "\n")) - coalesce(size(col("keep")), lit(0)))
          .as("n_removed"),
        when(col("keep").isNull, lit(""))
          .otherwise(array_join(
            transform(col("keep"), p => element_at(split(col("text"), "\n"), p + 1)),
            "\n")).as("text_clean"))
  }

  /** C4-style line filtering (Raffel et al. 2020 §2.2, the published
    * rule set behind the C4 corpus): a line survives iff it ends in a
    * terminal punctuation mark (`.` `!` `?` `"` after right-trim), has
    * at least `minWordsPerLine` whitespace words, and does not mention
    * "javascript" (case-insensitive); the DOCUMENT verdict additionally
    * requires at least `minKeptLines` surviving lines and no
    * "lorem ipsum" / `{` anywhere in the original text (the code/
    * placeholder page heuristics). Emits per-doc (n_lines, n_kept,
    * keep, text_clean) — reassembly preserves surviving-line order.
    *
    * Unlike [[lineDedup]]/[[hostBoilerplate]] (which need global or
    * per-host line ownership), every rule here is doc-local, so the
    * WHOLE operator is one narrow codegen projection over the text
    * scan — zero exchanges at any scale, the cheapest possible
    * curation stage and the reason C4-style filtering is always run
    * first in production funnels. */
  def c4LineFilter(documents: DataFrame, minWordsPerLine: Int = 5,
      minKeptLines: Int = 3): DataFrame = {
    require(minWordsPerLine >= 1, s"minWordsPerLine must be >= 1, got $minWordsPerLine")
    require(minKeptLines >= 0, s"minKeptLines must be >= 0, got $minKeptLines")
    documents
      .select(col("doc_id"), col("text"), split(col("text"), "\n").as("lines"))
      .withColumn("kept", filter(col("lines"), l =>
        rtrim(l).rlike("[.!?\"]$") &&
          size(wsTokens(l)) >= minWordsPerLine &&
          !lower(l).contains("javascript")))
      .select(col("doc_id"),
        size(col("lines")).as("n_lines"),
        size(col("kept")).as("n_kept"),
        (size(col("kept")) >= minKeptLines &&
          !lower(col("text")).contains("lorem ipsum") &&
          !col("text").contains("{")).as("keep"),
        array_join(col("kept"), "\n").as("text_clean"))
  }

  /** Gopher quality rules (Rae et al. 2021, Appendix A1.1 — the
    * published MassiveText filter): a document survives iff
    *   - whitespace word count in [minWords, maxWords];
    *   - mean word length in [3, 10] characters;
    *   - symbol-to-word ratio ≤ 0.1 for both `#` and `...`;
    *   - at most 90% of lines start with a bullet (`- `, `* `, `•`);
    *   - at most 30% of lines end with an ellipsis (`...` or `…`);
    *   - at least 80% of words contain an alphabetic character;
    *   - at least 2 of the 8 canonical stop words (the/be/to/of/and/
    *     that/have/with) appear.
    * Every metric is an INTEGER and every threshold an integer
    * cross-multiplication (3·n ≤ chars ≤ 10·n etc.), so the driver's
    * DuckDB oracle replays the verdict bit-for-bit — no float
    * tolerance anywhere. Like [[c4LineFilter]], the whole operator is
    * one narrow codegen projection over the text scan: zero exchanges,
    * the shape a first-pass 100 TB filter must have. Emits the raw
    * metric columns alongside `keep` so downstream funnels can
    * re-threshold without re-scanning. */
  def gopherQualityFilter(documents: DataFrame,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    require(minWords >= 1 && maxWords >= minWords,
      s"bad word bounds: [$minWords, $maxWords]")
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val prepared = documents.select(col("doc_id"), col("text"),
      wsTokens(col("text")).as("w"),
      split(col("text"), "\n").as("lines"))
    val w = col("w")
    val lines = col("lines")
    val nWords = size(w).cast("long")
    // sum of word lengths == chars left after removing ALL whitespace
    val nChars = length(regexp_replace(col("text"), "\\s+", "")).cast("long")
    val nHash = (length(col("text")) -
      length(regexp_replace(col("text"), "#", ""))).cast("long")
    val nEllipsis = ((length(col("text")) -
      length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3).cast("long")
    val nLines = size(lines).cast("long")
    val nBullet = size(filter(lines, l =>
      l.startsWith("- ") || l.startsWith("* ") || l.startsWith("•"))).cast("long")
    val nEllLines = size(filter(lines, l =>
      rtrim(l).endsWith("...") || rtrim(l).endsWith("…"))).cast("long")
    val nAlpha = size(filter(w, x => x.rlike("[a-zA-Z]"))).cast("long")
    val nStop = stops.map(s0 =>
      when(array_contains(w, s0), 1L).otherwise(0L)).reduce(_ + _)
    prepared.select(col("doc_id"),
      nWords.as("n_words"), nChars.as("n_chars_words"),
      nHash.as("n_hash"), nEllipsis.as("n_ellipsis"),
      nLines.as("n_lines"), nBullet.as("n_bullet_lines"),
      nEllLines.as("n_ellipsis_lines"), nAlpha.as("n_alpha_words"),
      nStop.as("n_stop_hits"))
      .withColumn("keep",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          lit(3L) * col("n_words") <= col("n_chars_words") &&
          col("n_chars_words") <= lit(10L) * col("n_words") &&
          lit(10L) * col("n_hash") <= col("n_words") &&
          lit(10L) * col("n_ellipsis") <= col("n_words") &&
          lit(10L) * col("n_bullet_lines") <= lit(9L) * col("n_lines") &&
          lit(10L) * col("n_ellipsis_lines") <= lit(3L) * col("n_lines") &&
          lit(5L) * col("n_alpha_words") >= lit(4L) * col("n_words") &&
          col("n_stop_hits") >= 2L)
  }

  /** Gopher repetition rules (Rae et al. 2021, Appendix A1.2 — the
    * MassiveText repetition filter, the companion of
    * [[gopherQualityFilter]]): a document survives iff
    *   - duplicate line fraction ≤ 0.30 and duplicate line CHARACTER
    *     fraction ≤ 0.20 (dup chars = every occurrence beyond a line's
    *     first, weighted by its length);
    *   - the same two bounds for paragraphs (`\n\n`-separated), 0.30 /
    *     0.20;
    *   - top n-gram character mass ≤ 0.20 / 0.18 / 0.16 of word
    *     characters for n = 2 / 3 / 4 — "top mass" is the max over
    *     distinct n-grams of multiplicity × n-gram word-chars (ties and
    *     the frequent-vs-long ambiguity in the paper resolved by taking
    *     the max char mass, a monotone upper bound of "the most
    *     frequent n-gram's mass");
    *   - duplicated n-gram covered-character fraction ≤ 0.15 / 0.14 /
    *     0.13 / 0.12 / 0.11 / 0.10 for n = 5..10 — characters of word
    *     positions covered by ANY n-gram occurring twice in the doc,
    *     each position counted once (the paper's "taking care not to
    *     count characters twice").
    * All metrics are integers and all thresholds integer
    * cross-multiplications, so the DuckDB oracle replays the verdict
    * bit-for-bit. Everything is computed INSIDE the row (array folds
    * and nested higher-order filters — no explode, no exchange): the
    * duplicated-n-gram scan is O(G²) per document in the gram count,
    * bounded by `maxWords` (default 5000 ≈ the paper's own doc scale;
    * a production variant of the G² probe would sort-and-scan inside
    * `mapPartitions`, but the quadratic bound on a CAPPED row is the
    * price of staying in one codegen-friendly projection). */
  def gopherRepetitionFilter(documents: DataFrame, maxWords: Int = 5000): DataFrame = {
    require(maxWords >= 10, s"maxWords must be >= 10, got $maxWords")
    val grams = (2 to 10).map(n => tokenNgramsOf(col("w"), n).as(s"g$n"))
    val prepared = documents
      .select(col("doc_id"),
        split(col("text"), "\n").as("lines"),
        split(col("text"), "\n\n").as("paras"),
        slice(wsTokens(col("text")), 1, maxWords).as("w"))
      .select(Seq(col("doc_id"), col("lines"), col("paras"), col("w")) ++ grams: _*)

    def dupCount(arr: Column): Column =
      (size(arr) - size(array_distinct(arr))).cast("long")
    def charsSum(arr: Column): Column =
      aggregate(arr, lit(0L), (a, x) => a + length(x).cast("long"))
    // chars of every occurrence beyond the first: fold over the sorted
    // array, add length when the element repeats its predecessor (the
    // "" sentinel is safe — a first empty line adds length 0)
    def dupChars(arr: Column): Column =
      aggregate(sort_array(arr),
        struct(lit("").as("prev"), lit(0L).as("dup")),
        (acc, x) => struct(x.as("prev"),
          (acc.getField("dup") +
            when(x === acc.getField("prev"), length(x).cast("long"))
              .otherwise(lit(0L))).as("dup")),
        acc => acc.getField("dup"))
    // max over distinct grams of multiplicity x word-chars (gram length
    // minus its n-1 separators), via the run-length fold
    def topGramChars(n: Int): Column =
      aggregate(sort_array(col(s"g$n")),
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (acc, x) => {
          val run = when(x === acc.getField("prev"),
            acc.getField("run") + lit(1L)).otherwise(lit(1L))
          val cand = run * (length(x).cast("long") - lit((n - 1).toLong))
          struct(x.as("prev"), run.as("run"),
            greatest(acc.getField("best"), cand).as("best"))
        },
        acc => acc.getField("best"))
    // chars of word positions covered by any duplicated n-gram, each
    // position once (0-based starts; gram i covers words i..i+n-1)
    def dupCoveredChars(n: Int): Column = {
      val gr = col(s"g$n")
      val starts = when(size(gr) > 0, sequence(lit(0), size(gr) - 1))
        .otherwise(array().cast("array<int>"))
      val dupStarts = filter(starts, i =>
        size(filter(gr, g => g === element_at(gr, i + 1))) >= 2)
      val covered = array_distinct(flatten(
        transform(dupStarts, i => sequence(i, i + lit(n - 1)))))
      aggregate(covered, lit(0L),
        (a, p) => a + length(element_at(col("w"), p + 1)).cast("long"))
    }

    prepared.select(col("doc_id"),
      size(col("lines")).cast("long").as("n_lines"),
      dupCount(col("lines")).as("dup_lines"),
      charsSum(col("lines")).as("line_chars"),
      dupChars(col("lines")).as("dup_line_chars"),
      size(col("paras")).cast("long").as("n_paras"),
      dupCount(col("paras")).as("dup_paras"),
      charsSum(col("paras")).as("para_chars"),
      dupChars(col("paras")).as("dup_para_chars"),
      charsSum(col("w")).as("n_chars"),
      topGramChars(2).as("top2_chars"),
      topGramChars(3).as("top3_chars"),
      topGramChars(4).as("top4_chars"),
      dupCoveredChars(5).as("dup5_chars"),
      dupCoveredChars(6).as("dup6_chars"),
      dupCoveredChars(7).as("dup7_chars"),
      dupCoveredChars(8).as("dup8_chars"),
      dupCoveredChars(9).as("dup9_chars"),
      dupCoveredChars(10).as("dup10_chars"))
      .withColumn("keep",
        lit(10L) * col("dup_lines") <= lit(3L) * col("n_lines") &&
          lit(5L) * col("dup_line_chars") <= col("line_chars") &&
          lit(10L) * col("dup_paras") <= lit(3L) * col("n_paras") &&
          lit(5L) * col("dup_para_chars") <= col("para_chars") &&
          lit(5L) * col("top2_chars") <= col("n_chars") &&
          lit(50L) * col("top3_chars") <= lit(9L) * col("n_chars") &&
          lit(25L) * col("top4_chars") <= lit(4L) * col("n_chars") &&
          lit(20L) * col("dup5_chars") <= lit(3L) * col("n_chars") &&
          lit(50L) * col("dup6_chars") <= lit(7L) * col("n_chars") &&
          lit(100L) * col("dup7_chars") <= lit(13L) * col("n_chars") &&
          lit(25L) * col("dup8_chars") <= lit(3L) * col("n_chars") &&
          lit(100L) * col("dup9_chars") <= lit(11L) * col("n_chars") &&
          lit(10L) * col("dup10_chars") <= col("n_chars"))
  }

  /** Whitespace tokens of a text column, empties removed. */
  private[ops] def wsTokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** Word n-grams from an ALREADY-MATERIALIZED token-array column, as an
    * array of space-joined strings (empty when under `n` tokens).
    *
    * `w` MUST be a materialized attribute (`.select(wsTokens(...).as("w"))`
    * first), never the tokenize expression itself: a higher-order
    * function's lambda re-evaluates every expression it references once
    * per ELEMENT, so an inlined tokenize turns O(T) n-gram construction
    * into O(T²) re-splits per document — measured 8× on the inverted
    * index at 54-token average docs, and quadratically worse on real web
    * pages (the q_ngram_topk round-1 lesson, now enforced structurally:
    * Catalyst's CollapseProject keeps the projection because the alias
    * is referenced more than once by a non-cheap expression). */
  private[ops] def tokenNgramsOf(w: Column, n: Int): Column =
    when(size(w) >= n,
      transform(sequence(lit(0), size(w) - n),
        i => array_join(slice(w, i + 1, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Span-level exact-substring deduplication signals (the ExactSubstr
    * notion from "Deduplicating Training Data Makes Language Models
    * Better", Lee et al. 2022, at k-token-window granularity — the
    * standard distributed relaxation of the suffix-array formulation):
    * a k-token window is DUPLICATED when its exact text occurs at least
    * twice corpus-wide (across documents or repeated within one);
    * overlapping/adjacent duplicated windows merge into maximal spans,
    * and each document reports its span count, duplicated-token mass,
    * and duplicated fraction — the inputs to a scrub-or-drop decision.
    *
    * Sits BETWEEN line dedup (exact lines only) and MinHash (whole-doc
    * near-dup): it catches the quoted paragraph, the syndicated intro,
    * the license block — repeated passages inside otherwise-unique
    * documents that neither neighbor sees.
    *
    * Scale shape (the [[lineDedup]] discipline at window granularity):
    *   1. one narrow scan explodes (doc_id, pos, 16-byte window key) —
    *      the double-xxhash64 key ([[lineKey]] rationale: both hashes
    *      colliding for distinct text is ~2^-128) — text dropped before
    *      any exchange;
    *   2. global multiplicity = one hash-agg shuffle on the window key
    *      with map-side partial counts (boilerplate passages collapse to
    *      one row per map task before the exchange);
    *   3. the duplicated-key set semi-joins back to the keys-only frame
    *      (co-partitioned by the previous shuffle under AQE);
    *   4. span merge + per-doc stats are doc-local window/agg work over
    *      8-byte positions — per-task state bounded by document length,
    *      never by corpus size. Document text is never shuffled. */
  def spanDedup(documents: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 2, s"window must span at least 2 tokens, got $k")
    val gram = col("gram")
    val keyed = documents
      .select(col("doc_id"), wsTokens(col("text")).as("w"))
      .select(col("doc_id"), posexplode(tokenNgramsOf(col("w"), k)).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"),
        xxhash64(gram).as("h1"), xxhash64(reverse(gram)).as("h2"))
    val dup = keyed.groupBy(col("h1"), col("h2"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
      .select(col("h1"), col("h2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    // windows [p, p+k-1] and [q, q+k-1] merge when q <= p+k (overlap or
    // touch); a row opens a new span exactly when the gap exceeds k
    val spans = keyed.join(dup, Seq("h1", "h2"), "left_semi")
      .select(col("doc_id"), col("pos"),
        when(col("pos") - lag(col("pos"), 1).over(w) <= k, lit(0L))
          .otherwise(lit(1L)).as("brk"))
      .withColumn("seg", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("seg"))
      .agg((max(col("pos")) - min(col("pos")) + k).as("span_tokens"))
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"), sum(col("span_tokens")).as("dup_tokens"))
    val nTok = size(filter(split(col("text"), "\\s+"), t => t =!= ""))
    documents.join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        nTok.as("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          greatest(nTok, lit(1)), 4).as("dup_frac"))
  }

  /** PII patterns, shared with the DuckDB oracle verbatim. Constraints
    * for exact cross-engine parity (Java regex is backtracking
    * leftmost-FIRST, RE2 is leftmost-LONGEST): no alternation, no
    * backreferences, no lookaround — with only greedy quantifiers over
    * disjoint character classes the two disciplines pick identical
    * matches. `\b` is the ASCII word boundary in both. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b"

  /** PII scrubbing — the redaction pass a training-data pipeline runs
    * after dedup: emails, IPv4 addresses, and phone-shaped numbers are
    * replaced with typed placeholder tokens, with per-doc match counts
    * (counted on the ORIGINAL text) for audit/filter decisions.
    *
    * Replacement order is part of the contract: email, then IP, then
    * phone — each later pattern runs over the previous pass's output, so
    * a digit run inside an already-redacted token can't double-match.
    *
    * Scale shape: one narrow projection, all codegen'd native regexp
    * expressions — per-row work, zero exchange, zero UDFs; at 100 TB
    * this pipelines inside whatever scan already reads the text. */
  def scrubPii(documents: DataFrame): DataFrame = {
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")
    documents.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(col("text"), lit(Ipv4Re), lit(0))).as("n_ips"),
      size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).as("n_phones"),
      scrubbed.as("text_scrubbed"))
  }

  /** Longest run of equal values in `arr`, counted after sorting — i.e.
    * the multiplicity of the array's most frequent element, computed
    * entirely inside the row (sort_array + a single `aggregate` fold), so
    * a per-doc mode costs no exchange at any corpus size. */
  private def maxMultiplicity(arr: Column): Column =
    aggregate(
      sort_array(arr),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** Gopher-style repetition signals — the quality-filter inputs that
    * catch template/boilerplate mass: per document, the fraction of
    * repeated lines (1 - distinct/total) and the corpus-standard
    * most-frequent-word and most-frequent-bigram fractions. A high
    * dup_line_frac or top-n-gram fraction marks auto-generated pages
    * that document-level dedup keeps (each page unique) but a filter
    * should drop.
    *
    * All metrics are per-row Column folds ([[maxMultiplicity]] — no
    * explode, no shuffle): the whole operator is a narrow projection
    * that pipelines inside the text scan at any scale. */
  def repetitionMetrics(documents: DataFrame): DataFrame = {
    // lines/words materialized FIRST: the bigram lambda below references
    // the token array per element, so it must be an attribute, not the
    // split expression (the [[tokenNgramsOf]] O(T²) contract)
    val prepared = documents.select(col("doc_id"),
      split(col("text"), "\n").as("lines"),
      filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= "").as("words"))
    val lines = col("lines")
    val words = col("words")
    // bigrams over the SAME token stream as the word metric (not the
    // whitespace tokenization decontaminate uses) — one tokenizer per
    // operator keeps the oracle a single CTE
    val bigrams = when(size(words) >= 2,
      transform(sequence(lit(0), size(words) - 2),
        i => concat(element_at(words, i + 1), lit(" "), element_at(words, i + 2))))
      .otherwise(array().cast("array<string>"))
    prepared.select(
      col("doc_id"),
      size(lines).as("n_lines"),
      round((size(lines) - size(array_distinct(lines))) /
        greatest(size(lines), lit(1)).cast("double"), 4).as("dup_line_frac"),
      size(words).as("n_words"),
      round(maxMultiplicity(words) /
        greatest(size(words), lit(1)).cast("double"), 4).as("top_word_frac"),
      round(maxMultiplicity(bigrams) /
        greatest(size(bigrams), lit(1)).cast("double"), 4).as("top_bigram_frac"))
  }

  /** Token-budget shard packing — the "concatenate-and-chunk" layout a
    * training run reads: documents ordered by doc_id form one logical
    * token stream, and each document is assigned to the shard in which
    * its first token falls (`shard = floor(tokens_before_doc / budget)`,
    * GPT-style continuous packing where a document may straddle a
    * boundary).
    *
    * The global running total is a DISTRIBUTED prefix sum, not a
    * single-partition window: doc_ids bucket into contiguous ranges of
    * `bucketWidth`, per-bucket token sums come back to the driver (a
    * BOUNDED collect — one 16-byte row per bucket; size `bucketWidth` so
    * buckets number ~1e4-1e5 at any corpus size), the driver prefix-sums
    * them into per-bucket offsets, and each row's global position is its
    * broadcast bucket offset plus a within-bucket window cumsum —
    * parallel over buckets, never a single-ordered-partition shuffle.
    * Tokens are whitespace runs (the corpus-standard count; swap the
    * splitter to a BPE count upstream if the budget is model-tokens). */
  def packShards(documents: DataFrame, budget: Long,
                 bucketWidth: Long = 1024L): DataFrame = {
    require(budget > 0 && bucketWidth > 0)
    val spark = documents.sparkSession
    val toks = documents.select(
      col("doc_id").cast("long").as("doc_id"),
      size(filter(split(col("text"), "\\s+"), t => t =!= ""))
        .cast("long").as("n_tokens"),
      floor(col("doc_id").cast("long") / lit(bucketWidth)).cast("long").as("bucket"))
    val bucketSums = toks.groupBy("bucket")
      .agg(sum("n_tokens").as("bucket_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val offsets = bucketSums.scanLeft((Long.MinValue, 0L)) {
      case ((_, acc), (b, s)) => (b, acc + s)
    }.sliding(2).collect { case Array((_, prev), (b, _)) => (b, prev) }.toSeq
    import spark.implicits._
    val offsetDf = offsets.toDF("bucket", "bucket_offset")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    toks.join(broadcast(offsetDf), Seq("bucket"))
      .withColumn("cum_tokens", col("bucket_offset") + sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"),
        floor((col("cum_tokens") - col("n_tokens")) / lit(budget))
          .cast("long").as("shard"))
  }

  /** Deterministic stratified sampling — per-stratum keep rates with a
    * splitter that is EXACTLY re-derivable in any SQL engine (a
    * full-period multiplicative residue over a prime modulus, pure
    * integer arithmetic with no 64-bit overflow for doc_id < 2^47):
    * audit and downstream systems can recompute exactly which rows were
    * kept without running this engine — the reproducibility property a
    * curation pipeline wants from its sampling step. Strata here are
    * length bands (the common quota: keep long documents, thin out
    * short ones); `rates` maps stratum -> keep fraction. */
  val SampleMod = 100003L // prime
  val SampleMult = 48271L // MINSTD multiplier

  def sampleStratified(documents: DataFrame,
                       rates: Map[String, Double]): DataFrame = {
    val nWords = size(filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= ""))
    val stratum = when(nWords >= 60, lit("long"))
      .when(nWords >= 20, lit("mid"))
      .otherwise(lit("short"))
    val u = pmod(col("doc_id").cast("long") * lit(SampleMult) + lit(11L), lit(SampleMod))
    val threshold = rates.foldLeft(lit(0L)) { case (acc, (s, r)) =>
      when(stratum === s, lit((r * SampleMod).toLong)).otherwise(acc)
    }
    documents.select(col("doc_id").cast("long").as("doc_id"),
      stratum.as("stratum"), u.as("u"), (u < threshold).as("sampled"))
  }

  /** Fixed-size token chunking with overlap — the RAG-indexing /
    * training-window primitive: each document's token stream splits into
    * windows of `chunkTokens`, each window starting `chunkTokens -
    * overlap` after the previous, the final window short. A document with
    * no tokens yields no chunks.
    *
    * Entirely per-row (token array + `sequence(0, n-1, step)` starts +
    * one posexplode) — a narrow codegen projection whose output rows
    * carry (doc_id, chunk_idx), so downstream embedding/indexing stages
    * shuffle chunk-granularity rows without ever re-reading documents. */
  def chunkDocuments(documents: DataFrame, chunkTokens: Int,
                     overlap: Int = 0): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got chunk=$chunkTokens overlap=$overlap")
    val step = chunkTokens - overlap
    val w = filter(split(col("text"), "\\s+"), t => t =!= "")
    val starts = when(size(w) > 0,
      sequence(lit(0), size(w) - 1, lit(step)))
      .otherwise(array().cast("array<int>"))
    documents
      .select(col("doc_id"),
        size(w).as("doc_tokens"),
        posexplode(transform(starts,
          s => array_join(slice(w, s + 1, lit(chunkTokens)), " "))).as(Seq("chunk_idx", "chunk_text")))
      .select(col("doc_id"), col("chunk_idx"),
        least(lit(chunkTokens), col("doc_tokens") - col("chunk_idx") * step)
          .as("n_tokens"),
        col("chunk_text"))
  }

  /** Per-host document quota — the RefinedWeb-style domain-diversity cap:
    * keep at most `cap` pages per host (the first `cap` in url order, a
    * deterministic tie-free rule), flagging the rest. Prevents a handful
    * of mega-domains from dominating a crawl-derived training set.
    *
    * Skew is the whole problem at 100 TB (one host can hold 10^8 pages),
    * so the plan never runs a naive per-host window over everything:
    *   1. hosts at-or-under the cap (the overwhelming majority) bypass
    *      ranking entirely — a keys-only count agg + anti-join, all rows
    *      kept;
    *   2. over-cap hosts go through TWO-PHASE top-k: phase 1 ranks
    *      within (host, salt-of-url) — a mega-host spreads over `salt`
    *      tasks — and only per-bucket top-`cap` survive (the global
    *      top-cap is provably a subset of the union of bucket top-caps);
    *      phase 2 ranks the ≤ salt×cap survivors per host, so NO task
    *      ever sorts more than salt×cap rows of one host. Rows cut in
    *      phase 1 are definitively over-quota and short-circuit to
    *      kept=false. Raise `salt` for pathological single-host mass. */
  /** Canonical crawl URL: the dedup key that collapses cosmetic URL
    * variants of one page BEFORE expensive content dedup ever sees
    * them (standard crawl-frontier normalization):
    *
    *  - fragment stripped (`#…` never reaches the server);
    *  - scheme and authority lower-cased;
    *  - default port stripped (`:80` for http, `:443` for https);
    *  - empty path becomes `/`;
    *  - query parameters sorted (`?b=2&a=1` == `?a=1&b=2`).
    *
    * Pure codegen'd Column expressions over one narrow projection —
    * zero shuffles, zero UDFs; every rule is plain regex/split/sort
    * so the SQL oracle replays it exactly. Deliberately NOT attempted:
    * percent-decoding, IDN, tracking-param blacklists — semantic
    * choices a production pipeline configures, not defaults. */
  def canonicalUrl(url: Column): Column = {
    val noFrag = split(url, "#").getItem(0)
    val scheme = lower(regexp_extract(noFrag, "^([^:/?#]+)://", 1))
    val auth = lower(regexp_extract(noFrag, "^[^:/?#]+://([^/?#]*)", 1))
    val authNoPort = when(scheme === "http", regexp_replace(auth, ":80$", ""))
      .when(scheme === "https", regexp_replace(auth, ":443$", ""))
      .otherwise(auth)
    val path0 = regexp_extract(noFrag, "^[^:/?#]+://[^/?#]*([^?#]*)", 1)
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val q = regexp_extract(noFrag, "\\?([^#]*)", 1)
    val sortedQ = when(q === "", lit(""))
      .otherwise(concat(lit("?"), array_join(array_sort(split(q, "&")), "&")))
    concat(scheme, lit("://"), authNoPort, path, sortedQ)
  }

  /** (url, canonical_url) mapping over a url-column frame. */
  def canonicalizeUrls(pages: DataFrame): DataFrame =
    pages.select(col("url"), canonicalUrl(col("url")).as("canonical_url"))

  def hostQuota(pages: DataFrame, cap: Int, salt: Int = 8): DataFrame = {
    require(cap >= 1 && salt >= 1)
    val withHost = pages.select(col("url"),
      regexp_extract(col("url"), "^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)", 1).as("host"))
    val hot = withHost.groupBy("host").agg(count(lit(1)).as("n_host"))
      .filter(col("n_host") > cap).select("host")
    val coldKept = withHost.join(hot, Seq("host"), "left_anti")
      .select(col("url"), col("host"), lit(true).as("kept"))
    val hotRows = withHost.join(hot, Seq("host"), "left_semi")
      .withColumn("salt_b", pmod(xxhash64(col("url")), lit(salt)))
    val wSalt = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host"), col("salt_b")).orderBy(col("url"))
    val phase1 = hotRows.withColumn("rk1", row_number().over(wSalt))
    val wHost = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host")).orderBy(col("url"))
    val hotKept = phase1.filter(col("rk1") <= cap)
      .withColumn("rk", row_number().over(wHost))
      .select(col("url"), col("host"), (col("rk") <= cap).as("kept"))
    val hotDropped = phase1.filter(col("rk1") > cap)
      .select(col("url"), col("host"), lit(false).as("kept"))
    coldKept.unionByName(hotKept).unionByName(hotDropped)
  }

  /** Temperature-scaled source mixing at α = 1/2 — the multi-source
    * training-mix step (rare sources up-weighted, hub hosts flattened,
    * as in multilingual/多-corpus sampling à la GPT-3/PaLM data mixes):
    * each host h with n_h pages gets weight w_h ∝ √n_h and a page quota
    * proportional to its weight share of `budget`.
    *
    * Exactness contract (the reason for every constant here): IEEE sqrt
    * is correctly rounded in both engines, multiplying by 2^20 is exact,
    * so w_h = floor(√n_h · 2^20) is engine-independent; the quota is the
    * pure-integer w_h div step with step = max(1, ceil(ΣW / budget)) —
    * no double division whose low bits could differ, no order-dependent
    * float sums (ΣW is an integer sum). Selection within a host is the
    * same deterministic url-rank rule as [[hostQuota]], with the same
    * two-phase salted window so a hub host's rank never serializes one
    * task: phase 1 ranks within (host, salt-bucket) and keeps ≤ quota
    * per bucket, phase 2 ranks the ≤ salt·quota survivors exactly.
    *
    * Scale shape: one narrow scan for the per-host count agg (map-side
    * combine), ONE driver scalar (ΣW), and the salted double-window —
    * identical exchange structure to hostQuota at any corpus size. */
  def temperatureMix(pages: DataFrame, budget: Long, salt: Int = 8): DataFrame = {
    require(budget >= 1 && salt >= 1)
    val withHost = pages.select(col("url"),
      regexp_extract(col("url"), "^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)", 1).as("host"))
    val weights = withHost.groupBy("host").agg(count(lit(1)).as("n_host"))
      .withColumn("w",
        floor(sqrt(col("n_host").cast("double")) * lit((1L << 20).toDouble)).cast("long"))
    val totalW = weights.agg(sum(col("w"))).first().getLong(0)
    val step = math.max(1L, (totalW + budget - 1L) / budget)
    val quotas = weights.withColumn("quota", expr(s"w div CAST($step AS BIGINT)"))
      .select(col("host"), col("n_host"), col("quota"))
    val rows = withHost.join(quotas, Seq("host"))
      .withColumn("salt_b", pmod(xxhash64(col("url")), lit(salt)))
    val wSalt = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host"), col("salt_b")).orderBy(col("url"))
    val phase1 = rows.withColumn("rk1", row_number().over(wSalt))
    val wHost = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host")).orderBy(col("url"))
    val kept = phase1.filter(col("rk1") <= col("quota"))
      .withColumn("rk", row_number().over(wHost))
      .select(col("url"), col("host"), col("n_host"), col("quota"),
        (col("rk") <= col("quota")).as("kept"))
    val dropped = phase1.filter(col("rk1") > col("quota"))
      .select(col("url"), col("host"), col("n_host"), col("quota"),
        lit(false).as("kept"))
    kept.unionByName(dropped)
  }

  /** Eval-set decontamination: flag training documents sharing any
    * `n`-token n-gram with a held-out evaluation set (the standard
    * 13-gram-overlap rule next to dedup in an LLM curation pipeline).
    * Returns per-document distinct-n-gram counts, the number overlapping
    * the eval set, the overlap fraction, and the contaminated verdict.
    *
    * Plan at 100 TB: the eval set is tiny next to the corpus, so its
    * DISTINCT n-gram keys (16-byte double hashes, [[lineKey]] odds
    * argument — a false flag needs a double collision) are BROADCAST;
    * the corpus side is one narrow scan -> explode -> distinct-per-doc
    * partial agg -> broadcast-hash semi-probe, with zero all-to-all
    * exchange of either side's text. The only shuffle is the per-doc
    * count agg on doc_id. */
  def decontaminate(documents: DataFrame, evalDocs: DataFrame, n: Int = 13): DataFrame = {
    val evalKeys = evalDocs
      .select(wsTokens(col("text")).as("w"))
      .select(explode(tokenNgramsOf(col("w"), n)).as("ngram"))
      .select(lineKey(col("ngram")): _*)
      .distinct()
    // per-doc distinct happens INSIDE the row (array_distinct before the
    // explode) — a doc's n-grams live in one array, so deduplicating them
    // needs no exchange at all, unlike a post-explode distinct()
    val docGrams = documents
      .select(col("doc_id"), wsTokens(col("text")).as("w"))
      .select(col("doc_id"),
        explode(array_distinct(tokenNgramsOf(col("w"), n))).as("ngram"))
      .select(Seq(col("doc_id")) ++ lineKey(col("ngram")): _*)
    val flagged = docGrams
      .join(broadcast(evalKeys), Seq("h1", "h2"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
    val totals = documents
      .select(col("doc_id"), wsTokens(col("text")).as("w"))
      .select(col("doc_id"),
        size(array_distinct(tokenNgramsOf(col("w"), n))).as("n_ngrams"))
    totals.join(flagged, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_ngrams"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)) /
          greatest(col("n_ngrams"), lit(1)).cast("double"), 4).as("overlap_frac"),
        (coalesce(col("n_overlap"), lit(0L)) > 0).as("contaminated"))
  }

  /** The composed curation VERDICT — the decision table a training-data
    * pipeline actually filters on, folding the per-row signals (quality,
    * language ID, line/word repetition, PII density) and the corpus-level
    * near-dup survivor verdict into one keep/drop per document, with the
    * FIRST failing rule as the audit reason (rule order is part of the
    * contract: duplicate → low_quality → no_lang → repetitive_lines →
    * repetitive_words → pii).
    *
    * Float-parity discipline: every fractional signal is compared at its
    * ROUNDED precision (the same rounding its standalone oracle checks),
    * so a threshold can never split on bits the oracle doesn't see.
    *
    * Scale shape: all per-row signals come from ONE narrow projection
    * over the text scan (no per-signal join); the only exchange is the
    * keys-only join against the survivor verdict — which at production
    * scale is the already-persisted dedup output, joined by doc_id. */
  val DefaultMinQuality = 0.30
  val DefaultMaxDupLineFrac = 0.5
  val DefaultMaxTopWordFrac = 0.5
  val DefaultMaxPii = 10

  /** Exact distributed per-group quantiles of an integer column — the
    * corpus-profiling step (length/token distributions per language or
    * source) that sizing decisions (chunk budgets, shard packing, quality
    * cutoffs) read.
    *
    * Definition pinned for oracle parity: the p-th percentile of n values
    * is the SMALLEST value whose cumulative count reaches
    * `(p·n + 99) div 100` — i.e. ceil(p·n/100) in PURE INTEGER arithmetic.
    * `percentile_approx` is approximate and `quantile_disc`'s tie rule is
    * engine-specific; this definition is total, interpolation-free, and
    * identical on both engines, so the gate is exact.
    *
    * Scale shape: ONE hash agg keyed by (group, value) — map-side
    * partials absorb the corpus, so only distinct (group, value) pairs
    * cross the exchange (doc lengths at 10^12 rows collapse to ~10^5
    * distinct values per group); the cumulative window then runs over
    * that bounded frame, never over raw rows. No sort of the corpus, no
    * per-group collect. */
  def exactQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      percents: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(percents.forall(p => p >= 1 && p <= 100), s"percents in 1..100: $percents")
    val counts = df.groupBy(col(groupCol), col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
    val cum = counts
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col(groupCol)).orderBy(col("v"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col(groupCol))))
    cum.select(col(groupCol), col("v"), col("cum"), col("n"),
        explode(array(percents.map(lit): _*)).as("pct"))
      .filter(col("cum") >= expr("(pct * n + 99) div 100"))
      .groupBy(col(groupCol), col("pct"))
      .agg(min(col("v")).as("quantile"))
  }

  /** Fixed-point binary logarithm: lg1024(x) = floor-exact integer
    * approximation of 1024·log2(x) for x ≥ 1, as msb·1024 plus the next
    * ten bits of x (linear interpolation between powers of two, error
    * < 0.09% of a bit, strictly monotone). Every operation — bin-string
    * length for the msb index, power-of-two shift, floor division — is
    * exact and engine-independent, unlike log()/log2() whose last ulp
    * is not guaranteed correctly rounded in either engine. Emitted as a
    * SQL fragment because Spark's Column API fixes shift amounts at
    * plan time while the SQL function accepts expressions. */
  /** Driver-side twin of [[lg1024Sql]] for folding per-run constant
    * terms (x ≥ 1): same msb + next-ten-bits formula, bit-identical. */
  private[graft] def lgL(x: Long): Long = {
    require(x >= 1, s"lgL domain is x >= 1, got $x")
    val il = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val frac = if (il >= 10) x >> (il - 10) else x << (10 - il)
    il.toLong * 1024L + frac - 1024L
  }

  private[graft] def lg1024Sql(x: String): String = {
    val v = s"CAST(($x) AS BIGINT)"
    val il = s"(length(bin($v)) - 1)"
    s"($il * 1024 + CASE WHEN $il >= 10" +
      s" THEN $v div shiftleft(CAST(1 AS BIGINT), $il - 10)" +
      s" ELSE $v * shiftleft(CAST(1 AS BIGINT), 10 - $il) END - 1024)"
  }

  /** DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every corpus
    * document by how much more likely its bag of tokens is under a small
    * TARGET-domain sample than under the raw corpus, then keep the top
    * `budget` documents. Per-feature weight is the add-one-smoothed
    * log-likelihood ratio
    *
    *   w(f) = log2 p̂_target(f) − log2 p̂_raw(f)
    *        = lg(t_f+1) − lg(T+V) − lg(r_f+1) + lg(R+V)
    *
    * computed ENTIRELY in integers via [[lg1024Sql]] (units of 1/1024
    * bit) so the DuckDB oracle replays every weight and every document
    * score bit-for-bit; a document's score is the sum of w(f) over its
    * token OCCURRENCES (bag semantics, as in the paper's hashed n-gram
    * generative model). Features are exact tokens keyed by the 16-byte
    * double hash ([[lineKey]] odds argument); DSIR's hashed-bucket
    * reduction is a memory optimization this keys-only plan doesn't
    * need — the hash here compresses the exchange, not the feature space.
    *
    * Plan at 100 TB: token text is dropped before any exchange (both
    * count aggs and the probe join run on 16-byte keys with map-side
    * partial combine); the feature dictionary is co-partitioned with the
    * probe side (both exit the same hash exchange — no broadcast needed,
    * the dictionary scales with corpus vocabulary); T/R/V cross the
    * driver as three scalars; and the top-k selection is the two-phase
    * salted window (per-salt-bucket prune to ≤ budget, then an exact
    * global rank over ≤ salt·budget survivors) so the final total order
    * never sorts more than salt·budget rows in one task. The dictionary
    * is checkpointed once because the scalar agg and the probe join
    * both consume it (the multi-branch rule, BENCH/PLANS.md). */
  def importanceResample(documents: DataFrame, targetDocs: DataFrame,
      budget: Long, salt: Int = 8): DataFrame = {
    require(budget >= 1 && salt >= 1)
    val docTok = documents
      .select(col("doc_id").cast("long").as("doc_id"), wsTokens(col("text")).as("w"))
      .select(col("doc_id"), explode(col("w")).as("tok"))
      .select(Seq(col("doc_id")) ++ lineKey(col("tok")): _*)
    val rawCnt = docTok.groupBy("h1", "h2").agg(count(lit(1)).as("r_f"))
    val tgtCnt = targetDocs
      .select(wsTokens(col("text")).as("w"))
      .select(explode(col("w")).as("tok"))
      .select(lineKey(col("tok")): _*)
      .groupBy("h1", "h2").agg(count(lit(1)).as("t_f"))
    // lazy: the scalar-totals collect below fills the blocks, the probe
    // join then reads them (one job, not two — optimization r6)
    val dict = Leaf(rawCnt.join(tgtCnt, Seq("h1", "h2"), "full_outer")
      .select(col("h1"), col("h2"),
        coalesce(col("r_f"), lit(0L)).as("r_f"),
        coalesce(col("t_f"), lit(0L)).as("t_f")), eager = false)
    val Array(totR, totT, totV) = {
      val row = dict.agg(sum(col("r_f")), sum(col("t_f")), count(lit(1))).first()
      Array(row.getLong(0), row.getLong(1), row.getLong(2))
    }
    // lg(T+V) and lg(R+V) are per-run constants: fold them on the driver
    // (same integer formula) so the per-feature expression is two lg's
    val constBias = lgL(totR + totV) - lgL(totT + totV)
    val weights = dict.filter(col("r_f") > 0) // target-only features are never probed
      .withColumn("wlg",
        expr(s"${lg1024Sql("t_f + 1")} - ${lg1024Sql("r_f + 1")} + CAST($constBias AS BIGINT)"))
      .select(col("h1"), col("h2"), col("wlg"))
    val scored = docTok.join(weights, Seq("h1", "h2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("wlg")).as("score"))
    val all = documents.select(col("doc_id").cast("long").as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        coalesce(col("score"), lit(0L)).as("score"))
      .withColumn("salt_b", pmod(xxhash64(col("doc_id")), lit(salt)))
    val wSalt = org.apache.spark.sql.expressions.Window
      .partitionBy(col("salt_b")).orderBy(col("score").desc, col("doc_id"))
    val phase1 = all.withColumn("rk1", row_number().over(wSalt))
    val wGlobal = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id"))
    val kept = phase1.filter(col("rk1") <= budget)
      .withColumn("rk", row_number().over(wGlobal))
      .select(col("doc_id"), col("n_tok"), col("score"),
        (col("rk") <= budget).as("kept"))
    val dropped = phase1.filter(col("rk1") > budget)
      .select(col("doc_id"), col("n_tok"), col("score"), lit(false).as("kept"))
    kept.unionByName(dropped)
  }

  /** GPT-3/LLaMA-style document quality classifier: a linear classifier
    * over bag-of-token counts, trained on a POSITIVE seed sample
    * (curated, "wiki-like" text) against a NEGATIVE seed sample (raw web
    * slice), scoring EVERY corpus document and emitting a keep/drop
    * verdict at the zero log-odds threshold — the curation step the
    * GPT-3 / LLaMA / palm data papers all run between dedup and mixing.
    * The model is multinomial Naive Bayes with add-one smoothing — the
    * classic closed-form linear classifier: per-token weight
    *
    *   w(f) = [lg(p_f+1) − lg(P+V)] − [lg(n_f+1) − lg(N+V)]
    *
    * (p_f/n_f = class token counts, P/N = class totals, V = joint
    * vocabulary), document score = Σ_occurrences w(f) + lg(|pos docs|)
    * − lg(|neg docs|), all in fixed-point 1/1024-bit integers via
    * [[lg1024Sql]]/[[lgL]] so the DuckDB oracle replays every weight,
    * every score, and every verdict bit-for-bit. Tokens the training
    * sets never saw still contribute the smoothed floor (the folded
    * `constBias`) — unlike [[importanceResample]], which prunes them —
    * because a verdict at a FIXED threshold must price unknown mass.
    *
    * Plan at 100 TB: token strings are dropped before every exchange
    * (class counts and the weight probe ride the 2×64-bit [[lineKey]]);
    * the weight dictionary is vocabulary-sized (Heaps' law) and
    * co-partitioned with the probe side — both exit the same hash
    * exchange, no broadcast needed; the four normalizers cross the
    * driver as scalars and fold into two literals; the verdict is a
    * per-doc agg with map-side partial combine. Training cost is one
    * scan of each seed sample; scoring is one corpus scan pruned to
    * [doc_id, text]. */
  def qualityClassifier(documents: DataFrame, positives: DataFrame,
      negatives: DataFrame): DataFrame = {
    val docTok = documents
      .select(col("doc_id").cast("long").as("doc_id"), wsTokens(col("text")).as("w"))
      .select(col("doc_id"), explode(col("w")).as("tok"))
      .select(Seq(col("doc_id")) ++ lineKey(col("tok")): _*)
    def classCnt(df: DataFrame, as: String) = df
      .select(wsTokens(col("text")).as("w"))
      .select(explode(col("w")).as("tok"))
      .select(lineKey(col("tok")): _*)
      .groupBy("h1", "h2").agg(count(lit(1)).as(as))
    // loud up-front validation (ADVICE r5), BEFORE any dictionary job:
    // an empty seed class used to surface as lgL's cryptic "domain is
    // x >= 1" require (or a bare NPE on the null totals row) far from
    // the actual cause
    val nPos = positives.count()
    val nNeg = negatives.count()
    require(nPos > 0 && nNeg > 0,
      s"quality classifier seed samples must be non-empty (positives=$nPos, negatives=$nNeg)")
    val prior1024 = lgL(nPos) - lgL(nNeg)
    // lazy: the totals collect below fills the blocks, the probe join
    // then reads them (one job, not two — optimization r6)
    val dict = Leaf(classCnt(positives, "p_f")
      .join(classCnt(negatives, "n_f"), Seq("h1", "h2"), "full_outer")
      .select(col("h1"), col("h2"),
        coalesce(col("p_f"), lit(0L)).as("p_f"),
        coalesce(col("n_f"), lit(0L)).as("n_f")), eager = false)
    val Array(totP, totN, totV) = {
      val row = dict.agg(sum(col("p_f")), sum(col("n_f")), count(lit(1))).first()
      // seeds can be non-empty yet tokenless (all-whitespace texts):
      // the totals aggregate to NULL — refuse with the real cause
      require(!row.isNullAt(0) && !row.isNullAt(1),
        "quality classifier seed samples contain no tokens")
      Array(row.getLong(0), row.getLong(1), row.getLong(2))
    }
    val constBias = lgL(totN + totV) - lgL(totP + totV)
    val weights = dict.withColumn("wlg",
      expr(s"${lg1024Sql("p_f + 1")} - ${lg1024Sql("n_f + 1")} + CAST($constBias AS BIGINT)"))
      .select(col("h1"), col("h2"), col("wlg"))
    val scored = docTok.join(weights, Seq("h1", "h2"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(coalesce(col("wlg"), lit(constBias))).as("s"))
    documents.select(col("doc_id").cast("long").as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        (coalesce(col("s"), lit(0L)) + lit(prior1024)).as("score"),
        ((coalesce(col("s"), lit(0L)) + lit(prior1024)) > 0).as("keep"))
  }

  /** GPT-3-style Pareto noisy-threshold selection over classifier
    * scores (Brown et al. 2020, Appendix A: a document is kept when
    * `score > 1 − pareto(α)` — low-scored documents survive with
    * heavy-tailed probability, so filtering never collapses the kept
    * distribution onto the classifier's mode). Integer surrogate, exact
    * in both engines: scores min-max-normalize to s ∈ [0, 2^20] (one
    * scalar agg), the per-doc uniform draw is the repo's MINSTD LCG
    * (`(doc_id·48271 + 13) mod 2^20 + 1` — [[sampleStratified]]'s
    * replayable-splitter convention), and the Pareto tail
    * `P(keep | deficit d) = (1 + d)^{−α}` becomes a comparison of
    * fixed-point logs: keep iff
    *
    *   lg1024(u) − 20480  ≤  −α · (lg1024(2^20 + (2^20 − s)) − 20480)
    *
    * (20480 = lg1024(2^20) exactly). A perfect-score document is ALWAYS
    * kept (both sides 0 at deficit 0, `≤` convention); the worst score
    * survives with probability ~2^−α. Deterministic, no floats, no RNG
    * state — the DuckDB oracle replays every draw and verdict.
    *
    * Plan: one scalar min/max agg, then a single narrow codegen
    * projection per row — zero joins, zero shuffles beyond the agg. */
  def paretoSelect(scored: DataFrame, alpha: Int = 9): DataFrame = {
    require(alpha >= 1, s"alpha must be >= 1, got $alpha")
    val row = scored.agg(min(col("score")), max(col("score"))).first()
    // loud empty-input guard (ADVICE r5): min/max aggregate to NULL on an
    // empty frame and getLong would throw a bare NullPointerException
    require(!row.isNullAt(0) && !row.isNullAt(1),
      "paretoSelect requires a non-empty scored frame (min/max score aggregated to NULL)")
    val (mn, mx) = (row.getLong(0), row.getLong(1))
    val span = math.max(mx - mn, 1L)
    scored.select(col("doc_id").cast("long").as("doc_id"), col("score"))
      .withColumn("s_norm",
        expr(s"CAST(((score - (${mn}L)) * 1048576L) div ${span}L AS BIGINT)"))
      .withColumn("u",
        pmod(col("doc_id") * lit(48271L) + lit(13L), lit(1048576L)) + lit(1L))
      .withColumn("keep", expr(
        s"${lg1024Sql("u")} - 20480 <= " +
          s"-$alpha * (${lg1024Sql("1048576 + (1048576 - s_norm)")} - 20480)"))
      .select(col("doc_id"), col("score"), col("u"), col("keep"))
  }

  /** Leakage-safe train/val/test split: every document in one near-dup
    * component lands in the SAME split, so a training document's
    * near-duplicate can never leak into the held-out sets — the
    * eval-contamination failure mode document-independent hashing cannot
    * prevent (and the reason serious LLM pipelines split AFTER dedup
    * clustering, not before). The split is drawn on the component
    * REPRESENTATIVE (min-id label from [[DedupOps.dedupComponents]];
    * singleton docs represent themselves) with the repo's MINSTD
    * replayable splitter, so the assignment is deterministic, integer,
    * and oracle-replayable — and adding a new near-dup of an existing
    * doc can never move that doc's cluster.
    *
    * Plan: components over the PERSISTED pair table (pairs are the
    * build-once dedup artifact, O(log diameter) label rounds over
    * id-pair rows), one left join to attach labels (doc-id-keyed both
    * sides), then a narrow per-row draw — documents' text is never
    * read, let alone shuffled. */
  def leakproofSplit(documents: DataFrame, pairs: DataFrame,
      valPerMille: Long = 100L, testPerMille: Long = 100L): DataFrame = {
    require(valPerMille >= 0 && testPerMille >= 0 &&
      valPerMille + testPerMille <= 1000,
      s"per-mille rates must be >= 0 and sum <= 1000, got $valPerMille/$testPerMille")
    val comp = DedupOps.dedupComponents(pairs)
      .select(col("id").as("doc_id"), col("comp"))
    documents.select(col("doc_id").cast("long").as("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("rep"))
      .withColumn("u", pmod(col("rep") * lit(48271L) + lit(17L), lit(1000L)))
      .withColumn("split",
        when(col("u") < lit(testPerMille), lit("test"))
          .when(col("u") < lit(testPerMille + valPerMille), lit("val"))
          .otherwise(lit("train")))
  }

  /** Word bigrams of an ALREADY-MATERIALIZED token-array column, as an
    * array of (w1, w2) structs (empty under 2 tokens). Same O(T²) rule
    * as [[tokenNgramsOf]]: `w` must be a plain attribute. */
  private def bigramPairs(w: Column): Column =
    when(size(w) >= 2,
      transform(sequence(lit(1), size(w) - 1),
        i => struct(element_at(w, i).as("w1"), element_at(w, i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))

  /** CCNet-style language-model perplexity bucketing (Wenzek et al. 2020,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    * Data"): train a bigram model on a small TARGET-quality sample, score
    * every corpus document by its per-token cross-entropy under that
    * model, and split the corpus into head / middle / tail at the exact
    * 33rd and 67th percentiles of the score distribution (CCNet's tercile
    * rule; documents too short to hold a bigram land in 'short').
    *
    * The model is add-one-smoothed conditional bigram likelihood; a
    * document's negative log-likelihood in 1/1024-bit units is
    *
    *   nll(d) = Σ_i  lg(c1(w_i) + V) − lg(c2(w_i, w_{i+1}) + 1)
    *
    * with c2 = target bigram count, c1 = target bigram-PREFIX count
    * (Σ_x c2(w,x), the exact conditional denominator), V = distinct
    * target vocabulary — every term computed with the fixed-point
    * integer [[lg1024Sql]] so the DuckDB oracle replays every document
    * score and both tercile thresholds bit-for-bit (each term ≥ 0
    * because c2 ≤ c1 and 1 ≤ V). Per-token score `ppl1024` =
    * nll div n_bigrams — 1024·bits-per-token, monotone in perplexity.
    *
    * Plan at 100 TB: the target model is two keyed count tables (bigram,
    * prefix) built from one narrow pass over the sample; corpus bigrams
    * are exploded to 16-byte double-hash keys BEFORE any exchange (token
    * strings never shuffle) and probe the two dictionaries with hash
    * joins (dictionaries are sample-vocabulary-sized — bigger than a
    * broadcast wants at a 10^6-doc target sample, so no broadcast is
    * forced; AQE picks one when the sample is small); V crosses the
    * driver as one scalar. The per-doc score frame is checkpointed once
    * (quantile branch + bucketing branch — the multi-branch rule; it is
    * also the artifact a production pipeline persists). The tercile
    * computation aggregates to distinct (ppl1024, count) pairs first —
    * ppl1024 is bounded by 1024·lg(corpus) ≈ 2^16 distinct values, so
    * the single-partition cumulative window is O(2^16) at ANY corpus
    * size — and the two thresholds return to the plan as literals. */
  def perplexityBuckets(documents: DataFrame, targetDocs: DataFrame): DataFrame = {
    val tgtTok = targetDocs.select(wsTokens(col("text")).as("w"))
    val tgtBi = tgtTok.select(explode(bigramPairs(col("w"))).as("b"))
      .select(concat(col("b.w1"), lit(" "), col("b.w2")).as("bi"), col("b.w1").as("w1"))
    val biCnt = tgtBi.select(lineKey(col("bi")): _*)
      .groupBy("h1", "h2").agg(count(lit(1)).as("c2cnt"))
    val preCnt = tgtBi.select(lineKey(col("w1")).zip(Seq("p1", "p2"))
        .map { case (c, n) => c.as(n) }: _*)
      .groupBy("p1", "p2").agg(count(lit(1)).as("c1cnt"))
    val totV = tgtTok.select(explode(col("w")).as("t"))
      .select(lineKey(col("t")): _*).distinct().count()
    require(totV >= 1, "target sample must contain at least one token")
    val docBi = documents
      .select(col("doc_id").cast("long").as("doc_id"), wsTokens(col("text")).as("w"))
      .select(col("doc_id"), explode(bigramPairs(col("w"))).as("b"))
      .select(Seq(col("doc_id"),
        concat(col("b.w1"), lit(" "), col("b.w2")).as("bi"), col("b.w1").as("w1")): _*)
    val docKeys = docBi.select(Seq(col("doc_id")) ++ lineKey(col("bi")) ++
      lineKey(col("w1")).zip(Seq("p1", "p2")).map { case (c, n) => c.as(n) }: _*)
    val terms = docKeys
      .join(biCnt, Seq("h1", "h2"), "left")
      .join(preCnt, Seq("p1", "p2"), "left")
      .withColumn("t", expr(
        s"${lg1024Sql(s"coalesce(c1cnt, 0L) + ${totV}L")} - ${lg1024Sql("coalesce(c2cnt, 0L) + 1L")}"))
    val sc = terms.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("t")).as("nll"))
    // lazy: the tercile-threshold collect below fills every partition
    // (the filter sits downstream of the leaf), the bucketing branch then
    // reads the blocks (one job, not two — optimization r6)
    val scored = Leaf(documents.select(col("doc_id").cast("long").as("doc_id"))
      .join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll"), lit(0L)).as("nll"))
      .withColumn("ppl1024",
        when(col("n_bigrams") >= 1, expr("nll div n_bigrams")).otherwise(lit(0L))), eager = false)
    val thresholds = exactQuantiles(
      scored.filter(col("n_bigrams") >= 1).withColumn("g", lit(1)),
      "g", "ppl1024", Seq(33, 67))
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    val t33 = thresholds.getOrElse(33, 0L)
    val t67 = thresholds.getOrElse(67, 0L)
    scored.withColumn("bucket",
      when(col("n_bigrams") === 0, lit("short"))
        .when(col("ppl1024") <= t33, lit("head"))
        .when(col("ppl1024") <= t67, lit("middle"))
        .otherwise(lit("tail")))
  }

  def curationVerdict(documents: DataFrame, pairs: DataFrame,
      minQuality: Double = DefaultMinQuality,
      maxDupLineFrac: Double = DefaultMaxDupLineFrac,
      maxTopWordFrac: Double = DefaultMaxTopWordFrac,
      maxPii: Int = DefaultMaxPii): DataFrame = {
    val lines = split(col("text"), "\n")
    val words = filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= "")
    val signals = documents.select(
      col("doc_id").cast("long").as("doc_id"),
      graft.ops.TextOps.qualityScore(col("text")).as("quality"),
      graft.ops.TextOps.langId(col("text")).as("lang_pred"),
      round((size(lines) - size(array_distinct(lines))) /
        greatest(size(lines), lit(1)).cast("double"), 4).as("dup_line_frac"),
      round(maxMultiplicity(words) /
        greatest(size(words), lit(1)).cast("double"), 4).as("top_word_frac"),
      (size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))) +
        size(regexp_extract_all(col("text"), lit(Ipv4Re), lit(0))) +
        size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0)))).as("n_pii"))
    val dedup = DedupOps.dedupSurvivors(documents, pairs)
      .select(col("doc_id"), col("keep").as("dedup_keep"))
    signals.join(dedup, Seq("doc_id"))
      .withColumn("reason",
        when(!col("dedup_keep"), "duplicate")
          .when(col("quality") < minQuality, "low_quality")
          .when(col("lang_pred") === "unknown", "no_lang")
          .when(col("dup_line_frac") > maxDupLineFrac, "repetitive_lines")
          .when(col("top_word_frac") > maxTopWordFrac, "repetitive_words")
          .when(col("n_pii") > maxPii, "pii")
          .otherwise("keep"))
      .withColumn("keep", col("reason") === "keep")
  }
}
