package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.SparkTestBase

class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("typed Aggregator predStats: one-pass per-group stats, O(1) buffer") {
    import spark.implicits._
    val df = Seq(
      ("p1", 2.toByte, "b"), ("p1", 0.toByte, "a"), ("p2", 2.toByte, "z")
    ).toDF("pred", "objKind", "objValue")
    val r = df.groupBy(col("pred"))
      .agg(TripleStats.predStats(col("objKind"), col("objValue")).as("st"))
      .select(col("pred"), col("st.n"), col("st.literals"), col("st.min_obj"), col("st.max_obj"))
      .as[(String, Long, Long, String, String)].collect().toSet
    assert(r == Set(("p1", 2L, 1L, "a", "b"), ("p2", 1L, 1L, "z", "z")), r)
  }

  test("dedup components: min-label propagation resolves chains and islands") {
    import spark.implicits._
    // chain 1-2-3 (diameter 2: needs >1 propagation round), island 7-8
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    val comps = DedupOps.dedupComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L), comps)
  }

  test("dedup components: pointer jumping converges a 200-chain within maxIter 20") {
    import spark.implicits._
    // a 200-node CHAIN has diameter 199 — plain one-hop propagation
    // would blow the maxIter=20 bound (the web-scale sameAs-path case);
    // path doubling needs ~log2(200) + small-constant rounds
    val pairs = (0 until 199).map(i => (f"n$i%03d", f"n${i + 1}%03d")).toDF("a", "b")
    val comps = DedupOps.dedupComponents(pairs)
      .as[(String, String)].collect().toMap
    assert(comps.size == 200)
    assert(comps.values.toSet == Set("n000"), comps.values.toSet)
  }

  test("dedup survivors: per-component content argmax, singletons keep themselves") {
    import spark.implicits._
    val docs = Seq((1L, 100L), (2L, 300L), (3L, 300L), (7L, 50L), (8L, 60L), (9L, 10L))
      .toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    val r = DedupOps.dedupSurvivors(docs, pairs)
      .select("doc_id", "comp", "survivor", "keep")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    // comp {1,2,3}: n_chars ties at 300 between 2 and 3 -> smallest id (2) wins;
    // comp {7,8}: 8 has more content; 9 is in no pair -> survives alone
    assert(r == Set(
      (1L, 1L, 2L, false), (2L, 1L, 2L, true), (3L, 1L, 2L, false),
      (7L, 7L, 8L, false), (8L, 7L, 8L, true), (9L, 9L, 9L, true)), r)
  }

  test("tf-idf top terms: integer scores, boundary ties included, rare terms win") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "cherry cherry date")
    ).toDF("doc_id", "text")
    val r = TextOps.topTermsTfIdf(docs, k = 1)
      .as[(Long, String, Long, Long, Long)].collect().toSet
    // df: apple 1, banana 2, cherry 2, date 1
    // doc1: apple 2e6/1, banana 1e6/2 -> kth(1)=2e6 -> apple only
    // doc2: banana and cherry both 5e5 -> boundary tie, BOTH survive
    // doc3: cherry 2*1e6/2 = date 1e6/1 -> both at 1e6
    assert(r == Set(
      (1L, "apple", 2L, 1L, 2000000L),
      (2L, "banana", 1L, 2L, 500000L), (2L, "cherry", 1L, 2L, 500000L),
      (3L, "cherry", 2L, 2L, 1000000L), (3L, "date", 1L, 1L, 1000000L)), r)
  }

  test("observe metrics ride the action, no second scan") {
    val obs = org.apache.spark.sql.Observation("opsspec_obs")
    val out = java.nio.file.Files.createTempDirectory("obs").toString
    spark.range(100).toDF("id")
      .observe(obs, count(lit(1)).as("rows"), sum(col("id")).as("total"))
      .write.mode("overwrite").parquet(s"$out/t")
    assert(obs.get("rows") == 100L && obs.get("total") == 4950L, obs.get)
  }
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs away fast", "en"),
    (2L, "the quick brown fox jumps over the lazy dog and runs away fast", "en"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog and walks away fast", "en"), // near dup of 1
    (4L, "der schnelle braune fuchs springt und ist nicht langsam", "de"),
    (5L, "completely unrelated text about spark catalyst optimizer internals", "en")
  ).toDF("doc_id", "text", "lang")

  test("exact dedup keeps one representative per fingerprint") {
    val out = DedupOps.exactDedup(docs).select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 3L, 4L, 5L))
    val groups = DedupOps.exactDupGroups(docs).collect()
    assert(groups.length == 1 && groups(0).getAs[Long]("keep_id") == 1L
      && groups(0).getAs[Long]("n_docs") == 2L)
  }

  test("minhash LSH finds the near-duplicate pair") {
    // bands == k (one row per band) => candidate probability = J per band,
    // so a 0.57-Jaccard pair is found with near-certainty; threshold sits
    // below J minus the k=16 estimator's sampling noise
    val pairs = DedupOps.minhashNearDups(docs, k = 16, bands = 16, threshold = 0.25)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"exact dup must be found: $pairs")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)),
      s"near dup 3 should share a band with 1/2: $pairs")
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L), s"unrelated doc joined: $pairs")
  }

  test("hot-bucket guard: over-full buckets star-link, cold buckets keep all pairs") {
    // 6 identical docs (every band bucket holds all 6 > maxBucket=4: hot)
    // plus a near-dup pair in its own cold buckets and one unrelated doc.
    val boiler = (1L to 6L).map(i =>
      (i, "identical boilerplate page body repeated across the whole crawl frontier", "en"))
    val mixed = (boiler ++ Seq(
      (20L, "the quick brown fox jumps over the lazy dog and runs away fast", "en"),
      (21L, "the quick brown fox jumps over the lazy dog and walks away fast", "en"),
      (30L, "completely unrelated text about spark catalyst optimizer internals", "en")
    )).toDF("doc_id", "text", "lang")

    val guarded = DedupOps.minhashNearDups(mixed, k = 16, bands = 16,
      threshold = 0.25, maxBucket = 4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // hot family: exactly the 5 star edges against representative 1
    assert((2L to 6L).forall(j => guarded.contains((1L, j))), guarded)
    assert(!guarded.exists(p => p._1 > 1L && p._2 <= 6L),
      s"hot bucket must not emit non-star pairs: $guarded")
    // cold path untouched: the near-dup pair is still found, unrelated doc absent
    assert(guarded.contains((20L, 21L)), guarded)
    assert(!guarded.exists(p => p._1 == 30L || p._2 == 30L), guarded)
    // downstream components identical to the unguarded all-pairs result
    val unguarded = DedupOps.minhashNearDups(mixed, k = 16, bands = 16,
      threshold = 0.25, maxBucket = Int.MaxValue)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(unguarded.count(p => p._2 <= 6L) == 15, s"clique expected unguarded: $unguarded")
    def comps(ps: Set[(Long, Long)]) = DedupOps.dedupComponents(
      ps.toSeq.toDF("a", "b")).as[(Long, Long)].collect().toMap
    assert(comps(guarded) == comps(unguarded), "guard must preserve components")
  }

  test("simhash and cosine hot-bucket guards star-link identical families") {
    // simhash: 6 identical docs share all 4 band keys — cap 4 makes every
    // key hot, so output is exactly the 5 star edges at hamming 0
    val text = "identical boilerplate page body repeated across the whole crawl frontier"
    val fam = (1L to 6L).map(i => (i, text, "en")).toDF("doc_id", "text", "lang")
    val sim = DedupOps.simhashNearDups(fam, maxHamming = 3, maxBucket = 4)
      .select("a", "b", "hamming").as[(Long, Long, Long)].collect().toSet
    assert(sim == (2L to 6L).map(j => (1L, j, 0L)).toSet, sim)
    // cosine: 6 identical embeddings, same shape — 5 star edges at cos 1.0
    val emb = (1L to 6L).map(i => (i, Array(0.6, 0.8, 0.0, 0.0))).toDF("vec_id", "emb")
    val cos = VectorOps.cosineNearDups(emb, threshold = 0.95, maxBucket = 4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(cos == (2L to 6L).map(j => (1L, j)).toSet, cos)
  }

  test("family guard: two families in a hot bucket link at rep level, members star in") {
    // synthetic simhash signatures: family A = 6 docs at sh=0x1111, family
    // B = 6 docs at sh=0x1110 (hamming 1 — same top three 16-bit bands, so
    // they share 3 of 4 buckets). cap 4 => those buckets are hot. Expected:
    // within-family stars at hamming 0, ONE cross pair at rep level
    // (hamming 1), and no cross member-level pairs.
    val sigs = ((1L to 6L).map(i => (i, 0x1111L)) ++ (11L to 16L).map(i => (i, 0x1110L)))
      .toDF("doc_id", "simhash")
    val pairs = DedupOps.simhashNearDupsFromSigs(sigs, maxHamming = 3, maxBucket = 4)
      .select("a", "b", "hamming").as[(Long, Long, Long)].collect().toSet
    val expected =
      (2L to 6L).map(j => (1L, j, 0L)).toSet ++
        (12L to 16L).map(j => (11L, j, 0L)).toSet + ((1L, 11L, 1L))
    assert(pairs == expected, s"got $pairs")
    // component faithfulness: hamming is a function of the signature, so
    // the rep-level pair joins both families into one component
    val comps = DedupOps.dedupComponents(pairs.map(p => (p._1, p._2)).toSeq.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(comps.values.toSet == Set(1L), comps)
  }

  test("family guard level-2 star: more families than the cap star-link at rep level") {
    // 4 two-doc families with sh in {1,2,4,8} (pairwise hamming 2): bands
    // 1-3 all share bucket 0 (occupancy 8 > cap 2, and 4 families > cap
    // 2), so the SECOND-level star fires: family reps link only through
    // the bucket-min rep (doc 1). band 0 buckets hold single families
    // (occupancy 2 <= cap: exact cold all-pairs at hamming 0).
    val sigs = Seq((1L, 1L), (2L, 1L), (11L, 2L), (12L, 2L),
      (21L, 4L), (22L, 4L), (31L, 8L), (32L, 8L)).toDF("doc_id", "simhash")
    val pairs = DedupOps.simhashNearDupsFromSigs(sigs, maxHamming = 3, maxBucket = 2)
      .select("a", "b", "hamming").as[(Long, Long, Long)].collect().toSet
    val expected = Set(
      (1L, 2L, 0L), (11L, 12L, 0L), (21L, 22L, 0L), (31L, 32L, 0L), // families
      (1L, 11L, 2L), (1L, 21L, 2L), (1L, 31L, 2L))                  // level-2 stars
    assert(pairs == expected, s"got $pairs")
  }

  test("simhash near-dups: identical docs have hamming 0") {
    val pairs = DedupOps.simhashNearDups(docs)
      .select("a", "b", "hamming").as[(Long, Long, Long)].collect()
    val exact = pairs.find(p => p._1 == 1L && p._2 == 2L)
    assert(exact.exists(_._3 == 0L), s"identical docs must hash identically: ${pairs.toSeq}")
  }

  test("jaccard verification scores candidates correctly") {
    val cands = Seq((1L, 2L), (1L, 5L)).toDF("a", "b")
    val scored = DedupOps.ngramJaccardVerify(docs, cands)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toMap2
    assert(scored((1L, 2L)) == 1.0)
    assert(scored((1L, 5L)) < 0.2)
  }

  implicit class Map2[A, B, C](arr: Array[(A, B, C)]) {
    def toMap2: Map[(A, B), C] = arr.map(t => (t._1, t._2) -> t._3).toMap
  }

  test("brute-force ANN ranks an identical vector first") {
    val emb = Seq(
      (1L, Array(1f, 0f, 0f, 0f), 0),
      (2L, Array(0.9f, 0.1f, 0f, 0f), 0),
      (3L, Array(0f, 1f, 0f, 0f), 1),
      (4L, Array(0f, 0f, 1f, 0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val top = VectorOps.topKCosine(emb, Array(1f, 0f, 0f, 0f), 2)
      .select("vec_id").as[Long].collect()
    assert(top.toSeq == Seq(1L, 2L))
  }

  test("cosine near-dups finds the close pair only") {
    val emb = Seq(
      (1L, Array(1f, 0f, 0f, 0f), 0),
      (2L, Array(0.99f, 0.01f, 0f, 0f), 0),
      (3L, Array(0f, 1f, 0f, 0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val pairs = VectorOps.cosineNearDups(VectorOps.asVectors(emb), threshold = 0.95)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("multi-probe bucketed ANN recalls the identical + near vectors") {
    val emb = Seq(
      (1L, Array(1f, 0f, 0f, 0f), 0),
      (2L, Array(0.95f, 0.05f, 0f, 0f), 0),
      (3L, Array(0f, 1f, 0f, 0f), 1),
      (4L, Array(0f, 0f, 1f, 0f), 1),
      (5L, Array(0f, 0f, 0f, 1f), 2)
    ).toDF("vec_id", "embedding", "label")
    val got = VectorOps.annBucketed(emb, Array(1f, 0f, 0f, 0f), k = 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 2L), s"got $got")
  }

  test("verified near-dups: LSH candidates + exact jaccard, planted dups found") {
    // 200 distinct tokens -> ~198 distinct shingles; the near-dup differs
    // in one token -> J ≈ 0.97, where k=64/bands=16 recall is ~1-1e-7
    val base = (0 until 200).map(i => s"word$i").mkString(" ")
    val near = base.replace("word100", "replaced")
    val planted = Seq(
      (10L, base), (11L, base), (12L, near),
      (13L, (0 until 200).map(i => s"other$i").mkString(" ")),
      (14L, (0 until 200).map(i => s"thing$i").mkString(" "))
    ).toDF("doc_id", "text")
    val pairs = DedupOps.verifiedNearDups(planted, jaccardThreshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((10L, 11L)), s"exact dup missed: $pairs")
    assert(pairs.contains((10L, 12L)) && pairs.contains((11L, 12L)),
      s"near dup missed: $pairs")
    assert(!pairs.exists(p => p._1 >= 13L || p._2 >= 13L), s"false positive: $pairs")
  }

  test("incremental hot-bucket guard: new batch star-links through reps") {
    // 6 identical persisted docs (hot at cap 4) + 2 identical new docs of
    // the same family: new x old degrades to rep-to-rep edges, never the
    // 6x2 cross join, and components still merge into one family.
    val text = "identical boilerplate page body repeated across the whole crawl frontier"
    val old = (1L to 6L).map(i => (i, text)).toDF("doc_id", "text")
    val fresh = Seq((20L, text), (21L, text)).toDF("doc_id", "text")
    val oldSk = DedupOps.sketches(old, 16, 16).select("doc_id", "sig", "band_buckets")
    val newSk = DedupOps.sketches(fresh, 16, 16).select("doc_id", "sig", "band_buckets")
    val pairs = DedupOps.incrementalPairsFromSketches(oldSk, newSk,
      k = 16, threshold = 0.25, maxBucket = 4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // old side capped to rep 1; new side (size 2 <= cap) joins in full
    assert(pairs == Set((1L, 20L), (1L, 21L), (20L, 21L)), pairs)
    // prior batches' edges (old clique / old stars) + these rep edges
    // resolve to ONE component
    val oldPairs = DedupOps.minhashNearDups(old, k = 16, bands = 16,
      threshold = 0.25, maxBucket = 4).select("a", "b").as[(Long, Long)].collect().toSet
    val comps = DedupOps.dedupComponents((oldPairs ++ pairs).toSeq.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(comps.values.toSet == Set(1L) && comps.keySet == (1L to 6L).toSet + 20L + 21L, comps)
  }

  test("incremental near-dups: appending a batch equals a full rebuild") {
    // corpus with cross-batch near-dups: 20 is a near-dup of 10 (old),
    // 21 duplicates 20 (new x new), 22 is unrelated
    val base = (0 until 200).map(i => s"word$i").mkString(" ")
    val near = base.replace("word100", "replaced")
    val old = Seq(
      (10L, base), (11L, base.replace("word5", "changed")),
      (12L, (0 until 200).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (20L, near), (21L, near), (22L, (0 until 200).map(i => s"new$i").mkString(" "))
    ).toDF("doc_id", "text")

    val oldSk = DedupOps.sketches(old).select("doc_id", "sig", "band_buckets")
    val oldPairs = DedupOps.minhashNearDups(old, threshold = 0.5)
    val (allSk, allPairs) =
      DedupOps.incrementalMinhashNearDups(oldSk, oldPairs, fresh, threshold = 0.5)

    val rebuilt = DedupOps.minhashNearDups(old.unionByName(fresh), threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val incremental = allPairs.select("a", "b").as[(Long, Long)].collect().toSet
    assert(incremental == rebuilt,
      s"incremental=$incremental rebuild=$rebuilt")
    assert(incremental.contains((10L, 20L)) && incremental.contains((20L, 21L)),
      s"cross-batch and in-batch pairs must both appear: $incremental")
    assert(allSk.count() == 6)

    // component resolution stays identical to a full rebuild
    val compsInc = DedupOps.dedupComponents(allPairs.select("a", "b"))
      .as[(Long, Long)].collect().toMap
    val compsFull = DedupOps.dedupComponents(
      DedupOps.minhashNearDups(old.unionByName(fresh), threshold = 0.5).select("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(compsInc == compsFull, s"$compsInc vs $compsFull")
  }

  test("url canonicalization: fragments, ports, case, query order, bare paths") {
    import spark.implicits._
    val cases = Seq(
      // (input, expected canonical)
      ("https://Host.Example/page/1#frag", "https://host.example/page/1"),
      ("HTTP://HOST.EXAMPLE:80/a?b=2&a=1", "http://host.example/a?a=1&b=2"),
      ("https://h.example:443/x", "https://h.example/x"),
      ("https://h.example:8443/x", "https://h.example:8443/x"), // non-default port kept
      ("http://h.example:443/x", "http://h.example:443/x"),     // wrong-scheme port kept
      ("https://h.example", "https://h.example/"),              // empty path -> /
      ("https://h.example?z=1&y=2#f", "https://h.example/?y=2&z=1"),
      ("https://h.example/p?a=1", "https://h.example/p?a=1"))   // already canonical
    val got = CurationOps.canonicalizeUrls(cases.map(_._1).toDF("url"))
      .as[(String, String)].collect().toMap
    cases.foreach { case (in, want) =>
      assert(got(in) == want, s"$in -> ${got(in)} (wanted $want)")
    }
    // idempotence: canonicalizing a canonical url is a no-op
    val second = CurationOps.canonicalizeUrls(
      cases.map(_._2).distinct.toDF("url")).as[(String, String)].collect()
    second.foreach { case (in, out) => assert(in == out, s"not idempotent: $in -> $out") }
  }

  test("text metrics: token count, quality bounds, langid") {
    val out = TextOps.enrich(docs.withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text"))))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_tokens"), r.getAs[Double]("quality"), r.getAs[String]("lang_pred"))).toMap
    assert(out(1L)._1 == 13)
    assert(out.values.forall(v => v._2 >= 0.0 && v._2 <= 1.0))
    assert(out(1L)._3 == "en")
    assert(out(4L)._3 == "de")
  }

  test("multimodal plumbing: feature extraction preserves schema + determinism") {
    val media = MultimodalOps.syntheticMedia(spark, 50)
    val f1 = MultimodalOps.extractFeatures(media).collect().sortBy(_.media_id)
    val f2 = MultimodalOps.extractFeatures(MultimodalOps.syntheticMedia(spark, 50))
      .collect().sortBy(_.media_id)
    assert(f1.length == 50)
    assert(f1.zip(f2).forall { case (a, b) =>
      a.media_id == b.media_id && a.feature.sameElements(b.feature)
    })
    assert(f1.forall(_.feature.length == 8))
  }
}
