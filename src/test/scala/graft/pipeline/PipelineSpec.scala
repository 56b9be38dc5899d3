package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.jsonld._

/** Spark-level correctness of the KG-construction spine. */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("extraction is byte-identical to the embedded payloads") {
    import spark.implicits._
    val n = 100L
    val pages = PageGen.pages(spark, n, seed = 42L, partitions = 4)
    val extracted = pages.flatMap(Extract.docs)
      .filter(col("kind") === "jsonld")
      .as[ExtractedDoc].collect()
      .map(d => (d.url, d.block_idx) -> d.payload).toMap
    // recompute expectations locally, independent of the Spark path
    var checked = 0
    (0L until n).foreach { i =>
      val p = PageGen.pageAt(42L, i)
      val html = new String(p.html, java.nio.charset.StandardCharsets.UTF_8)
      // payload count for row i is derivable from the generator
      val r = PageGen.mix64(42L + i)
      val nBlocks = (((r >>> 4) % 4) + 0).toInt.abs
      (0 until nBlocks).foreach { b =>
        val expected = PageGen.payload(42L, i, b)
        assert(extracted.get((p.url, b)).contains(expected),
          s"payload mismatch for ${p.url} block $b")
        checked += 1
      }
    }
    assert(checked > 50, s"too few blocks checked: $checked")
  }

  test("link extraction is byte-identical to the generated anchors") {
    import spark.implicits._
    val n = 200L
    val pages = PageGen.pages(spark, n, seed = 42L, partitions = 4)
    val got = Extract.links(pages).as[PageLink].collect()
      .groupBy(_.src_url)
      .map { case (u, ls) => u -> ls.map(l => (l.href, l.anchor)).toVector }
    var checked = 0
    (0L until n).foreach { i =>
      val p = PageGen.pageAt(42L, i)
      val expected = PageGen.linksFor(42L, i)
      assert(got.getOrElse(p.url, Vector.empty) == expected,
        s"anchor mismatch for ${p.url}")
      checked += expected.size
    }
    assert(checked > 100, s"too few anchors checked: $checked")
    // entity links carry the hub's canonical surface as anchor text
    val entityAnchors = got.values.flatten.filter(_._1.startsWith("https://hub.example/"))
    assert(entityAnchors.nonEmpty)
    entityAnchors.foreach { case (href, text) =>
      val idx = PageGen.HubEntities.indexOf(href)
      assert(idx >= 0 && PageGen.HubSurfaces(idx) == text, s"$href -> $text")
    }
  }

  test("pipeline output is invariant to partitioning (determinism)") {
    val t1 = TripleEmit.pipeline(PageGen.pages(spark, 150, 42L, partitions = 3))
      .collect().map(_.toString).sorted
    val t2 = TripleEmit.pipeline(PageGen.pages(spark, 150, 42L, partitions = 11))
      .collect().map(_.toString).sorted
    assert(t1.nonEmpty)
    assert(t1.toSeq == t2.toSeq)
  }

  test("pipeline triples match W3C golden N-Quads for embedded fixture docs") {
    // embed real conformance inputs in html shells and compare the pipeline's
    // emitted triples to the golden .nq files — an oracle independent of the
    // Scala core's own toRDF path assembly.
    val fixtureIds = Seq("toRdf-0001", "toRdf-0002", "toRdf-0020")
    fixtureIds.foreach { id =>
      val input = W3CFixtures.read(s"$id-in.jsonld")
      val golden = W3CFixtures.read(s"$id-out.nq")
      val url = s"http://json-ld.org/test-suite/tests/$id-in.jsonld"
      val doc = ExtractedDoc(url, 0, input, "jsonld")
      val result = TripleEmit.docToTriples(doc, normalizeBNodes = false, url)
      assert(result.isRight, s"$id quarantined: $result")
      val key = TripleEmit.docKey(url, 0)
      val got = result.toOption.get.map { t =>
        def unprefix(v: String) =
          if (v.startsWith("_:d" + key + ".")) "_:" + v.substring(3 + key.length + 1) else v
        (unprefix(t.subj), t.pred, t.objKind, unprefix(t.objValue),
          Option(t.objDatatype).getOrElse(""), Option(t.objLang).getOrElse(""), t.graph)
      }.toSet
      val goldenDs = NQuads.parseNQuads(golden)
      val want = goldenDs.graphNames.flatMap { g =>
        goldenDs.getQuads(g).map { q =>
          val okind: Byte = if (q.obj.isIRI) 0 else if (q.obj.isBlankNode) 1 else 2
          (q.subject.value, q.predicate.value, okind, q.obj.value,
            if (okind == 2) q.obj.datatype else "",
            if (okind == 2 && q.obj.language != null) q.obj.language else "", g)
        }
      }.toSet
      assert(got == want, s"$id triples differ\ngot:  ${got.toSeq.sortBy(_.toString).mkString("\n  ")}\nwant: ${want.toSeq.sortBy(_.toString).mkString("\n  ")}")
    }
  }

  test("bad documents are quarantined, not fatal") {
    import spark.implicits._
    val emitted = TripleEmit.emitKeyed(Seq(
      SparkTestBase.page("https://x.example/ok", """{"@id":"http://e/s","http://e/p":"v"}"""),
      SparkTestBase.page("https://x.example/bad", """{"@id": nope}""")).toDS())
    val ts = TripleEmit.keyedTriples(emitted).collect()
    val qs = TripleEmit.keyedQuarantine(emitted).collect()
    assert(ts.length == 1)
    assert(qs.length == 1 && qs.head.getAs[String]("url").endsWith("/bad"))
  }

  test("lineage: second run has no pending partitions (resume idempotence)") {
    val dir = java.nio.file.Files.createTempDirectory("lineage").toString
    val pages = PageGen.pages(spark, 80, 42L, partitions = 4).toDF()
    val keyed = pages.withColumn("partition_key", Lineage.partitionKeyCol)
    val triplesKeyed = TripleEmit.keyedTriples(
      TripleEmit.emitKeyed(PageGen.pages(spark, 80, 42L, partitions = 4)))
    Lineage.writeWithLineage(spark, triplesKeyed, keyed, s"$dir/triples", s"$dir/manifest")
    val manifest = Lineage.readManifest(spark, s"$dir/manifest")
    val pending = Lineage.pendingPages(pages, manifest)
    assert(pending.count() == 0, "all partitions should be marked done")
    // the manifest's triple_count must be the TRUE written triple count
    // per partition (round 1 recorded the page count under this name)
    val manifestTotal = manifest.agg(sum(col("triple_count"))).collect()(0).getLong(0)
    val writtenTotal = spark.read.parquet(s"$dir/triples").count()
    assert(manifestTotal == writtenTotal,
      s"manifest says $manifestTotal triples, table has $writtenTotal")
    // re-running a partition must REPLACE its files, not append duplicates
    Lineage.writeWithLineage(spark, triplesKeyed, keyed, s"$dir/triples", s"$dir/manifest")
    assert(spark.read.parquet(s"$dir/triples").count() == writtenTotal,
      "dynamic partition overwrite must not duplicate rows on re-run")
    // a fresh manifest means everything is pending again
    val pendingAll = Lineage.pendingPages(pages,
      Lineage.readManifest(spark, s"$dir/nonexistent"))
    assert(pendingAll.count() == 80)
  }

  test("lineage: corrupt manifest fails loudly, missing manifest is empty") {
    val dir = java.nio.file.Files.createTempDirectory("lineage-corrupt").toString
    // missing path: the normal first-run state — empty frame, no error
    assert(Lineage.readManifest(spark, s"$dir/never-written").count() == 0)
    // present-but-unreadable: garbage bytes where parquet footers should
    // be must NOT silently become "re-run everything" (VERDICT r4 #4)
    val bad = java.nio.file.Paths.get(dir, "manifest")
    java.nio.file.Files.createDirectories(bad)
    java.nio.file.Files.write(bad.resolve("part-00000.parquet"),
      "this is not parquet".getBytes)
    val e = intercept[IllegalStateException] {
      Lineage.readManifest(spark, bad.toString).count()
    }
    assert(e.getMessage.contains("unreadable"), e.getMessage)
  }

  test("typed and column partition keys agree") {
    import spark.implicits._
    val urls = PageGen.pages(spark, 50, 42L, partitions = 2).map(_.url).collect()
    val viaCol = spark.createDataset(urls.toSeq).toDF("url")
      .withColumn("partition_key", Lineage.partitionKeyCol)
      .select("url", "partition_key").as[(String, String)].collect().toMap
    urls.foreach { u =>
      assert(viaCol(u) == Lineage.hostBucket(u), s"key mismatch for $u")
    }
  }

  test("adjacency caps hub subjects and reports true degree") {
    import spark.implicits._
    val hub = (0 until 5000).map(i =>
      Triple("http://hub", s"http://p/${i % 7}", 0, s"http://o/$i", null, null, "@default"))
    val small = (0 until 10).map(i =>
      Triple(s"http://s/$i", "http://p", 0, s"http://o/$i", null, null, "@default"))
    val adj = GraphMaterialize.adjacency((hub ++ small).toDS(), maxDegree = 100, salt = 8)
      .collect().map(r => r.getAs[String]("subj") ->
        ((r.getAs[scala.collection.Seq[Any]]("edges").size,
          r.getAs[Long]("degree"), r.getAs[Boolean]("truncated")))).toMap
    val (hubEdges, hubDegree, hubTrunc) = adj("http://hub")
    assert(hubEdges <= 100, s"hub edge list not capped: $hubEdges")
    assert(hubDegree == 5000L, s"true degree must survive the cap: $hubDegree")
    assert(hubTrunc, "hub must be flagged truncated")
    val (sEdges, sDegree, sTrunc) = adj("http://s/3")
    assert(sEdges == 1 && sDegree == 1L && !sTrunc)
  }

  test("newest observation keeps the latest warc_ts per (s,p,o)") {
    import spark.implicits._
    val rows = Seq(
      ("http://s", "http://p", "v1", java.sql.Timestamp.valueOf("2026-01-01 00:00:00")),
      ("http://s", "http://p", "v1", java.sql.Timestamp.valueOf("2026-02-01 00:00:00")),
      ("http://s", "http://p", "v2", java.sql.Timestamp.valueOf("2026-01-15 00:00:00"))
    ).toDF("subj", "pred", "objValue", "warc_ts")
    val out = GraphMaterialize.newestObservation(rows)
      .select("subj", "pred", "objValue", "warc_ts").collect()
    assert(out.length == 2)
    val v1 = out.find(_.getString(2) == "v1").get
    assert(v1.getTimestamp(3).toString.startsWith("2026-02-01"))
  }

  test("canonicalizeSubjects rewrites linked subjects and keeps the rest") {
    import spark.implicits._
    val triples = TripleEmit.pipeline(PageGen.pages(spark, 300, 42L, partitions = 4))
    val links = GraphMaterialize.linkEntities(
      GraphMaterialize.mentions(triples), GraphMaterialize.hubDictionary(spark))
    val canon = GraphMaterialize.canonicalizeSubjects(triples, links)
    val rewritten = canon.filter(col("subj_canon") =!= col("subj")).count()
    assert(rewritten > 0, "some linked subjects must be canonicalized")
    val total = triples.count()
    assert(canon.count() == total, "canonicalization must not drop or duplicate triples")
  }

  test("corpus-level flatten merges a subject's triples into one JSON-LD node") {
    import spark.implicits._
    val ts = Seq(
      Triple("http://s/1", "http://p/name", 2, "Alice", null, null, "@default"),
      Triple("http://s/1", "http://p/name", 2, "Alice", null, null, "@default"), // dup
      Triple("http://s/1", "http://p/knows", 0, "http://s/2", null, null, "@default"),
      Triple("http://s/1", "http://p/label", 2, "hallo",
        "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString", "de", "@default"),
      Triple("http://s/2", "http://p/name", 2, "Bob", null, null, "@default"),
      Triple("http://s/3", "http://p/x", 2, "ignored", null, null, "http://g/1") // named graph
    ).toDS()
    val nodes = GraphMaterialize.flattenNodes(ts)
      .as[(String, String)].collect().toMap
    assert(nodes.keySet == Set("http://s/1", "http://s/2"))
    val n1 = Json.parse(nodes("http://s/1")).asInstanceOf[JObj]
    assert(n1("@id") == JStr("http://s/1"))
    val names = n1("http://p/name").asInstanceOf[JArr]
    assert(names.size == 1, "duplicate values must merge")
    val lbl = n1("http://p/label").asInstanceOf[JArr](0).asInstanceOf[JObj]
    assert(lbl("@language") == JStr("de"))
    val knows = n1("http://p/knows").asInstanceOf[JArr](0).asInstanceOf[JObj]
    assert(knows("@id") == JStr("http://s/2"))
  }

  test("corpus flatten: distributed output equals in-core merge on the full 500-page corpus") {
    import spark.implicits._
    // the distributed/single-node equivalence the survey's C13 row
    // promises (round-2 verdict #8): flattenNodes over the whole seeded
    // corpus vs an independent in-core reconstruction from the same
    // collected triples
    val triples = TripleEmit.pipeline(PageGen.pages(spark, 500, 42L, partitions = 8))
    val rows = triples.filter(col("graph") === "@default").as[Triple].collect()
    val XsdString = "http://www.w3.org/2001/XMLSchema#string"
    val local: Map[String, String] = rows.groupBy(_.subj).map { case (subj, ts) =>
      val sb = new StringBuilder
      sb.append("{\"@id\":\"").append(subj).append('"')
      ts.groupBy(_.pred).toSeq.sortBy(_._1).foreach { case (p, vs) =>
        val sorted = vs.map(t => (t.objKind, t.objValue,
          Option(t.objDatatype).getOrElse(""), Option(t.objLang).getOrElse("")))
          .distinct.sorted
        sb.append(",\"").append(p).append("\":[")
        sb.append(sorted.map { case (k, v, dt, lg) =>
          if (k == 2) {
            val extra =
              if (lg.nonEmpty) s""","@language":"$lg""""
              else if (dt.nonEmpty && dt != XsdString) s""","@type":"$dt""""
              else ""
            s"""{"@value":"$v"$extra}"""
          } else s"""{"@id":"$v"}"""
        }.mkString(","))
        sb.append(']')
      }
      sb.append('}')
      subj -> sb.toString
    }
    val dist = GraphMaterialize.flattenNodes(triples).as[(String, String)].collect().toMap
    assert(dist.keySet == local.keySet,
      s"subject sets differ: ${(dist.keySet diff local.keySet).take(3)} / ${(local.keySet diff dist.keySet).take(3)}")
    val diffs = dist.collect { case (k, v) if local(k) != v => k }
    assert(diffs.isEmpty, s"node JSON differs for ${diffs.take(3)}:\n${diffs.headOption.map(k => s"dist=${dist(k)}\nlocal=${local(k)}")}")
  }

  test("corpus flatten: hub subject is degree-capped, not OOMed") {
    import spark.implicits._
    // 10^6 values on one subject: the ungapped round-2 version buffered
    // them all in one task's TreeSet (round-2 verdict #4)
    val hub = spark.range(0, 1000000, 1, 8).map(i =>
      Triple("http://hub/1", "http://p/v", 2, s"v$i", null, null, "@default"))
    val normal = Seq(
      Triple("http://s/1", "http://p/name", 2, "Alice", null, null, "@default")).toDS()
    val nodes = GraphMaterialize.flattenNodes(hub.union(normal), maxValuesPerNode = 1000)
      .as[(String, String)].collect().toMap
    val hubValues = Json.parse(nodes("http://hub/1")).asInstanceOf[JObj]("http://p/v")
      .asInstanceOf[JArr].size
    assert(hubValues <= 2000 && hubValues >= 500,
      s"hub must be hash-sampled to ~cap, got $hubValues")
    assert(Json.parse(nodes("http://s/1")).asInstanceOf[JObj]("http://p/name")
      .asInstanceOf[JArr].size == 1, "non-hub subjects must be untouched")
  }

  test("seeded corpus triples need no JSON escaping (flatten-oracle invariant)") {
    import spark.implicits._
    // the q_kg_flatten DuckDB oracle concatenates values into JSON without
    // escaping; this invariant is what makes that valid
    val triples = TripleEmit.pipeline(PageGen.pages(spark, 500, 42L, partitions = 8))
      .collect()
    val clean = "^[\\x20-\\x7e]*$".r
    triples.foreach { t =>
      Seq(t.subj, t.pred, t.objValue, Option(t.objDatatype).getOrElse(""),
        Option(t.objLang).getOrElse(""), t.graph).foreach { v =>
        assert(clean.matches(v) && !v.contains('"') && !v.contains('\\'),
          s"triple component needs JSON escaping: $v")
      }
    }
  }

  test("bundled context cache resolves remote @context offline (S1 stand-in)") {
    import spark.implicits._
    val ctxUrl = "https://ctx.example/v1.jsonld"
    val cache = Map(ctxUrl -> """{"@context":{"name":"http://schema.org/name"}}""")
    val pages = Seq(SparkTestBase.page("https://a/p",
      s"""{"@context":"$ctxUrl","@id":"https://a/x","name":"Thing"}""")).toDS()
    val ts = TripleEmit.keyedTriples(TripleEmit.emitKeyed(pages, contextCache = cache))
      .drop("partition_key").as[Triple].collect()
    assert(ts.toSeq == Seq(Triple("https://a/x", "http://schema.org/name", 2, "Thing",
      "http://www.w3.org/2001/XMLSchema#string", null, "@default")), ts.toSeq)
    // without the cache the same doc quarantines — never a task failure
    val q = TripleEmit.keyedQuarantine(TripleEmit.emitKeyed(pages)).collect()
    assert(q.length == 1 && q.head.getAs[String]("errorCode") == "loading remote context failed", q.toSeq)
  }

  test("corpus framing embeds 1-hop neighborhoods of type-matched roots") {
    import spark.implicits._
    val ts = Seq(
      Triple("http://e/1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", 0,
        "http://schema.org/Event", null, null, "@default"),
      Triple("http://e/1", "http://p/loc", 0, "http://place/1", null, null, "@default"),
      Triple("http://e/1", "http://p/perf", 1, "_:d1.b0", null, null, "@default"),
      Triple("http://place/1", "http://p/name", 2, "Venue", null, null, "@default"),
      Triple("_:d1.b0", "http://p/name", 2, "Band", null, null, "@default"),
      Triple("http://other/1", "http://p/name", 2, "NotAnEvent", null, null, "@default")
    ).toDS()
    val framed = GraphMaterialize.frameByType(ts, "http://schema.org/Event")
      .as[(String, Int, String, String, Byte, String, String, String)].collect()
    val roots = framed.map(_._1).toSet
    assert(roots == Set("http://e/1"), s"only the Event root matches: $roots")
    val depth0 = framed.filter(_._2 == 0).map(_._4).toSet
    assert(depth0.contains("http://p/loc"))
    val depth1 = framed.filter(_._2 == 1).map(r => (r._3, r._6)).toSet
    assert(depth1 == Set(("http://place/1", "Venue"), ("_:d1.b0", "Band")),
      s"IRI + bnode neighbors must embed: $depth1")
  }

  test("depth-2 framing embeds once at the shallowest depth and survives cycles") {
    import spark.implicits._
    // diamond a->{b,c}->d plus a cycle b->a: d embeds ONCE at depth 2,
    // the root is never re-embedded, and b/c sit at depth 1
    def tp(s: String, p: String, k: Byte, o: String) =
      Triple(s, p, k, o, null, null, "@default")
    val ts = Seq(
      tp("http://a", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", 0,
        "http://schema.org/Event"),
      tp("http://a", "http://p/x", 0, "http://b"),
      tp("http://a", "http://p/y", 0, "http://c"),
      tp("http://b", "http://p/z", 0, "http://d"),
      tp("http://b", "http://p/back", 0, "http://a"),
      tp("http://c", "http://p/z", 0, "http://d"),
      tp("http://d", "http://p/name", 2, "Leaf")
    ).toDS()
    val framed = GraphMaterialize.frameByType(ts, "http://schema.org/Event", depth = 3)
      .as[(String, Int, String, String, Byte, String, String, String)].collect()
    val bySubj = framed.groupBy(_._3).view.mapValues(_.map(_._2).distinct.sorted.toSeq).toMap
    assert(bySubj("http://a") == Seq(0), s"root must embed only at depth 0: $bySubj")
    assert(bySubj("http://b") == Seq(1) && bySubj("http://c") == Seq(1), s"$bySubj")
    assert(bySubj("http://d") == Seq(2),
      s"diamond target must embed once, at its shallowest depth: $bySubj")
    // depth parameter is honored: depth=1 stops before d
    val shallow = GraphMaterialize.frameByType(ts, "http://schema.org/Event", depth = 1)
      .as[(String, Int, String, String, Byte, String, String, String)].collect()
    assert(!shallow.exists(_._3 == "http://d"), "depth=1 must not reach depth-2 nodes")
    // @explicit-style property filter: only listed predicates embed or
    // are followed — listing x and z keeps the a -> b -> d spine while
    // pruning the c branch (y unlisted) and d's name literal
    val explicit = GraphMaterialize.frameByType(ts, "http://schema.org/Event",
      depth = 3, explicitProps = Seq("http://p/x", "http://p/z"))
      .as[(String, Int, String, String, Byte, String, String, String)].collect()
    val explicitSubjs = explicit.map(_._3).toSet
    assert(explicitSubjs == Set("http://a", "http://b"),
      s"explicit filter must prune unlisted branches: $explicitSubjs")
    assert(explicit.map(_._4).toSet.subsetOf(
      Set("http://www.w3.org/1999/02/22-rdf-syntax-ns#type", "http://p/x", "http://p/z")),
      "only rdf:type and listed predicates may be emitted")
  }

  test("depth-6 framing stays correct and its plan grows linearly, not quadratically") {
    import spark.implicits._
    def tp(s: String, p: String, k: Byte, o: String) =
      Triple(s, p, k, o, null, null, "@default")
    // a 9-hop chain c0 -> c1 -> ... -> c9 rooted at a typed node: depth-6
    // framing must reach exactly c0..c6, each once at its chain position
    val chain = (0 until 9).map(i => tp(s"http://c/$i", "http://p/next", 0, s"http://c/${i + 1}"))
    val ts = (tp("http://c/0", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", 0,
      "http://schema.org/Event") +: chain :+
      tp("http://c/9", "http://p/name", 2, "tail")).toDS()
    val framed = GraphMaterialize.frameByType(ts, "http://schema.org/Event", depth = 6)
    val rows = framed
      .as[(String, Int, String, String, Byte, String, String, String)].collect()
    val bySubj = rows.groupBy(_._3).view.mapValues(_.map(_._2).distinct.toSeq).toMap
    assert(bySubj.keySet == (0 to 6).map(i => s"http://c/$i").toSet, bySubj)
    (0 to 6).foreach(i => assert(bySubj(s"http://c/$i") == Seq(i), s"c$i: $bySubj"))
    // plan-size pin (VERDICT r4 #9): with frontier/visited truncated every
    // 3 levels, each extra level adds a CONSTANT number of plan nodes. An
    // un-truncated build embeds visited_{d-1} (a union of every earlier
    // frontier plan) into level d twice, growing the optimizer's input
    // quadratically — depth 6 vs depth 3 would be ~4x, not <2.5x.
    def nodes(depth: Int) =
      GraphMaterialize.frameByType(ts, "http://schema.org/Event", depth = depth)
        .queryExecution.optimizedPlan.collect { case n => n }.size
    val (n3, n6) = (nodes(3), nodes(6))
    assert(n6 <= n3 * 5 / 2, s"depth-6 plan ($n6 nodes) vs depth-3 ($n3): growth not linear")
  }

  test("entity linking resolves hub mentions via broadcast dictionary") {
    val triples = TripleEmit.pipeline(PageGen.pages(spark, 300, 42L, partitions = 4))
    val links = GraphMaterialize.linkEntities(
      GraphMaterialize.mentions(triples), GraphMaterialize.hubDictionary(spark))
    // the corpus emits hub surface forms as s:name literals (kind-3 event
    // performers), so real links MUST be produced — round 1 only checked
    // the plan shape and the join linked nothing (VERDICT.md #3)
    val linked = links.filter(col("entity").isNotNull).count()
    assert(linked > 0, "no mentions were linked to a hub entity")
    val distinctHubs = links.filter(col("entity").isNotNull)
      .select(countDistinct(col("entity"))).collect()(0).getLong(0)
    assert(distinctHubs >= 4, s"expected several hub entities linked, got $distinctHubs")
    val plan = links.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
  }

  test("scalable entity linking (hot broadcast + salted SMJ tail) matches the plain join") {
    // lower the auto-broadcast threshold to -1 for the whole test
    // (VERDICT r3 #1's done-criterion: the dictionary must be
    // NON-broadcastable): under it, nothing is broadcast by statistics —
    // only the explicit broadcast() hints on the genuinely tiny hot head
    // survive, and the cold tail has no path but the salted SMJ. The
    // engine's merge hint additionally pins that plan at ANY threshold.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val triples = TripleEmit.pipeline(PageGen.pages(spark, 300, 42L, partitions = 4))
      val mentions = GraphMaterialize.mentions(triples)
      val bigDict = GraphMaterialize.bigDictionary(spark, perKind = 4096)
      val scalable = GraphMaterialize.linkEntitiesScalable(
        mentions, bigDict, hotMentionCount = 8L, salt = 8)
      // row-for-row equality with the single broadcast left join (the split
      // must be a pure partition of the join, never a semantic change)
      val plain = GraphMaterialize.linkEntities(mentions, bigDict)
      assert(scalable.exceptAll(plain).isEmpty && plain.exceptAll(scalable).isEmpty,
        "scalable link output must equal the plain left join")
      // the cold tail must actually link something through the SMJ path
      // (not pass vacuously): tail entities carry the dict.example prefix
      val tailLinked = scalable.filter(col("entity").startsWith("https://dict.example/")).count()
      assert(tailLinked > 0, "cold tail linked nothing — the SMJ path is untested")
      // plan shape: both the broadcast head and the salted sort-merge tail
      val plan = scalable.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ for the cold tail in:\n$plan")
      assert(plan.contains("BroadcastHashJoin"), s"expected broadcast hot head in:\n$plan")
      assert(plan.contains("salt_b"), s"expected the salted key in the SMJ in:\n$plan")
      // r5i: the Bloom runtime prefilter must sit in the plan (in-scan
      // probe), and the bypass union must carry real rows — the corpus
      // has mention surfaces outside the dictionary, which provably fail
      // the probe and must arrive unlinked WITHOUT touching either join
      assert(plan.contains("graft_bloom_might_contain"),
        s"expected the bloom prefilter in:\n$plan")
      val dictSurfaces = bigDict.select(lower(col("surface"))).distinct()
        .collect().map(_.getString(0)).toSet
      val outsideDict = scalable.filter(col("entity").isNull)
        .select("surface").distinct().collect().map(_.getString(0))
        .filterNot(dictSurfaces.contains)
      assert(outsideDict.nonEmpty,
        "bypass path untested: every mention surface is in the dictionary")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("hub scores: integer fixed-point PageRank matches the hand-computed iteration") {
    import spark.implicits._
    // a -> b, c -> b, b -> a; plus a literal and a self-loop that must be ignored
    val triples = Seq(
      ("a", "p", 0.toByte, "b"), ("c", "p", 0.toByte, "b"), ("b", "p", 0.toByte, "a"),
      ("a", "p", 2.toByte, "some literal"), ("a", "p", 0.toByte, "a")
    ).toDF("subj", "pred", "objKind", "objValue")
    val r = GraphMaterialize.hubScores(triples, iterations = 2)
      .as[(String, Long)].collect().toMap
    // iter1: b <- 1e9 (a) + 1e9 (c) -> 150e6 + 85*2e9/100 = 1,850,000,000
    //        a <- 1e9 (b)           -> 1,000,000,000 ; c (no in-edges) -> 150,000,000
    // iter2: a <- 1.85e9 (b) -> 150e6 + 85*1.85e9 div 100 = 1,722,500,000
    //        b <- 1e9 (a) + 150e6 (c) -> 150e6 + 85*1.15e9 div 100 = 1,127,500,000
    assert(r == Map("a" -> 1722500000L, "b" -> 1127500000L, "c" -> 150000000L), r)
  }

  test("derived hub dictionary: top-scored entities own their surfaces, shared surface goes to the higher score") {
    import spark.implicits._
    val name = "http://schema.org/name"
    // b is the hub (two in-edges); both b and c claim surface "acme" —
    // b's higher score must win it; a has its own surface
    val triples = Seq(
      ("a", "p", 0.toByte, "b"), ("c", "p", 0.toByte, "b"),
      ("b", name, 2.toByte, "Acme"), ("c", name, 2.toByte, "acme"),
      ("a", name, 2.toByte, "Alpha Co")
    ).toDF("subj", "pred", "objKind", "objValue")
    val r = GraphMaterialize.derivedHubDictionary(triples, topN = 3, iterations = 2)
      .select("surface", "entity").as[(String, String)].collect().toMap
    assert(r("acme") == "b", r)
    assert(r("alpha co") == "a", r)
  }

  test("two-hop counts: hop composition, self excluded, hub intermediates capped") {
    import spark.implicits._
    // a -> b -> c -> a (3-cycle), plus hub with 3 out-edges (over cap 2):
    // paths THROUGH hub are cut, but edges INTO and FROM hub still count as hops
    val base = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "hub"))
    val hubOut = Seq(("hub", "x"), ("hub", "y"), ("hub", "z"))
    val triples = (base ++ hubOut).map { case (s, o) => (s, "p", 0.toByte, o) }
      .toDF("subj", "pred", "objKind", "objValue")
    val r = GraphMaterialize.twoHopCounts(triples, maxDegree = 2)
      .as[(String, Long)].collect().toMap
    // a: 1-hop {b, hub}, 2-hop via b {c}; via hub: CUT (hub out-degree 3 > 2) -> 3
    // b: {c} + via c {a} -> 2 ; c: {a} + via a {b, hub} -> 3
    // hub: {x,y,z} -> 3 (its own out-edges are 1-hops, the cap only cuts it as an INTERMEDIATE)
    assert(r == Map("a" -> 3L, "b" -> 2L, "c" -> 3L, "hub" -> 3L), r)
  }

  test("snapshot delta: planted adds/removes, null-safe on datatype/lang") {
    import spark.implicits._
    val mk = (s: String, o: String, dt: String) =>
      (s, "p", 2.toByte, o, Option(dt).orNull, null: String, "@default")
    val a = Seq(mk("s1", "kept", null), mk("s2", "dropped", null),
      mk("s3", "typed", "http://t")).toDF(
      "subj", "pred", "objKind", "objValue", "objDatatype", "objLang", "graph")
    val b = Seq(mk("s1", "kept", null), mk("s3", "typed", "http://t"),
      mk("s4", "new", null)).toDF(
      "subj", "pred", "objKind", "objValue", "objDatatype", "objLang", "graph")
    val r = GraphMaterialize.snapshotDelta(a, b)
      .select("subj", "objValue", "change")
      .as[(String, String, String)].collect().toSet
    // rows with null objDatatype/objLang on BOTH sides must NOT be reported
    // as changed (the plain-anti-join null trap)
    assert(r == Set(("s2", "dropped", "removed"), ("s4", "new", "added")), r)
  }

  test("entity co-occurrence: degree cap excludes hub subjects, minSubjects filters noise") {
    import spark.implicits._
    val base = Seq(
      ("s1", "A"), ("s1", "B"), ("s1", "C"),
      ("s2", "A"), ("s2", "B"),
      ("s3", "A"), ("s3", "B"), ("s3", "B") // duplicate (s3,B) must dedup
    )
    // hub subject with 11 distinct objects: over maxDegree=10, must be dropped
    val hub = (0 until 11).map(i => ("hub", s"H$i"))
    val triples = (base ++ hub).map { case (s, o) => (s, "p", 0.toByte, o) }
      .toDF("subj", "pred", "objKind", "objValue")
    val r = GraphMaterialize.entityCoOccurrence(triples, maxDegree = 10, minSubjects = 2L)
      .as[(String, String, Long)].collect().toSet
    assert(r == Set(("A", "B", 3L)), r)
  }
}

object W3CFixtures {
  def read(name: String): String = {
    val p = java.nio.file.Paths.get("src/test/resources/w3c").resolve(name)
    new String(java.nio.file.Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)
  }
}
