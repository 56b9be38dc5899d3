package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.SparkTestBase
import scala.util.Random

/** Randomized invariants for the per-group ranking operators (survivor
  * selection, tf-idf salient terms): the distributed member-only argmax /
  * threshold-window plans must reproduce a straight-line sequential
  * reference exactly, including boundary-tie behavior. */
class RankingPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("dedupSurvivors: one keeper per component, content argmax, full corpus labeled") {
    import spark.implicits._
    for (seed <- Seq(31, 32, 33)) {
      val r = new Random(seed)
      val n = 50
      val docs = (0 until n).map(i => (i.toLong, r.nextInt(8).toLong * 100L))
      val pairs = Seq.fill(25)((r.nextInt(n).toLong, r.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      val got = DedupOps.dedupSurvivors(
        docs.toDF("doc_id", "n_chars"), pairs.toDF("a", "b"))
        .select("doc_id", "comp", "survivor", "keep")
        .as[(Long, Long, Long, Boolean)].collect()

      // reference: union-find components, argmax(n_chars, -id) per comp
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val rt = find(p); parent(x) = rt; rt }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nchars = docs.toMap
      val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val comp = members.map(m => m -> members.filter(x => find(x) == find(m)).min).toMap
      val survivor = members.groupBy(comp).map { case (c, ms) =>
        c -> ms.minBy(m => (-nchars(m), m))
      }
      val expect = docs.map { case (id, _) =>
        val c = comp.getOrElse(id, id)
        val s = survivor.getOrElse(c, id)
        (id, c, s, id == s)
      }.toSet
      assert(got.toSet == expect, s"seed=$seed")
      // invariants: every doc labeled once; exactly one keeper per comp
      assert(got.length == n, s"seed=$seed row count")
      got.groupBy(_._2).foreach { case (c, rows) =>
        assert(rows.count(_._4) == 1, s"seed=$seed comp $c keeper count")
      }
    }
  }

  test("topTermsTfIdf: threshold semantics with boundary ties == sequential reference") {
    import spark.implicits._
    val vocab = Vector("ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen")
    for (seed <- Seq(41, 42)) {
      val r = new Random(seed)
      val docs = (0 until 30).map { i =>
        val words = Seq.fill(r.nextInt(20) + 1)(vocab(r.nextInt(vocab.size)))
        (i.toLong, words.mkString(" "))
      }
      val k = 3
      val got = TextOps.topTermsTfIdf(docs.toDF("doc_id", "text"), k)
        .as[(Long, String, Long, Long, Long)].collect().toSet

      val tf = docs.flatMap { case (id, t) =>
        t.split("\\s+").filter(_.nonEmpty).groupBy(identity)
          .map { case (w, ws) => (id, w, ws.length.toLong) }
      }
      val dfreq = tf.groupBy(_._2).map { case (w, rs) => w -> rs.size.toLong }
      val scored = tf.map { case (id, w, f) => (id, w, f, dfreq(w), f * 1000000L / dfreq(w)) }
      val expect = scored.groupBy(_._1).flatMap { case (_, rows) =>
        val kth = rows.map(_._5).sorted(Ordering[Long].reverse).take(k).min
        rows.filter(_._5 >= kth)
      }.toSet
      assert(got == expect, s"seed=$seed")
      // invariant: per doc, at least min(k, distinct terms) rows survive
      got.groupBy(_._1).foreach { case (id, rows) =>
        val distinctTerms = scored.count(_._1 == id)
        assert(rows.size >= math.min(k, distinctTerms), s"seed=$seed doc $id too few rows")
      }
    }
  }

  test("pmiCollocations: salted kth-threshold top-k == sequential PMI rank") {
    import spark.implicits._
    def lgL(x: Long): Long = {
      val il = 63 - java.lang.Long.numberOfLeadingZeros(x)
      val frac = if (il >= 10) x >> (il - 10) else x << (10 - il)
      il.toLong * 1024L + frac - 1024L
    }
    for (seed <- Seq(51, 52)) {
      val r = new Random(seed)
      val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
      // plant a strong collocation: "aa bb" follows "aa" 60% of the time
      def doc(): String = {
        val sb = new StringBuilder
        var prev = ""
        for (_ <- 0 until (10 + r.nextInt(40))) {
          val t = if (prev == "aa" && r.nextInt(10) < 6) "bb"
                  else vocab(r.nextInt(vocab.size))
          if (sb.nonEmpty) sb += ' '
          sb ++= t; prev = t
        }
        sb.toString
      }
      val docs = (0L until 40L).map(i => (i, doc()))
      val (minCount, k) = (3L, 10)
      val got = TextOps.pmiCollocations(docs.toDF("doc_id", "text"),
        minCount = minCount, k = k, salt = 4)
        .collect().map(x => (x.getInt(0), x.getString(1), x.getString(2),
          x.getLong(3), x.getLong(4), x.getLong(5), x.getLong(6)))
        .sortBy(_._1)
      // sequential reference
      def toks(t: String) = t.split("\\s+").filter(_.nonEmpty).toSeq
      val allBi = docs.flatMap { case (_, t) => val w = toks(t); w.zip(w.drop(1)) }
      val c2 = allBi.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val uni = docs.flatMap(d => toks(d._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = allBi.size.toLong
      val want = c2.toSeq.filter(_._2 >= minCount).map { case ((w1, w2), pn) =>
        (w1, w2, pn, uni(w1), uni(w2),
          lgL(pn) + lgL(n) - lgL(uni(w1)) - lgL(uni(w2)))
      }.sortBy { case (w1, w2, _, _, _, pmi) => (-pmi, w1, w2) }.take(k)
        .zipWithIndex.map { case ((w1, w2, pn, ln, rn, pmi), i) =>
          (i + 1, w1, w2, pn, ln, rn, pmi)
        }
      assert(got.toSeq == want, s"seed=$seed")
      // the planted collocation must surface at rank 1
      assert(got.head._2 == "aa" && got.head._3 == "bb", s"seed=$seed planted pair")
    }
    // a corpus with no bigrams has no collocations
    assert(TextOps.pmiCollocations(Seq((0L, "single"), (1L, "")).toDF("doc_id", "text")).isEmpty)
  }
}
