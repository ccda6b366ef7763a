package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.bm25.Bm25
import graft.index.{BuildConfig, IndexBuilder, TermPostings}
import graft.search._

/** Positions stream + exact-phrase query (PhraseQ): round-trip of the prox
  * encoding, phrase top-k vs an in-JVM exhaustive oracle, and the
  * fail-closed contract on positionless indexes.
  */
class PhraseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // deterministic corpus with controlled phrase structure: "red fox" occurs
  // 0..3 times per doc; "fox red" (reversed) also present to catch
  // order-insensitive bugs; docs big enough to span several posting blocks
  private val docs: Seq[(Long, String)] = (0L until 400L).map { i =>
    val extra = s"w${i % 7} filler w${i % 11}"
    val phrases = (i % 4) match {
      case 0 => "red fox " * 1
      case 1 => "fox red " // reversed: must NOT match
      case 2 => "red fox red fox " // two occurrences
      case 3 => "red pad fox " // gap: must NOT match
    }
    (i, s"$extra $phrases tail${i % 5} red fox".trim) // every doc ends with one real occurrence
  }

  private lazy val index = {
    val dir = TestDirs.fresh("graft-phrase")
    IndexBuilder.build(spark, docs.toDF("doc_id", "text"), "doc_id", "text", dir,
      BuildConfig(numSegments = 4, chunkDocs = 128, storePositions = true))
  }
  private lazy val searcher = new IndexSearcher(index)

  test("positions round-trip: decoded prox equals the analyzer's token positions") {
    val rows = index.postings(spark).as[TermPostings].collect()
    val a = Analyzer.standard
    // rebuild (segment, term) -> doc -> positions from the analyzer directly
    val segSize = index.segmentSize
    val expect = scala.collection.mutable.Map.empty[(Int, String, Int), Vector[Int]]
    docs.foreach { case (id, text) =>
      val seg = (id / segSize).toInt
      val local = (id - seg * segSize).toInt
      a.tokenize(text).groupBy(_.term).foreach { case (t, toks) =>
        expect((seg, t, local)) = toks.map(_.position)
      }
    }
    var checked = 0
    rows.foreach { tp =>
      val ctx = Bm25.buildCache(index.stats.avgdl)
      val rd = new TermReader(tp, ctx)
      var bi = 0
      while (bi < tp.blocks.length) {
        val docsArr = rd.docsOf(bi)
        val (flat, starts) = rd.positionsOf(bi)
        var i = 0
        while (i < docsArr.length) {
          val got = flat.slice(starts(i), starts(i + 1)).toVector
          assert(got == expect((tp.segmentId, tp.term, docsArr(i).toInt)),
            s"positions mismatch term=${tp.term} seg=${tp.segmentId} local=${docsArr(i)}")
          checked += 1
          i += 1
        }
        bi += 1
      }
    }
    assert(checked > 400, "round-trip must cover many postings")
  }

  /** In-JVM exhaustive phrase oracle: tokenize, count adjacent occurrences,
    * score with weight = sum idf, freq = occurrences. */
  private def oracleTopK(phrase: Seq[String], k: Int): Seq[(Long, Double)] = {
    val a = Analyzer.standard
    val toks = docs.map { case (id, t) => id -> a.terms(t) }.toMap
    val n = index.stats.fieldDocCount
    val df = phrase.map(p => p -> toks.values.count(_.contains(p)).toLong).toMap
    val w = phrase.map(p => Bm25.idf(df(p), n)).sum
    val cache = Bm25.buildCache(index.stats.avgdl)
    val scored = docs.flatMap { case (id, text) =>
      val ts = toks(id)
      val occ = ts.indices.count(i =>
        i + phrase.size <= ts.size && phrase.indices.forall(j => ts(i + j) == phrase(j)))
      if (occ == 0) None
      else Some(id -> Bm25.score(w, occ, ts.size & 0xFF, cache))
    }
    scored.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  test("phrase top-k is rank- and score-identical to the exhaustive oracle") {
    val got = searcher.search(spark, PhraseQ(Seq("red", "fox")), 15).collect()
      .map(h => (h.docId, h.score)).toSeq
    assert(got == oracleTopK(Seq("red", "fox"), 15))
    // every doc has >= 1 "red fox"; docs with i%4==2 have three total
    assert(searcher.count(spark, PhraseQ(Seq("red", "fox"))) == 400L)
  }

  test("reversed and gapped sequences do not match; 3-term phrase works") {
    // "fox pad" never occurs adjacently
    assert(searcher.count(spark, PhraseQ(Seq("fox", "pad"))) == 0L)
    // "red pad fox" occurs in docs with i%4==3 only
    val three = searcher.search(spark, PhraseQ(Seq("red", "pad", "fox")), 400).collect()
    assert(three.nonEmpty && three.forall(_.docId % 4 == 3))
    assert(three.map(_.docId).toSeq == oracleTopK(Seq("red", "pad", "fox"), 400).map(_._1))
  }

  /** Brute-force per-anchor minimal width: enumerate EVERY tuple (one
    * position per remaining term) — the independent oracle for
    * SloppyMatch's threshold-form optimization. */
  private def bruteSloppyFreq(ts: Vector[String], phrase: Seq[String], slop: Int): Double = {
    val adj = phrase.zipWithIndex.map { case (p, i) =>
      ts.indices.filter(j => ts(j) == p).map(_ - i).toArray
    }
    if (adj.exists(_.isEmpty)) return 0.0
    def rec(i: Int, mx: Int, mn: Int): Int =
      if (i == adj.size) mx - mn
      else adj(i).map(x => rec(i + 1, math.max(mx, x), math.min(mn, x))).min
    var freq = 0.0
    adj(0).foreach { p0 =>
      val w = rec(1, p0, p0)
      if (w <= slop) freq += 1.0 / (1.0 + w)
    }
    freq
  }

  test("SloppyMatch minimal width equals all-tuples brute force (randomized)") {
    val rnd = new scala.util.Random(42)
    (1 to 300).foreach { _ =>
      val nLists = 1 + rnd.nextInt(3)
      val adjs = Array.fill(nLists)(
        Array.fill(1 + rnd.nextInt(5))(rnd.nextInt(30)).distinct.sorted)
      val p0 = rnd.nextInt(30)
      def rec(i: Int, mx: Int, mn: Int): Int =
        if (i == nLists) mx - mn
        else adjs(i).map(x => rec(i + 1, math.max(mx, x), math.min(mn, x))).min
      assert(SloppyMatch.minWidthAt(p0, adjs) == rec(0, p0, p0),
        s"p0=$p0 adjs=${adjs.map(_.mkString("[", ",", "]")).mkString}")
    }
  }

  test("sloppy freq at slop 0 equals the exact phrase count") {
    val a = Analyzer.standard
    docs.take(60).foreach { case (_, text) =>
      val ts = a.terms(text)
      val phrase = Seq("red", "fox")
      val exact = ts.indices.count(i =>
        i + phrase.size <= ts.size && phrase.indices.forall(j => ts(i + j) == phrase(j)))
      assert(bruteSloppyFreq(ts, phrase, 0) == exact.toDouble)
      val pos = phrase.map(p => ts.indices.filter(i => ts(i) == p).toArray).toArray
      if (pos.forall(_.nonEmpty))
        assert(SloppyMatch.sloppyFreq(pos, 0) == exact.toDouble)
    }
  }

  /** Exhaustive sloppy oracle over the corpus (brute-force widths). */
  private def oracleSloppyTopK(phrase: Seq[String], slop: Int, k: Int): Seq[(Long, Double)] = {
    val a = Analyzer.standard
    val toks = docs.map { case (id, t) => id -> a.terms(t) }.toMap
    val n = index.stats.fieldDocCount
    val df = phrase.map(p => p -> toks.values.count(_.contains(p)).toLong).toMap
    val w = phrase.map(p => Bm25.idf(df(p), n)).sum
    val cache = Bm25.buildCache(index.stats.avgdl)
    docs.flatMap { case (id, _) =>
      val ts = toks(id)
      val f = bruteSloppyFreq(ts, phrase, slop)
      if (f == 0.0) None else Some(id -> Bm25.scoreF(w, f, ts.size & 0xFF, cache))
    }.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  test("sloppy phrase top-k matches the brute-force oracle; reversal costs width 2") {
    for (slop <- Seq(1, 2, 3)) {
      val got = searcher.search(spark, PhraseQ(Seq("red", "fox"), slop), 20).collect()
        .map(h => (h.docId, h.score)).toSeq
      assert(got == oracleSloppyTopK(Seq("red", "fox"), slop, 20), s"slop=$slop")
    }
    // "red pad fox": the gapped docs (i%4==3) match at slop >= 1, not at 0
    val gap1 = searcher.search(spark, PhraseQ(Seq("red", "fox"), 1), 400).collect().map(_.docId).toSet
    assert(docs.filter(_._1 % 4 == 3).map(_._1).forall(gap1.contains))
    // a PURE transposition ("fox red" queried as phrase (red, fox)) costs
    // width 2 — Lucene's transposition cost: matches at slop 2, not slop 1
    val mi = new graft.memory.MemoryIndex().addField("fox red")
    assert(mi.searchOpt(PhraseQ(Seq("red", "fox"), 1)).isEmpty)
    assert(mi.searchOpt(PhraseQ(Seq("red", "fox"), 2)).isDefined)
  }

  test("sloppy phrase agrees with MemoryIndex on single docs (shared kernel + scoring path)") {
    docs.take(24).foreach { case (_, text) =>
      val mi = new graft.memory.MemoryIndex().addField(text)
      val a = Analyzer.standard
      val ts = a.terms(text)
      for (slop <- Seq(0, 1, 2)) {
        val f = bruteSloppyFreq(ts, Seq("red", "fox"), slop)
        val got = mi.searchOpt(PhraseQ(Seq("red", "fox"), slop))
        if (f == 0.0) assert(got.isEmpty)
        else {
          val n = 1L
          val w = Bm25.idf(1L, n) * 2
          val cache = Bm25.buildCache(ts.size.toDouble)
          assert(got.contains(Bm25.scoreF(w, f, ts.size & 0xFF, cache)))
        }
      }
    }
  }

  test("phrase composes inside BooleanQuery (MUST phrase + MUST_NOT term)") {
    val q = BoolQ(must = Seq(PhraseQ(Seq("red", "fox"))), mustNot = Seq(TermQ("tail0")))
    val got = searcher.search(spark, q, 10).collect()
    assert(got.nonEmpty && got.forall(_.docId % 5 != 0))
  }

  test("1-term phrase normalizes to TermQuery; empty phrase matches nothing") {
    assert(Query.normalize(PhraseQ(Seq("red"))) == TermQ("red"))
    assert(Query.normalize(PhraseQ(Nil)) == MatchNoneQ)
    val viaPhrase = searcher.search(spark, PhraseQ(Seq("red")), 5).collect().toSeq
    val viaTerm = searcher.search(spark, TermQ("red"), 5).collect().toSeq
    assert(viaPhrase == viaTerm)
  }

  test("searchLocal phrase path agrees with the distributed path") {
    val local = searcher.searchLocal(spark, PhraseQ(Seq("red", "fox")), 10).toSeq
    val dist = searcher.search(spark, PhraseQ(Seq("red", "fox")), 10).collect().toSeq
    assert(local == dist)
  }

  test("phrase over a positionless index fails closed with a clear error") {
    val dir = TestDirs.fresh("graft-nopos")
    val idx = IndexBuilder.build(spark, docs.take(50).toDF("doc_id", "text"),
      "doc_id", "text", dir, BuildConfig(numSegments = 2, chunkDocs = 128))
    val s = new IndexSearcher(idx)
    val ex = intercept[IllegalStateException] {
      s.search(spark, PhraseQ(Seq("red", "fox")), 5).collect()
    }
    assert(ex.getMessage.contains("positions"))
  }

  test("repeated-term sloppy semantics are the DOCUMENTED independent-slot rule (PhraseQ note)") {
    // our spec lets slots of a repeated term reuse one token: ["a","a"] with
    // slop >= 1 matches a single "a" at width 1 (slot 1's adjusted position
    // is p-1); Java Lucene would forbid the reuse. Pinned so a behavioral
    // change cannot land silently — the q59 SQL oracle encodes this rule.
    assert(graft.search.SloppyMatch.sloppyFreq(Array(Array(5), Array(5)), 1) == 0.5) // width 1
    assert(graft.search.SloppyMatch.sloppyFreq(Array(Array(5), Array(5)), 0) == 0.0) // slop 0: no reuse possible
    // a genuine double "a a" still matches exactly at slop 0
    assert(graft.search.SloppyMatch.sloppyFreq(Array(Array(5, 6), Array(5, 6)), 0) == 1.0)
    // engine end-to-end agrees with the rule
    val mi = new graft.memory.MemoryIndex().addField("x a y")
    assert(mi.search(PhraseQ(Seq("a", "a"), 1)) > 0.0)
    assert(mi.search(PhraseQ(Seq("a", "a"), 0)) == 0.0)
  }

  test("append must match the committed index's positions setting") {
    val dir = TestDirs.fresh("graft-posappend")
    IndexBuilder.build(spark, docs.take(50).toDF("doc_id", "text"), "doc_id", "text", dir,
      BuildConfig(numSegments = 2, chunkDocs = 128, storePositions = true))
    val next = (1000L to 1010L).map(i => (i, "appended doc")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      IndexBuilder.append(spark, next, "doc_id", "text", dir,
        BuildConfig(numSegments = 2, chunkDocs = 128)) // storePositions = false: mismatch
    }
  }
}
