package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.bm25.Bm25
import graft.codec.{ForBlock, MonotonicBlock}
import graft.index._
import graft.search._

/** Focused tests for round-6 optimization internals: the fused
  * doc|freq|norm posting stream, the stats-memo LRU, and the non-scoring
  * field-sort fast path. Each pins the behavior the optimization changed.
  */
class OptimizationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- fused posting stream (TermReader.packedOf / PostingsScorer) ------

  private def mkPostings(docs: Array[Long], freqs: Array[Long],
                         norms: Array[Byte]): TermPostings = {
    val blk = PostingBlock(
      maxDoc = docs.last.toInt, count = docs.length,
      docBytes = MonotonicBlock.encode(docs),
      freqBytes = ForBlock.encode(freqs),
      norms = norms,
      impactFreqs = Array(freqs.max.toInt),
      impactNorms = Array(norms.map(_ & 0xFF).min))
    TermPostings(0, "t", docs.length, freqs.sum, Array(blk), 1)
  }

  test("fused stream: scores bit-identical to the split-array math, incl. freq saturation") {
    val docs = Array(0L, 3L, 7L, 1000L)
    // one freq above the 24-bit field (sentinel path), one AT the sentinel
    val freqs = Array(2L, TermReader.FreqSat.toLong + 5L, TermReader.FreqSat.toLong, 1L)
    val norms = Array[Byte](10, 20, 0xFF.toByte, 30)
    val cache = Bm25.buildCache(avgdl = 17.3)
    val rd = new TermReader(mkPostings(docs, freqs, norms), cache)
    val weight = 1.5
    val ps = new PostingsScorer(rd, weight, cache, scoring = true)
    var got = List.empty[(Int, Double)]
    var d = ps.nextDoc()
    while (d != DISI.NO_MORE) { got ::= (d, ps.score()); d = ps.nextDoc() }
    val want = docs.indices.map { i =>
      (docs(i).toInt,
        Bm25.score(weight, freqs(i).toInt, norms(i) & 0xFF, cache))
    }.toList
    assert(got.reverse == want)
  }

  test("fused stream: advance binary-search lands on packed docIds") {
    val docs = Array(0L, 3L, 7L, 9L, 150L)
    val freqs = Array(1L, 2L, 3L, 4L, 5L)
    val norms = Array[Byte](1, 2, 3, 4, 5)
    val cache = Bm25.buildCache(avgdl = 5.0)
    val rd = new TermReader(mkPostings(docs, freqs, norms), cache)
    val ps = new PostingsScorer(rd, 1.0, cache, scoring = true)
    assert(ps.advance(4) == 7)
    assert(ps.freq == 3 && ps.normByte == 3)
    assert(ps.advance(10) == 150)
    assert(ps.advance(151) == DISI.NO_MORE)
  }

  test("BlockMaxTermScorer: top-k identical to exhaustive term scan under pruning pressure") {
    // many blocks with varied impacts so the threshold actually skips some
    val n = 1000
    val docs = Array.tabulate(n)(i => (i * 3).toLong)
    val rnd = new scala.util.Random(7)
    val freqs = Array.fill(n)((1 + rnd.nextInt(9)).toLong)
    val norms = Array.fill(n)((1 + rnd.nextInt(200)).toByte)
    val cache = Bm25.buildCache(avgdl = 40.0)
    val tp = {
      // multi-block: split via buildBlocks for real impacts per block
      val blocks = IndexBuilder.buildBlocks(docs.map(_.toInt), freqs.map(_.toInt), norms)
      TermPostings(0, "t", n, freqs.sum, blocks, 1)
    }
    for (k <- Seq(1, 3, 10)) {
      def run(pruned: Boolean): Seq[(Long, Double)] = {
        val col = new TopKCollector(k, 0L, None)
        val base = new PostingsScorer(new TermReader(tp, cache), 2.0, cache, scoring = true)
        val s: Scorer =
          if (pruned) new BlockMaxTermScorer(base, () => col.minCompetitive) else base
        var d = s.nextDoc()
        while (d != DISI.NO_MORE) { col.collect(d, s.score()); d = s.nextDoc() }
        col.results.toSeq
      }
      assert(run(pruned = true) == run(pruned = false), s"k=$k")
    }
  }

  test("ReqOptSumScorer block-max pruning: top-k identical to exhaustive (mixed must+should)") {
    val n = 800
    val rnd = new scala.util.Random(11)
    val cache = Bm25.buildCache(avgdl = 30.0)
    def term(gap: Int, seed: Int): TermPostings = {
      val ds = Array.tabulate(n)(i => (i * gap + seed % gap).toLong)
      val r2 = new scala.util.Random(seed)
      val fs = Array.fill(n)((1 + r2.nextInt(7)).toLong)
      val ns = Array.fill(n)((1 + r2.nextInt(150)).toByte)
      val blocks = IndexBuilder.buildBlocks(ds.map(_.toInt), fs.map(_.toInt), ns)
      TermPostings(0, s"t$seed", n, fs.sum, blocks, 2)
    }
    val reqTp = term(2, 13)
    val optTp = term(3, 29)
    for (k <- Seq(1, 5, 10)) {
      def run(pruned: Boolean): Seq[(Long, Double)] = {
        val col = new TopKCollector(k, 0L, None)
        val req = new PostingsScorer(new TermReader(reqTp, cache), 1.7, cache, scoring = true)
        val opt = new PostingsScorer(new TermReader(optTp, cache), 0.9, cache, scoring = true)
        val s = new ReqOptSumScorer(req, opt,
          Option.when(pruned)(() => col.minCompetitive))
        var d = s.nextDoc()
        while (d != DISI.NO_MORE) { col.collect(d, s.score()); d = s.nextDoc() }
        col.results.toSeq
      }
      assert(run(pruned = true) == run(pruned = false), s"k=$k")
    }
  }

  test("ConjunctionScorer block-max pruning: top-k identical to exhaustive (filter + compound scoring sub)") {
    val cache = Bm25.buildCache(avgdl = 30.0)
    // `a` scores high (large freqs, short docs) below doc 1000 and low above
    // it, so a high threshold rejects its later windows even against the
    // union's global bound (a compound sub has no blocks of its own)
    def term(density: Double, seed: Int, hot: Boolean): TermPostings = {
      val r = new scala.util.Random(seed)
      val ds = (0 until 4000).filter(_ => r.nextDouble() < density).toArray
      val fs = ds.map(d => if (hot && d < 1000) 10 + r.nextInt(20) else 1 + r.nextInt(3))
      val ns = ds.map(d => (if (hot && d < 1000) 3 + r.nextInt(5) else 20 + r.nextInt(200)).toByte)
      TermPostings(0, s"t$seed", ds.length, fs.map(_.toLong).sum,
        IndexBuilder.buildBlocks(ds, fs, ns), 2)
    }
    val tps = Seq(term(0.8, 3, hot = true), term(0.7, 5, hot = false), term(0.9, 7, hot = false),
      term(0.5, 11, hot = false), term(0.4, 13, hot = false))
    val weights = Seq(3.0, 0.5, 0.0, 0.3, 0.3)
    for (k <- Seq(1, 3, 10)) {
      def run(pruned: Boolean): (Seq[(Long, Double)], Long) = {
        val col = new TopKCollector(k, 0L, None)
        val Seq(a, b, f, c, d) = tps.zip(weights).zipWithIndex.map { case ((tp, w), i) =>
          new PostingsScorer(new TermReader(tp, cache), w, cache, scoring = i != 2): Scorer
        }
        val union: Scorer = new WandScorer(Array(c, d), 1, None)
        // `f` is FILTER-only: it iterates but neither scores nor bounds
        val s = new ConjunctionScorer(Array(a, f, union, b), Array(a, union, b),
          Option.when(pruned)(() => col.minCompetitive))
        var doc = s.nextDoc()
        while (doc != DISI.NO_MORE) { col.collect(doc, s.score()); doc = s.nextDoc() }
        (col.results.toSeq, col.collected)
      }
      val (prunedTop, prunedSeen) = run(pruned = true)
      val (fullTop, fullSeen) = run(pruned = false)
      assert(prunedTop == fullTop, s"k=$k")
      assert(prunedSeen < fullSeen, s"k=$k: the gate skipped no window ($prunedSeen of $fullSeen)")
    }
  }

  // sparse random lists with varied overlap: (postings, doc -> (freq, norm))
  private def sparseTerm(seed: Int, docs: Int, density: Double): (TermPostings, Map[Int, (Int, Int)]) = {
    val r = new scala.util.Random(seed)
    val ds = (0 until docs).filter(_ => r.nextDouble() < density).toArray
    val fs = ds.map(_ => 1 + r.nextInt(5))
    val ns = ds.map(_ => (1 + r.nextInt(120)).toByte)
    val blocks = IndexBuilder.buildBlocks(ds, fs, ns)
    (TermPostings(0, s"t$seed", ds.length, fs.map(_.toLong).sum, blocks, 2),
      ds.indices.map(i => ds(i) -> (fs(i), ns(i) & 0xFF)).toMap)
  }

  test("WandScorer msm (neverPrune): identical (doc, score) stream to brute force") {
    val cache = Bm25.buildCache(avgdl = 25.0)
    val terms = Seq(31, 37, 41, 43).map(sparseTerm(_, 2000, 0.15))
    val weights = Seq(1.1, 0.7, 2.3, 0.4)
    for (msm <- 1 to 4) {
      val subs: Array[Scorer] = terms.zip(weights).map { case ((tp, _), w) =>
        new PostingsScorer(new TermReader(tp, cache), w, cache, scoring = true): Scorer
      }.toArray
      val s = new WandScorer(subs, msm, None)
      val got = Iterator.continually(s.nextDoc()).takeWhile(_ != DISI.NO_MORE)
        .map(d => (d, s.score())).toList
      // brute force: same per-clause score op order (clause order sum)
      val want = (0 until 2000).flatMap { d =>
        val per = terms.zip(weights).flatMap { case ((_, m), w) =>
          m.get(d).map { case (f, nb) => Bm25.score(w, f, nb, cache) }
        }
        if (per.size >= msm) Some((d, per.sum)) else None
      }.toList
      assert(got == want, s"msm=$msm")
    }
  }

  test("WandScorer msm pruning: root top-k with collector feedback == exhaustive top-k") {
    val cache = Bm25.buildCache(avgdl = 25.0)
    val terms = Seq(53, 59, 61, 67, 71).zip(Seq(0.5, 0.4, 0.3, 0.6, 0.2))
      .map { case (seed, density) => sparseTerm(seed, 6000, density)._1 }
    val weights = Seq(1.9, 0.6, 2.7, 0.3, 1.2)
    var prunedSeen, fullSeen = 0L
    for (msm <- 2 to 4; k <- Seq(1, 3, 10)) {
      def run(pruned: Boolean): Seq[(Long, Double)] = {
        val col = new TopKCollector(k, 0L, None)
        val subs: Array[Scorer] = terms.zip(weights).map { case (tp, w) =>
          new PostingsScorer(new TermReader(tp, cache), w, cache, scoring = true): Scorer
        }.toArray
        val s = new WandScorer(subs, msm,
          Option.when(pruned)(() => col.minCompetitive))
        var d = s.nextDoc()
        while (d != DISI.NO_MORE) { col.collect(d, s.score()); d = s.nextDoc() }
        if (pruned) prunedSeen += col.collected else fullSeen += col.collected
        col.results.toSeq
      }
      assert(run(pruned = true) == run(pruned = false), s"msm=$msm k=$k")
    }
    assert(prunedSeen < fullSeen, s"pruning skipped no doc ($prunedSeen of $fullSeen)")
  }

  test("constant-score union of 17+ terms reads each posting once (doc-id set)") {
    // counts every cursor call a union makes on its clauses
    final class CountingScorer(inner: Scorer) extends Scorer {
      var calls = 0L
      def docId: Int = { calls += 1; inner.docId }
      def nextDoc(): Int = { calls += 1; inner.nextDoc() }
      def advance(target: Int): Int = { calls += 1; inner.advance(target) }
      def score(): Double = { calls += 1; inner.score() }
      def cost: Long = inner.cost
      def maxScore: Double = inner.maxScore
    }
    val cache = Bm25.buildCache(avgdl = 25.0)
    val segDocs = 5000
    // one segment, every term over several blocks
    val terms = (0 until 20).map(i => sparseTerm(101 + i, segDocs, 0.05 + 0.01 * i))
    assert(terms.forall(_._1.blocks.length > 1))
    val readers = terms.map(t => new TermReader(t._1, cache))
    val counted = readers.map(rd => new CountingScorer(new PostingsScorer(rd, 0.0, cache, scoring = false))).toArray
    val union = ScorerBuilder.docIdSet(counted, segDocs)
    val got = Iterator.continually(union.nextDoc()).takeWhile(_ != DISI.NO_MORE).toList
    val want = terms.flatMap(_._2.keys).distinct.sorted.toList
    assert(got == want)
    val budget = terms.map(_._1.docFreq + 1L).sum
    val calls = counted.map(_.calls).sum
    assert(calls <= budget, s"$calls clause calls for ${budget - terms.size} postings")
    // the TermInSetQ body is that doc-id set, under the constant score
    val postings = terms.zip(readers).map { case (t, rd) => t._1.term -> rd }.toMap
    val ctx = QueryContext(Map.empty, cache, segDocs.toLong)
    val viaQuery = ScorerBuilder.build(TermInSetQ(postings.keySet), postings, segDocs, ctx, 2.0,
      ScoreMode.Complete).get
    val docs = Iterator.continually(viaQuery.nextDoc()).takeWhile(_ != DISI.NO_MORE)
      .map(d => (d, viaQuery.score())).toList
    assert(docs == want.map(d => (d, 2.0)))
  }

  // ---- stats-memo LRU ---------------------------------------------------

  test("lruCache evicts only the least-recently-used entry, never clears") {
    val m = IndexSearcher.lruCache[String, Int](3)
    m.put("a", 1); m.put("b", 2); m.put("c", 3)
    assert(m.get("a") == 1) // refresh recency of a
    m.put("d", 4)           // evicts b (the LRU), not everything
    assert(m.size() == 3)
    assert(!m.containsKey("b"))
    assert(m.containsKey("a") && m.containsKey("c") && m.containsKey("d"))
  }

  // ---- non-scoring field-sort fast path ---------------------------------

  private lazy val (searcher, fieldsDf) = {
    val docs = (0L until 200L).map { i =>
      (i, s"alpha w${i % 7} " + ("join " * ((i % 5) + 1).toInt) + s"uniq$i", (i * 37 % 211))
    }
    val dir = TestDirs.fresh("graft-optspec")
    val idx = IndexBuilder.build(spark, docs.toDF("doc_id", "text", "n_chars"),
      "doc_id", "text", dir, BuildConfig(numSegments = 4, chunkDocs = 128))
    (new IndexSearcher(idx), docs.map(d => (d._1, d._3)).toDF("doc_id", "n_chars"))
  }

  test("searchSortBy with a score sort column still scores (== search ranks)") {
    val viaSort = searcher.searchSortBy(spark, TermQ("join"), fieldsDf,
      Seq(col("score").desc, col("doc_id").asc), 10)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val viaSearch = searcher.search(spark, TermQ("join"), 10)
      .collect().map(_.docId).toSeq
    assert(viaSort == viaSearch)
  }

  test("searchSortBy field sort (non-scoring path) returns the right rows") {
    val got = searcher.searchSortBy(spark, TermQ("join"), fieldsDf,
      Seq(col("n_chars").desc, col("doc_id").asc), 10)
      .select("doc_id", "n_chars").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = (0L until 200L).map(i => (i, i * 37 % 211))
      .sortBy { case (id, nc) => (-nc, id) }.take(10)
    assert(got == want)
  }
}
