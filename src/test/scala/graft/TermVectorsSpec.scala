package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.index._
import graft.search._

/** Term vectors (per-doc inverted view with freq/positions/offsets), the
  * highlighter that consumes their offsets, and more-like-this seeded from
  * their term weights.
  */
class TermVectorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // uniq$i keeps every doc's content (and sha) distinct — the forceMerge
  // test keys docs by sha across the docId remap
  private val docs: Seq[(Long, String)] = (0L until 120L).map { i =>
    (i, s"alpha w${i % 9} beta common alpha tail${i % 4} uniq$i " +
      (if (i % 3 == 0) "needle haystack " else "") + s"w${i % 9} omega")
  }

  private val cfg = BuildConfig(numSegments = 2, chunkDocs = 128,
    storePositions = true, storeTermVectors = true, storeOffsets = true)

  private lazy val index = {
    val dir = TestDirs.fresh("graft-tv")
    IndexBuilder.build(spark, docs.toDF("doc_id", "text"), "doc_id", "text", dir, cfg)
  }

  /** One doc's term-vector rows as the reference tokenizer gives them. */
  private def reference(docId: Long, text: String, a: Analyzer): Seq[TermVectorRow] =
    a.tokenize(text).groupBy(_.term).toSeq.map { case (t, toks) =>
      TermVectorRow(docId, t, toks.size, toks.map(_.position).toArray,
        toks.map(_.startOffset).toArray, toks.map(_.endOffset).toArray)
    }

  /** Rows as comparable values, sorted by (docId, term). */
  private def comparable(rows: Seq[TermVectorRow]) =
    rows.map(r => (r.docId, r.term, r.freq, r.positions.toSeq, r.startOffsets.toSeq, r.endOffsets.toSeq))
      .sortBy(r => (r._1, r._2))

  /** The docIds of each term-vector part file of generation `gen`, in file order. */
  private def partFileDocIds(dir: String, gen: Long): Seq[Seq[Long]] =
    new java.io.File(s"$dir/termvectors/gen=$gen").listFiles().filter(_.getName.endsWith(".parquet"))
      .toSeq.map(f => spark.read.parquet(f.getPath).select("docId").as[Long].collect().toSeq)

  test("term vectors round-trip the analyzer's freq/positions/offsets per doc") {
    val a = Analyzer.standard
    for (id <- Seq(0L, 3L, 119L)) {
      val got = TermVectors.ofStoredDoc(spark, index, id).map(r => r.term -> r).toMap
      val want = a.tokenize(docs(id.toInt)._2).groupBy(_.term)
      assert(got.keySet == want.keySet)
      want.foreach { case (t, toks) =>
        val r = got(t)
        assert(r.freq == toks.size)
        assert(r.positions.toSeq == toks.map(_.position))
        assert(r.startOffsets.toSeq == toks.map(_.startOffset))
        assert(r.endOffsets.toSeq == toks.map(_.endOffset))
      }
    }
  }

  test("postings offsets round-trip the analyzer's offsets; parity with the TV rows") {
    val a = Analyzer.standard
    for (id <- Seq(0L, 3L, 119L)) {
      val want = a.tokenize(docs(id.toInt)._2).groupBy(_.term)
      val terms = want.keySet
      val got = Highlighter.offsetsFromPostings(spark, index, terms, _ == id)
        .collect().map(r => r.term -> r).toMap
      assert(got.keySet == terms)
      want.foreach { case (t, toks) =>
        val r = got(t)
        assert(r.freq == toks.size)
        assert(r.positions.toSeq == toks.map(_.position))
        assert(r.startOffsets.toSeq == toks.map(_.startOffset))
        assert(r.endOffsets.toSeq == toks.map(_.endOffset))
      }
      // parity with the term-vector rows for the same doc
      val tv = TermVectors.ofStoredDoc(spark, index, id).map(r => r.term -> r).toMap
      terms.foreach { t =>
        assert(got(t).startOffsets.toSeq == tv(t).startOffsets.toSeq)
        assert(got(t).endOffsets.toSeq == tv(t).endOffsets.toSeq)
      }
    }
  }

  test("highlighting from postings offsets == highlighting from term vectors") {
    for (id <- Seq(3L, 9L, 21L)) {
      val text = docs(id.toInt)._2
      val qts = Set("needle", "haystack", "alpha")
      val viaTv = Highlighter.highlight(text,
        TermVectors.ofStoredDoc(spark, index, id).toSeq, qts)
      val viaPost = Highlighter.highlightFromPostings(spark, index, id, text, qts)
      assert(viaPost == viaTv, s"doc $id")
      assert(viaPost.matchCount > 0)
    }
  }

  test("offsets survive forceMerge (postings highlighting on remapped docIds)") {
    val dir = TestDirs.fresh("graft-off-fm")
    IndexBuilder.build(spark, docs.toDF("doc_id", "text"), "doc_id", "text", dir, cfg)
    IndexOps.deleteByTerm(spark, dir, "needle")
    val merged = IndexOps.forceMerge(spark, dir)
    assert(merged.manifest.hasOffsets)
    val bySha = merged.docmeta(spark).select("docId", "sha").collect()
      .map(r => r.getString(1) -> r.getLong(0)).toMap
    val probe = docs.filterNot(_._2.contains("needle"))(5)
    val newId = bySha(IndexBuilder.sha256Hex(probe._2))
    val a = Analyzer.standard
    val want = a.tokenize(probe._2).groupBy(_.term)
    val got = Highlighter.offsetsFromPostings(spark, merged, Set("alpha", "common"), _ == newId)
      .collect().map(r => r.term -> r).toMap
    Seq("alpha", "common").foreach { t =>
      assert(got(t).startOffsets.toSeq == want(t).map(_.startOffset))
      assert(got(t).endOffsets.toSeq == want(t).map(_.endOffset))
    }
  }

  test("append must match the committed index's offsets setting") {
    val dir = TestDirs.fresh("graft-off-append")
    IndexBuilder.build(spark, docs.take(30).toDF("doc_id", "text"), "doc_id", "text", dir, cfg)
    val next = (1000L to 1005L).map(i => (i, "appended doc")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      IndexBuilder.append(spark, next, "doc_id", "text", dir,
        cfg.copy(storeOffsets = false))
    }
  }

  test("index without term vectors fails closed on TV reads") {
    val dir = TestDirs.fresh("graft-tv-none")
    val idx = IndexBuilder.build(spark, docs.take(10).toDF("doc_id", "text"),
      "doc_id", "text", dir, BuildConfig(numSegments = 1, chunkDocs = 128))
    val ex = intercept[IllegalArgumentException] {
      TermVectors.ofStoredDoc(spark, idx, 0L)
    }
    assert(ex.getMessage.contains("term vectors"))
  }

  test("highlighter marks query terms inside the best window via TV offsets") {
    val text = docs(3)._2 // contains "needle haystack"
    val tv = TermVectors.ofStoredDoc(spark, index, 3L).toSeq
    val snip = Highlighter.highlight(text, tv, Set("needle", "haystack"))
    assert(snip.matchCount == 2)
    assert(snip.text.contains("<b>needle</b>") && snip.text.contains("<b>haystack</b>"))
    // no match: first-window fallback, zero count
    assert(Highlighter.highlight(text, tv, Set("zzz")).matchCount == 0)
  }

  test("highlighter: a match longer than the window still yields a snippet (no pointer overrun)") {
    val long = "x" * 300
    val text = s"prefix $long suffix"
    val tv = reference(0L, text, Analyzer.standard)
    val snip = Highlighter.highlight(text, tv, Set(long), windowCp = 160)
    assert(snip.matchCount == 1)
    assert(snip.text.contains("<b>"))
  }

  test("more-like-this: seed selection is deterministic (freq*idf, tie term asc) and seed doc excluded") {
    val s = new IndexSearcher(index)
    val seeds = MoreLikeThis.selectTerms(spark, s, 3L, 4)
    // manual expectation from corpus stats
    val a = Analyzer.standard
    val tf = a.termFreqs(docs(3)._2)._1
    val n = index.stats.fieldDocCount
    val df = tf.keys.map(t => t -> docs.count(d => a.termFreqs(d._2)._1.contains(t)).toLong).toMap
    val want = tf.map { case (t, f) => (t, f * graft.bm25.Bm25.idf(df(t), n)) }
      .toSeq.sortBy { case (t, w) => (-w, t) }.take(4)
    assert(seeds.map(_._1) == want.map(_._1))
    val res = MoreLikeThis.search(spark, s, 3L, 4, 10).collect()
    assert(res.nonEmpty && !res.exists(_.getLong(0) == 3L))
    // the most similar docs share the needle/haystack markers (i % 3 == 0)
    assert(res.take(3).forall(_.getLong(0) % 3 == 0))
  }

  test("more-like-this: correct when the seed doc ranks OUTSIDE the fetched top-k+1") {
    // every other doc repeats the seed's terms with much higher tf, so the
    // seed (tf=1 each) ranks below all of them; the k+1 fetch then contains
    // no seed — its first k are already the true non-seed top-k
    val lowDocs = (0L until 12L).map { i =>
      (i, if (i == 0L) "foo bar" else "foo foo foo foo bar bar bar bar")
    }
    val dir = TestDirs.fresh("graft-tv-mlt-edge")
    val idx = IndexBuilder.build(spark, lowDocs.toDF("doc_id", "text"), "doc_id", "text", dir,
      BuildConfig(numSegments = 1, chunkDocs = 128, storePositions = true, storeTermVectors = true))
    val s = new IndexSearcher(idx)
    val k = 3
    val got = MoreLikeThis.search(spark, s, 0L, 2, k).collect().map(_.getLong(0)).toSeq
    assert(got.size == k && !got.contains(0L))
    // ground truth: full disjunction ranking with the seed filtered out
    val all = s.search(spark, BoolQ(should = Seq(TermQ("foo"), TermQ("bar"))), 12)
      .collect().filter(_.docId != 0L).map(_.docId).take(k).toSeq
    assert(got == all)
    // sanity: the seed indeed ranked below the k+1 fetched hits
    val top = s.search(spark, BoolQ(should = Seq(TermQ("foo"), TermQ("bar"))), k + 1)
      .collect().map(_.docId)
    assert(!top.contains(0L))
  }

  test("forceMerge carries term vectors through with remapped docIds") {
    val dir = TestDirs.fresh("graft-tv-fm")
    IndexBuilder.build(spark, docs.toDF("doc_id", "text"), "doc_id", "text", dir, cfg)
    IndexOps.deleteByTerm(spark, dir, "needle")
    val merged = IndexOps.forceMerge(spark, dir)
    assert(merged.manifest.hasTermVectors)
    // sha -> docId map from compacted docmeta; every live doc's TV must
    // equal the analyzer's view of its ORIGINAL text
    val bySha = merged.docmeta(spark).select("docId", "sha").collect()
      .map(r => r.getString(1) -> r.getLong(0)).toMap
    val live = docs.filterNot(_._2.contains("needle"))
    assert(bySha.size == live.size)
    val a = Analyzer.standard
    val probe = live(7)
    val newId = bySha(IndexBuilder.sha256Hex(probe._2))
    val got = TermVectors.ofStoredDoc(spark, merged, newId).map(r => r.term -> r.freq).toMap
    val want = a.termFreqs(probe._2)._1
    assert(got == want.toMap)
    // and no TV rows exist for deleted docs (row count = live terms count)
    val totalTv = TermVectors.readAll(spark, merged).count()
    val wantTv = live.map(d => a.termFreqs(d._2)._1.size.toLong).sum
    assert(totalTv == wantTv)
  }

  test("term vectors come from the stage-1 walk: shuffled, sorted and resumed builds equal the tokenizer") {
    val stop = Set("beta", "the")
    val a = new Analyzer(stop)
    val corpus = (0L until 300L).map { i =>
      (i, if (i % 41 == 5) null else if (i % 37 == 3) "" else
        s"The alpha w${i % 9} beta common Beta tail${i % 4} uniq$i the " + (if (i % 3 == 0) "needle " else "") +
          s"w${i % 9} \u3000 omega")
    }
    val want = comparable(corpus.flatMap { case (id, t) => reference(id, t, a) })
    val tvCfg = BuildConfig(numSegments = 2, chunkDocs = 128, storeTermVectors = true, stopWords = stop)
    def shuffled = scala.util.Random.shuffle(corpus).toDF("doc_id", "text").repartition(3)
    def check(name: String, idx: BuiltIndex): Unit = {
      assert(comparable(TermVectors.readAll(spark, idx).collect().toSeq) == want, name)
      val files = partFileDocIds(idx.indexDir, idx.manifest.generation)
      assert(files.nonEmpty && files.forall(ids => ids == ids.sorted), s"$name: docIds ascending per file")
    }
    val plainDir = TestDirs.fresh("graft-tv-walk")
    check("shuffled build", IndexBuilder.build(spark, shuffled, "doc_id", "text", plainDir, tvCfg))
    val sortedDir = TestDirs.fresh("graft-tv-walk-sorted")
    check("buildSorted", IndexBuilder.buildSorted(spark, shuffled, Seq(org.apache.spark.sql.functions.col("doc_id")),
      "text", sortedDir, tvCfg))
    // a failed later phase: the manifest is gone, the staged chunks stay
    val ckptDir = TestDirs.fresh("graft-tv-walk-ckpt")
    val ckptCfg = tvCfg.copy(stageCheckpoint = true)
    IndexBuilder.build(spark, shuffled, "doc_id", "text", ckptDir, ckptCfg, inputPath = "tv-walk")
    val staged = new java.io.File(s"$ckptDir/staging/gen=1").listFiles().filter(_.getName.endsWith(".parquet")).head
    val mtime = staged.lastModified()
    Thread.sleep(1100)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$ckptDir/manifest"))
    val resumed = IndexBuilder.build(spark, shuffled, "doc_id", "text", ckptDir, ckptCfg, inputPath = "tv-walk")
    assert(staged.lastModified() == mtime, "the staged chunks were reused")
    check("resumed stageCheckpoint build", resumed)
  }

  test("staged chunks written without term vectors are not reused by a term-vector build") {
    val dir = TestDirs.fresh("graft-tv-stage-fp")
    val plainCfg = BuildConfig(numSegments = 2, chunkDocs = 128, stageCheckpoint = true)
    IndexBuilder.build(spark, docs.toDF("doc_id", "text"), "doc_id", "text", dir, plainCfg, inputPath = "tv-fp")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/manifest"))
    val idx = IndexBuilder.build(spark, docs.toDF("doc_id", "text"), "doc_id", "text", dir,
      plainCfg.copy(storeTermVectors = true), inputPath = "tv-fp")
    val staged = spark.read.parquet(s"$dir/staging/gen=1").where("term IS NULL")
    assert(staged.where("vector IS NULL").count() == 0L, "the staging was rewritten with vectors")
    val want = comparable(docs.flatMap { case (id, t) => reference(id, t, Analyzer.standard) })
    assert(comparable(TermVectors.readAll(spark, idx).collect().toSeq) == want)
  }
}
