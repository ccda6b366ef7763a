package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.index.{BuildConfig, IndexBuilder, IndexIO}
import graft.search._

/** TestIndexWriter-equivalent suite (north star): the reference has no
  * engine-level writer tests beyond the README walk-through and the memory
  * package; these assert the write-path contracts its IndexWriter API
  * documents — doc accounting, commit generations/visibility, field stats —
  * against our builder.
  */
class TestIndexWriterEquivalent extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def tmpDir(name: String): String =
    TestDirs.fresh(s"graft-$name")

  test("AddDocument accounting: numDocs == docs added, field stats summed (indexwriter.go semantics)") {
    import spark.implicits._
    val docs = Seq((0L, "a b c"), (1L, "a a"), (2L, ""), (3L, "b"))
    val df = spark.createDataset(docs).toDF("doc_id", "content")
    val idx = IndexBuilder.build(spark, df, "doc_id", "content", tmpDir("w1"),
      BuildConfig(numSegments = 2, chunkDocs = 128))
    assert(idx.stats.docCount == 4)            // maxDoc analogue
    assert(idx.stats.fieldDocCount == 3)       // docs with >=1 token (BM25 N)
    assert(idx.stats.sumTotalTermFreq == 6)    // total tokens
    assert(idx.stats.sumDocFreq == 5)          // Σ per-doc distinct terms
  }

  test("Commit generations: each commit bumps segments_N generation; readers see committed state only") {
    import spark.implicits._
    val dir = tmpDir("w2")
    val df = spark.createDataset(Seq((0L, "x y"))).toDF("doc_id", "content")
    val i1 = IndexBuilder.build(spark, df, "doc_id", "content", dir, BuildConfig(1, 128))
    val i2 = IndexBuilder.build(spark, df, "doc_id", "content", dir, BuildConfig(1, 128))
    assert(i2.manifest.generation == i1.manifest.generation + 1)
    assert(IndexIO.readManifest(spark, dir).get.generation == i2.manifest.generation)
  }

  test("norms written per doc: field length, 0 for empty (defaultindexingchain.go:845-865)") {
    import spark.implicits._
    val df = spark.createDataset(Seq((0L, "a b c d"), (1L, ""))).toDF("doc_id", "content")
    val idx = IndexBuilder.build(spark, df, "doc_id", "content", tmpDir("w3"), BuildConfig(1, 128))
    val norms = idx.docmeta(spark).select("docId", "norm").as[(Long, Int)].collect().toMap
    assert(norms(0L) == 4 && norms(1L) == 0)
  }

  test("append (AddDocument+Commit lifecycle): new generation, old segments untouched, ranks match union oracle") {
    import spark.implicits._
    val dir = tmpDir("append")
    val baseDocs = TestCorpus.generate(500, seed = 42)
    val idx1 = IndexBuilder.build(spark,
      spark.createDataset(baseDocs).toDF("doc_id", "content"), "doc_id", "content", dir,
      BuildConfig(numSegments = 3, chunkDocs = 128))
    val gen1Files = new java.io.File(s"$dir/postings/gen=1").listFiles().map(_.getName).toSet
    val nb = idx1.nextDocBase
    val extra = TestCorpus.generate(300, seed = 99).map { case (id, t) => (nb + id, t) }
    val idx2 = IndexBuilder.append(spark,
      spark.createDataset(extra).toDF("doc_id", "content"), "doc_id", "content", dir,
      BuildConfig(chunkDocs = 128))
    assert(idx2.manifest.generation == idx1.manifest.generation + 1)
    assert(idx2.stats.docCount == 800)
    assert(new java.io.File(s"$dir/postings/gen=1").listFiles().map(_.getName).toSet == gen1Files,
      "append rewrote committed segment files")
    // reader over the new manifest must be rank-identical to an exhaustive
    // oracle over the union corpus (global idf/avgdl now span generations)
    val s = new IndexSearcher(idx2)
    val union = baseDocs ++ extra
    Seq[Query](TermQ("import"),
        BoolQ(must = Seq(TermQ("def")), should = Seq(TermQ("id_17"))),
        BoolQ(should = Seq(TermQ("import"), TermQ("id_1")), minShouldMatch = 1))
      .foreach { q =>
        val got = s.search(spark, q, 10).collect().map(h => (h.docId, h.score)).toSeq
        assert(got == Oracle.topK(union, q, 10), s"append rank mismatch for $q")
      }
    // appending below the boundary must be rejected (segments are immutable)
    intercept[IllegalArgumentException] {
      IndexBuilder.append(spark,
        spark.createDataset(Seq((0L, "x"))).toDF("doc_id", "content"),
        "doc_id", "content", dir, BuildConfig(chunkDocs = 128))
    }
  }

  test("hot-term pathological skew: a term in EVERY doc builds bounded salted chunks and queries correctly") {
    import spark.implicits._
    val n = 2000
    val docs = (0L until n.toLong).map(i => (i, s"hot uniq_$i"))
    val df = spark.createDataset(docs).toDF("doc_id", "content")
    val idx = IndexBuilder.build(spark, df, "doc_id", "content", tmpDir("w4"),
      BuildConfig(numSegments = 2, chunkDocs = 128)) // 'hot' spans ~8 salts/segment
    val postings = idx.postings(spark).where($"term" === "hot")
      .select("segmentId", "docFreq").as[(Int, Int)].collect()
    assert(postings.map(_._2).sum == n) // merged across all salted chunks
    val s = new IndexSearcher(idx)
    assert(s.count(spark, TermQ("hot")) == n)
    val top = s.search(spark, BoolQ(must = Seq(TermQ("hot"), TermQ("uniq_42"))), 3).collect()
    assert(top.map(_.docId).toSeq == Seq(42L))
  }
}

/** TestIndexSearcher-equivalent suite (north star): the reference's
  * searcher expectations live in `memory/index_test.go:36-64` (exact BM25
  * scores) and the README SearchTopN walk-through (`README.md:88-210`);
  * both are asserted here against the distributed engine.
  */
class TestIndexSearcherEquivalent extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def build(docs: Seq[(Long, String)]): IndexSearcher = {
    import spark.implicits._
    val dir = TestDirs.fresh("graft-s")
    val df = spark.createDataset(docs).toDF("doc_id", "content")
    new IndexSearcher(IndexBuilder.build(spark, df, "doc_id", "content", dir, BuildConfig(1, 128)))
  }

  test("memory/index_test.go:49-64: TermQuery('text') on doc 'some text' scores 0.13076457") {
    val s = build(Seq((0L, "some text")))
    val h = s.search(spark, TermQ("text"), 1).collect()
    assert(h.length == 1 && math.abs(h(0).score - 0.13076457) < 1e-8)
    val h2 = s.search(spark, TermQ("some"), 1).collect()
    assert(math.abs(h2(0).score - 0.13076457) < 1e-8)
    assert(s.search(spark, TermQ("some text"), 1).collect().isEmpty) // unanalyzed term: no match
  }

  test("README.md:88-210: SearchTopN(BooleanQuery MUST a:74, 2) => docs 0,1 equal scores docID asc") {
    val s = build(Seq((0L, "74 86 1237"), (1L, "74 123 789"), (2L, "741 861 12137")))
    val hits = s.search(spark, BoolQ(must = Seq(TermQ("74"))), 2).collect()
    assert(hits.map(_.docId).toSeq == Seq(0L, 1L))
    assert(hits(0).score == hits(1).score)
  }

  test("TotalHits semantics: count == docFreq for TermQuery (indexsearcher.go:91-133 shortcut)") {
    val s = build(Seq((0L, "a b"), (1L, "a"), (2L, "b")))
    assert(s.count(spark, TermQ("a")) == 2)
    assert(s.count(spark, MatchAllQ) == 3)
    assert(s.count(spark, MatchNoneQ) == 0)
  }

  test("tie-break: equal scores order by docId asc (topscoredoccollector.go:96-101)") {
    val s = build((0L until 20L).map(i => (i, "same same")))
    val hits = s.search(spark, TermQ("same"), 5).collect()
    assert(hits.map(_.docId).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    assert(hits.map(_.score).distinct.length == 1)
  }
}
