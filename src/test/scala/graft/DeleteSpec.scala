package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.index.{BuildConfig, IndexBuilder, IndexIO, IndexOps}
import graft.search._

/** Delete / update lifecycle (IndexWriter.DeleteDocuments + UpdateDocument,
  * `core/index/indexwriter.go:416`; live-docs applied at query time,
  * `codecs/simpletext/livedocsformat.go`). The oracle computes BM25 with
  * FULL-corpus statistics and then filters to live docs — Lucene semantics:
  * stats are not adjusted until tombstones are merged away.
  */
class DeleteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val corpus: Vector[(Long, String)] = TestCorpus.generate(600, seed = 7)

  private def freshIndex(name: String) = {
    import spark.implicits._
    val dir = TestDirs.fresh(s"graft-$name")
    val df = spark.createDataset(corpus).toDF("doc_id", "content")
    (dir, IndexBuilder.build(spark, df, "doc_id", "content", dir,
      BuildConfig(numSegments = 4, chunkDocs = 128)))
  }

  /** Oracle top-k over live docs only, stats from the FULL corpus. */
  private def oracleLive(deadTerm: String, q: Query, k: Int): Seq[(Long, Double)] = {
    val analyzer = graft.analysis.Analyzer.standard
    val dead = corpus.collect {
      case (id, text) if analyzer.termFreqs(text)._1.contains(deadTerm) => id
    }.toSet
    Oracle.topK(corpus, q, corpus.size).filterNot { case (id, _) => dead.contains(id) }.take(k)
  }

  test("delete-by-term: tombstoned docs vanish; survivor scores unchanged (full-corpus stats)") {
    val (dir, _) = freshIndex("del")
    val idx2 = IndexOps.deleteByTerm(spark, dir, "id_17")
    assert(idx2.manifest.deletedCount > 0L)
    val s = new IndexSearcher(idx2)
    val qs = Seq[Query](TermQ("import"), BoolQ(must = Seq(TermQ("def"), TermQ("val"))),
                        BoolQ(should = Seq(TermQ("id_1"), TermQ("fn7"))))
    val batch = s.searchMany(spark, qs.indices.map(i => s"q$i" -> qs(i)), 10).collect()
      .groupBy(_.queryId)
    for ((q, i) <- qs.zipWithIndex) {
      val got = s.search(spark, q, 10).collect().map(h => (h.docId, h.score)).toSeq
      assert(got == oracleLive("id_17", q, 10), s"mismatch for $q")
      val gotBatch = batch.getOrElse(s"q$i", Array.empty[QueryHit]).toSeq.map(h => (h.docId, h.score))
      assert(gotBatch == oracleLive("id_17", q, 10), s"searchMany mismatch for $q")
      // every live match, no tombstoned one: count and the match feed
      val live = oracleLive("id_17", q, corpus.size)
      assert(s.count(spark, q) == live.size.toLong, s"count mismatch for $q")
      assert(s.matchingDocs(spark, q).collect().map(_.docId).toSet == live.map(_._1).toSet,
        s"matchingDocs mismatch for $q")
    }
    // the deleted docs must not match even their own term
    assert(s.count(spark, TermQ("id_17")) == 0L)
  }

  test("queries without posting rows run every segment, with and without tombstones") {
    val (dir, idx) = freshIndex("del-rowless")
    assert(idx.manifest.segments.size > 1)
    def hits(s: IndexSearcher, q: Query) = s.search(spark, q, corpus.size).collect().map(h => (h.docId, h.score)).toSeq
    // MatchAll reads no posting row; id_333 occurs in few docs, so most
    // segments get no row of the MUST_NOT clause either
    val minus: Query = BoolQ(must = Seq(MatchAllQ), mustNot = Seq(TermQ("id_333")))
    assert(hits(new IndexSearcher(idx), MatchAllQ) == Oracle.topK(corpus, MatchAllQ, corpus.size))
    val s = new IndexSearcher(IndexOps.deleteByTerm(spark, dir, "id_17"))
    assert(hits(s, MatchAllQ) == oracleLive("id_17", MatchAllQ, corpus.size))
    assert(s.matchingDocs(spark, minus).collect().map(_.docId).toSet ==
      oracleLive("id_17", minus, corpus.size).map(_._1).toSet)
  }

  test("delete is idempotent and re-delete commits no new generation") {
    val (dir, _) = freshIndex("del-idem")
    val first = IndexOps.deleteByTerm(spark, dir, "id_333")
    val second = IndexOps.deleteByTerm(spark, dir, "id_333")
    assert(second.manifest.generation == first.manifest.generation)
    assert(second.manifest.deletedCount == first.manifest.deletedCount)
  }

  test("a delete that matches nothing commits nothing and leaves no tombstone dir") {
    val (dir, built) = freshIndex("del-none")
    def deleteDirs = Option(new java.io.File(s"$dir/deletes").listFiles()).map(_.map(_.getName).toSet)
    val none = IndexOps.deleteByTerm(spark, dir, "no_such_term")
    assert(none.manifest == built.manifest)
    assert(IndexIO.readManifest(spark, dir).contains(built.manifest), "no new commit")
    assert(deleteDirs.isEmpty, "no deletes tree without committed tombstones")
    val first = IndexOps.deleteByTerm(spark, dir, "id_333")
    val before = deleteDirs
    val again = IndexOps.deleteByTerm(spark, dir, "no_such_term")
    assert(again.manifest == first.manifest && deleteDirs == before, "no new dir under deletes/")
  }

  test("MatchAll count is O(1)-exact after deletes; term counts go through the kernel") {
    val (dir, idx) = freshIndex("del-count")
    val total = idx.stats.docCount
    val idx2 = IndexOps.deleteByTerm(spark, dir, "id_1")
    val s = new IndexSearcher(idx2)
    assert(s.count(spark, MatchAllQ) == total - idx2.manifest.deletedCount)
    assert(s.count(spark, TermQ("import")) == Oracle.count(corpus, BoolQ(
      must = Seq(TermQ("import")), mustNot = Seq(TermQ("id_1")))))
  }

  test("update = delete + append: replacements searchable, originals gone, manifest consistent") {
    import spark.implicits._
    val (dir, idx) = freshIndex("upd")
    val base = idx.nextDocBase
    val replacements = Seq(
      (base, "freshword import def"),
      (base + 1, "freshword val class"))
    val newDf = spark.createDataset(replacements).toDF("doc_id", "content")
    val idx2 = IndexOps.updateDocuments(spark, dir, "id_799", newDf, "doc_id", "content",
      BuildConfig(numSegments = 4, chunkDocs = 128))
    assert(idx2.manifest.deletedCount > 0L, "update must tombstone the matched docs")
    val s = new IndexSearcher(idx2)
    assert(s.count(spark, TermQ("id_799")) == 0L, "originals tombstoned")
    val hits = s.search(spark, TermQ("freshword"), 5).collect().map(_.docId).toSet
    assert(hits == Set(base, base + 1), "replacements searchable")
    // a reader re-opening the manifest sees both the append and the deletes
    val reread = IndexIO.readManifest(spark, dir).get
    assert(reread.deletedCount == idx2.manifest.deletedCount)
    assert(reread.segments.size == idx2.manifest.segments.size)
  }

  test("crashed delete op is invisible: orphan tombstone dir beyond deleteGen is ignored") {
    import spark.implicits._
    val (dir, idx) = freshIndex("del-orphan")
    // simulate a crash: tombstones written but manifest never committed
    val orphanGen = idx.manifest.generation + 7
    Seq(graft.index.DeleteRow(0, 0), graft.index.DeleteRow(0, 1))
      .toDS().write.parquet(s"$dir/deletes/gen=$orphanGen")
    val s = new IndexSearcher(new graft.index.BuiltIndex(dir, IndexIO.readManifest(spark, dir).get))
    // deletedCount == 0 -> no tombstones read at all; doc 0 still matches
    assert(s.count(spark, MatchAllQ) == idx.stats.docCount)
  }
}
