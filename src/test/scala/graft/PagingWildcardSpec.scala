package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.index.{BuildConfig, IndexBuilder}
import graft.search._

/** Round-5 query surface: field-sorted searchAfter (PagingFieldCollector
  * role), sorted-index early-termination paging, WildcardQuery sugar, and
  * block-max dismax rank identity.
  */
class PagingWildcardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val corpus: Vector[(Long, String)] = TestCorpus.generate(600, seed = 7)

  private lazy val (dir, index) = {
    val d = TestDirs.fresh("graft-paging")
    (d, IndexBuilder.build(spark, corpus.toDF("doc_id", "text"), "doc_id", "text", d,
      BuildConfig(numSegments = 3, chunkDocs = 128)))
  }
  private lazy val searcher = new IndexSearcher(index)

  private lazy val fields = corpus.map { case (id, t) => (id, t.length.toLong) }
    .toDF("doc_id", "n_chars")

  // ---- field-sorted searchAfter ---------------------------------------

  private def unpaged(q: Query, asc: Boolean, n: Int): Seq[(Long, Long)] =
    searcher.searchSortBy(spark, q, fields,
        Seq(if (asc) col("n_chars").asc else col("n_chars").desc, col("doc_id").asc), n)
      .select("doc_id", "n_chars").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("searchSortByAfter: page 2 == rows k..2k of the unpaged run (desc and asc)") {
    for (asc <- Seq(false, true)) {
      val q = TermQ("import")
      val all = unpaged(q, asc, 30)
      val page1 = searcher.searchSortByAfter(spark, q, fields, "n_chars", asc, 10, None)
        .select("doc_id", "n_chars").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(page1 == all.take(10), s"page1 asc=$asc")
      val cursor = (page1.last._2, page1.last._1)
      val page2 = searcher.searchSortByAfter(spark, q, fields, "n_chars", asc, 10, Some(cursor))
        .select("doc_id", "n_chars").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(page2 == all.slice(10, 20), s"page2 asc=$asc")
      val cursor3 = (page2.last._2, page2.last._1)
      val page3 = searcher.searchSortByAfter(spark, q, fields, "n_chars", asc, 10, Some(cursor3))
        .select("doc_id", "n_chars").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(page3 == all.slice(20, 30), s"page3 asc=$asc")
    }
  }

  test("searchSortByAfter cursor survives heavy sort-value ties (docId tiebreak)") {
    // constant sort value => ordering is purely the docId tiebreak
    val flat = corpus.map { case (id, _) => (id, 1L) }.toDF("doc_id", "n_chars")
    val q = TermQ("def")
    val all = searcher.searchSortBy(spark, q, flat,
        Seq(col("n_chars").desc, col("doc_id").asc), 20)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val p1 = searcher.searchSortByAfter(spark, q, flat, "n_chars", ascending = false, 10, None)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val p2 = searcher.searchSortByAfter(spark, q, flat, "n_chars", ascending = false, 10,
        Some((1L, p1.last)))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(p1 ++ p2 == all)
  }

  // ---- sorted-index early-termination paging --------------------------

  test("searchSortedTopK paging: page 2 == rows k..2k; exhaustion returns empty") {
    val d = TestDirs.fresh("graft-paging-sorted")
    val docs = corpus.toDF("doc_id", "text")
    val idx = IndexBuilder.buildSorted(spark, docs,
      Seq(length(col("text")).desc, col("doc_id").asc), "text", d,
      BuildConfig(numSegments = 3, chunkDocs = 128))
    val s = new IndexSearcher(idx)
    val q = TermQ("def")
    val all = s.searchSortedTopK(spark, q, 30).collect().map(_.docId).toSeq
    val p1 = s.searchSortedTopK(spark, q, 10).collect().map(_.docId).toSeq
    val p2 = s.searchSortedTopK(spark, q, 10, Some(p1.last)).collect().map(_.docId).toSeq
    val p3 = s.searchSortedTopK(spark, q, 10, Some(p2.last)).collect().map(_.docId).toSeq
    assert(p1 == all.take(10) && p2 == all.slice(10, 20) && p3 == all.slice(20, 30))
    // a cursor past the last match pages to empty, not an error
    val matchesAll = s.matchingDocs(spark, q).collect().map(_.docId)
    val pEnd = s.searchSortedTopK(spark, q, 10, Some(matchesAll.max)).collect()
    assert(pEnd.isEmpty)
  }

  // ---- WildcardQuery --------------------------------------------------

  test("WildcardQ.toRegex translation (escaping + wildcard mapping)") {
    assert(WildcardQ.toRegex("jo*") == "jo.*")
    assert(WildcardQ.toRegex("h?sh") == "h.sh")
    assert(WildcardQ.toRegex("a.b*c") == """a\.b.*c""")
    assert(WildcardQ.toRegex("*") == ".*")
    assert(WildcardQ.toRegex("x{2}") == """x\{2\}""")
  }

  test("wildcard queries: engine == brute-force dictionary expansion; empty/broad safe") {
    def oracle(pat: String, k: Int): Seq[(Long, Double)] = {
      val re = WildcardQ.toRegex(pat)
      Oracle.topK(corpus, RegexpQ(re), k)
    }
    for (pat <- Seq("id_*", "f?7", "im*ort", "zz?zz", "*")) {
      val got = searcher.search(spark, WildcardQ(pat), 15).collect()
        .map(h => (h.docId, h.score)).toSeq
      assert(got == oracle(pat, 15), s"pattern $pat")
    }
    // count path + memory-index agreement
    assert(searcher.count(spark, WildcardQ("fn*")) == Oracle.count(corpus, RegexpQ("fn.*")))
    val mi = new graft.memory.MemoryIndex().addField("Import defended")
    assert(mi.search(WildcardQ("def*")) > 0.0)
    assert(mi.search(WildcardQ("x?z")) == 0.0)
  }

  // ---- block-max dismax ------------------------------------------------

  test("dismax under WAND: k=1..3 rank-identical to the exhaustive oracle across tieBreaks") {
    val qs = Seq(
      DisjMaxQ(Seq(TermQ("import"), TermQ("id_17")), 0.0),   // pure max
      DisjMaxQ(Seq(TermQ("import"), TermQ("id_17")), 1.0),   // pure sum
      DisjMaxQ(Seq(TermQ("def"), TermQ("val"), TermQ("fn7")), 0.3),
      DisjMaxQ(Seq(BoostQ(TermQ("import"), 3.0), TermQ("return"), TermQ("id_1")), 0.55))
    for (q <- qs; k <- Seq(1, 2, 3, 10)) {
      val got = searcher.search(spark, q, k).collect().map(h => (h.docId, h.score)).toSeq
      assert(got == Oracle.topK(corpus, q, k), s"q=$q k=$k")
    }
  }
}
