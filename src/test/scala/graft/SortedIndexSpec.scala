package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.index._
import graft.search._

/** Early termination on sorted indexes: searchSortedTopK must return the
  * same doc set/order as the exhaustive sort-everything path, while each
  * leaf stops at its first k matches.
  */
class SortedIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // n_chars proxy: token count scaled — docs deliberately NOT in sort order
  private val docs: Seq[(Long, String, Long)] = (0L until 300L).map { i =>
    val t = s"alpha w${i % 7} " + ("join " * ((i % 5) + 1).toInt) + s"uniq$i"
    (i, t, (i * 37 % 211) + t.length)
  }

  private lazy val sorted = {
    val dir = TestDirs.fresh("graft-sortedidx")
    IndexBuilder.buildSorted(spark, docs.toDF("doc_id", "text", "n_chars"),
      Seq(col("n_chars").desc, col("doc_id").asc), "text", dir,
      BuildConfig(numSegments = 4, chunkDocs = 128))
  }

  test("manifest records the index sort; appends clear it") {
    assert(sorted.manifest.indexSort.nonEmpty)
    val dir = TestDirs.fresh("graft-sortedidx-app")
    IndexBuilder.buildSorted(spark, docs.toDF("doc_id", "text", "n_chars"),
      Seq(col("n_chars").desc, col("doc_id").asc), "text", dir,
      BuildConfig(numSegments = 2, chunkDocs = 128))
    val m0 = IndexIO.readManifest(spark, dir).get
    assert(m0.indexSort.nonEmpty)
    val base = new BuiltIndex(dir, m0).nextDocBase
    val appended = IndexBuilder.append(spark,
      Seq((base, "join appended")).toDF("doc_id", "text"), "doc_id", "text", dir,
      BuildConfig(numSegments = 2, chunkDocs = 128))
    assert(appended.manifest.indexSort.isEmpty)
    intercept[IllegalArgumentException] {
      new IndexSearcher(appended).searchSortedTopK(spark, TermQ("join"), 5).collect()
    }
  }

  test("searchSortedTopK == exhaustive searchSortBy on the index sort (rank identity)") {
    val s = new IndexSearcher(sorted)
    // fields table in the NEW docId space: rank of (n_chars desc, doc_id)
    val ranked = docs.sortBy { case (id, _, nc) => (-nc, id) }
      .zipWithIndex.map { case ((_, _, nc), r) => (r.toLong, nc) }
    val fields = ranked.toDF("doc_id", "n_chars")
    for (k <- Seq(1, 7, 25)) {
      val early = s.searchSortedTopK(spark, TermQ("join"), k)
        .collect().map(_.docId).toSeq
      val full = s.searchSortBy(spark, TermQ("join"), fields,
        Seq(col("n_chars").desc, col("doc_id").asc), k)
        .collect().map(_.getLong(0)).toSeq
      assert(early == full, s"k=$k")
      assert(early == early.sorted, "docId order == sort order")
    }
  }

  test("norm-keyed sort: searchSortedTopK == searchSortBy on the stored norm (the bench's identity claim)") {
    // the bench's at-scale rows compare these exact two computations: an
    // index sorted by token count (== the norm docmeta stores, single-space
    // text) early-terminates to the SAME ranking the exhaustive
    // TopFieldCollector path (join norm, global sort) produces
    val dir = TestDirs.fresh("graft-sortednorm")
    val idx = IndexBuilder.buildSorted(spark, docs.toDF("doc_id", "text", "n_chars"),
      Seq(size(split(col("text"), " ")).desc, col("doc_id").asc), "text", dir,
      BuildConfig(numSegments = 4, chunkDocs = 128))
    val s = new IndexSearcher(idx)
    val fields = idx.docmeta(spark).select(col("docId").as("doc_id"), col("norm"))
    for (q <- Seq[Query](TermQ("join"), BoolQ(should = Seq(TermQ("join"), TermQ("alpha"))));
         k <- Seq(5, 17)) {
      val early = s.searchSortedTopK(spark, q, k).collect().map(_.docId).toSeq
      val full = s.searchSortBy(spark, q, fields,
        Seq(col("norm").desc, col("doc_id").asc), k)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(early == full, s"q=$q k=$k")
    }
  }

  test("norm-keyed sort survives EMPTY docs (split('', ' ') is [\"\"], size 1 — key must force 0)") {
    // the bench corpus deliberately contains empty docs (norm 0); a naive
    // size(split) key sorts them as 1, silently breaking the early==full
    // identity for any query that matches them (MatchAllQ, mustNot-only)
    // single-token docs are the discriminator: a naive key gives empties 1,
    // TYING them with real 1-token docs (doc_id decides) instead of
    // strictly after them (norm 0 < 1)
    val mixed: Seq[(Long, String)] = (0L until 200L).map { i =>
      if (i % 9 == 0) (i, "")
      else if (i % 9 == 1) (i, "alpha")
      else (i, s"alpha w${i % 7} " + ("join " * ((i % 5) + 1).toInt).trim)
    }
    val dir = TestDirs.fresh("graft-sortedempty")
    val idx = IndexBuilder.buildSorted(spark, mixed.toDF("doc_id", "text"),
      Seq(when(col("text") === "", lit(0))
            .otherwise(size(split(col("text"), " "))).desc,
          col("doc_id").asc), "text", dir,
      BuildConfig(numSegments = 4, chunkDocs = 128))
    val s = new IndexSearcher(idx)
    val fields = idx.docmeta(spark).select(col("docId").as("doc_id"), col("norm"))
    for (q <- Seq[Query](MatchAllQ, BoolQ(should = Seq(TermQ("join"), TermQ("alpha"))));
         k <- Seq(7, 200)) {
      val early = s.searchSortedTopK(spark, q, k).collect().map(_.docId).toSeq
      val full = s.searchSortBy(spark, q, fields,
        Seq(col("norm").desc, col("doc_id").asc), k)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(early == full, s"q=$q k=$k")
    }
  }

  test("early termination respects tombstones") {
    val dir = TestDirs.fresh("graft-sortedidx-del")
    IndexBuilder.buildSorted(spark, docs.toDF("doc_id", "text", "n_chars"),
      Seq(col("n_chars").desc, col("doc_id").asc), "text", dir,
      BuildConfig(numSegments = 4, chunkDocs = 128))
    val idx = IndexOps.deleteByTerm(spark, dir, "w3")
    val s = new IndexSearcher(idx)
    val early = s.searchSortedTopK(spark, TermQ("join"), 20).collect().map(_.docId).toSeq
    val all = s.matchingDocs(spark, TermQ("join")).collect().map(_.docId).sorted.take(20).toSeq
    assert(early == all)
    // none of the early hits is a deleted doc
    val deadSha = docs.filter(_._2.contains("w3")).map(d => IndexBuilder.sha256Hex(d._2)).toSet
    val shaOf = idx.docmeta(spark).select("docId", "sha").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(early.forall(id => !deadSha.contains(shaOf(id))))
  }
}
