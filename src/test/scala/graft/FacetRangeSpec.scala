package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.index.{BuildConfig, IndexBuilder, IndexOps}
import graft.search._

/** SSDV-style faceting (top terms among matching docs, postings-backed) and
  * RangeField relation predicates, each against in-JVM brute-force oracles.
  */
class FacetRangeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs: Seq[(Long, String)] = (0L until 240L).map { i =>
    val extra = if (i % 4 == 0) "facetme " else ""
    (i, s"${extra}k${i % 6} shared v${i % 11} uniq$i " + (if (i % 8 == 0) "drop " else ""))
  }

  private def facetOracle(corpus: Seq[(Long, String)], matchTerm: String, k: Int): Seq[(String, Long)] = {
    val a = Analyzer.standard
    val toks = corpus.map { case (id, t) => id -> a.termFreqs(t)._1.keySet }
    val matching = toks.filter(_._2.contains(matchTerm)).map(_._1).toSet
    val counts = scala.collection.mutable.Map.empty[String, Long]
    toks.filter(t => matching.contains(t._1))
      .foreach(_._2.foreach(t => counts(t) = counts.getOrElse(t, 0L) + 1))
    counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(k)
  }

  test("facetTopTerms == brute-force term-by-matching-doc counts") {
    val dir = TestDirs.fresh("graft-facet")
    val idx = IndexBuilder.build(spark, docs.toDF("doc_id", "text"), "doc_id", "text", dir,
      BuildConfig(numSegments = 2, chunkDocs = 128))
    val s = new IndexSearcher(idx)
    val got = s.facetTopTerms(spark, TermQ("facetme"), 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == facetOracle(docs, "facetme", 8))
  }

  test("facetTopTerms respects tombstones (deleted docs don't count)") {
    val dir = TestDirs.fresh("graft-facet-del")
    IndexBuilder.build(spark, docs.toDF("doc_id", "text"), "doc_id", "text", dir,
      BuildConfig(numSegments = 2, chunkDocs = 128))
    val idx = IndexOps.deleteByTerm(spark, dir, "drop")
    val s = new IndexSearcher(idx)
    val got = s.facetTopTerms(spark, TermQ("facetme"), 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val live = docs.filterNot(_._2.contains("drop"))
    assert(got == facetOracle(live, "facetme", 8))
  }

  test("TV-backed facets: identical counts, scan pruned to the matching docIds") {
    val dir = TestDirs.fresh("graft-facet-tv")
    val idx = IndexBuilder.build(spark, docs.toDF("doc_id", "text"), "doc_id", "text", dir,
      BuildConfig(numSegments = 2, chunkDocs = 128, storeTermVectors = true))
    val s = new IndexSearcher(idx)
    val got = s.facetTopTerms(spark, TermQ("facetme"), 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == facetOracle(docs, "facetme", 8))
    // the selective path must push the matched docIds into the TV scan —
    // no postings decode, row groups outside the match set skipped
    // (facetTopTerms materializes while its match-set cache is live, so the
    // plan is asserted on the lazy inner aggregation)
    val matches = s.matchingDocs(spark, TermQ("facetme")).toDF("doc_id", "z").select("doc_id").persist()
    try {
      val plan = s.facetAgg(spark, matches, 8, 8192).queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") && plan.contains("In(docId"),
        s"expected docId In-pushdown in:\n$plan")
      assert(!plan.toLowerCase.contains("postings"), "TV path must not scan postings")
    } finally matches.unpersist(blocking = false)
  }

  test("facet match set is computed once: the hot-path join reads the cache, not a kernel re-run") {
    val dir = TestDirs.fresh("graft-facet-once")
    val idx = IndexBuilder.build(spark, docs.toDF("doc_id", "text"), "doc_id", "text", dir,
      BuildConfig(numSegments = 2, chunkDocs = 128, storeTermVectors = true))
    val s = new IndexSearcher(idx)
    val matches = s.matchingDocs(spark, TermQ("shared")).toDF("doc_id", "z").select("doc_id").persist()
    try {
      // maxPushdownIds = 0 forces the join branch; the join's probe side
      // must consume the CACHED match set (InMemoryTableScan), not replay
      // the distributed search lineage — this is exactly what facetTopTerms
      // guarantees by persisting before the probe
      val plan = s.facetAgg(spark, matches, 8, 0).queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan"),
        s"hot-path join must read the cached match set; plan:\n$plan")
    } finally matches.unpersist(blocking = false)
  }

  test("TV-backed facets with tombstones match the live-corpus oracle") {
    val dir = TestDirs.fresh("graft-facet-tv-del")
    IndexBuilder.build(spark, docs.toDF("doc_id", "text"), "doc_id", "text", dir,
      BuildConfig(numSegments = 2, chunkDocs = 128, storeTermVectors = true))
    val idx = IndexOps.deleteByTerm(spark, dir, "drop")
    val s = new IndexSearcher(idx)
    val got = s.facetTopTerms(spark, TermQ("facetme"), 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == facetOracle(docs.filterNot(_._2.contains("drop")), "facetme", 8))
  }

  test("TV-backed facets: hot query takes the broadcast-join path, same counts") {
    val dir = TestDirs.fresh("graft-facet-tv-hot")
    val idx = IndexBuilder.build(spark, docs.toDF("doc_id", "text"), "doc_id", "text", dir,
      BuildConfig(numSegments = 2, chunkDocs = 128, storeTermVectors = true))
    val s = new IndexSearcher(idx)
    // maxPushdownIds = 3 forces the broadcast-join branch ("shared" matches all)
    val got = s.facetTopTerms(spark, TermQ("shared"), 8, maxPushdownIds = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == facetOracle(docs, "shared", 8))
  }

  test("RangeField relations partition intersecting pairs correctly") {
    val rows = (0 until 500).map { i =>
      val lo = (i % 97).toDouble
      (i.toLong, lo, lo + (i % 13))
    }
    val df = rows.toDF("id", "lo", "hi")
    val (qlo, qhi) = (30.0, 60.0)
    import graft.search.RangeField._
    def ids(c: org.apache.spark.sql.Column): Set[Long] =
      df.where(c).select("id").as[Long].collect().toSet
    val inter = ids(intersects(col("lo"), col("hi"), lit(qlo), lit(qhi)))
    val win = ids(within(col("lo"), col("hi"), lit(qlo), lit(qhi)))
    val cont = ids(contains(col("lo"), col("hi"), lit(qlo), lit(qhi)))
    val cross = ids(crosses(col("lo"), col("hi"), lit(qlo), lit(qhi)))
    val wantInter = rows.filter { case (_, lo, hi) => lo <= qhi && hi >= qlo }.map(_._1).toSet
    val wantWin = rows.filter { case (_, lo, hi) => lo >= qlo && hi <= qhi }.map(_._1).toSet
    val wantCont = rows.filter { case (_, lo, hi) => lo <= qlo && hi >= qhi }.map(_._1).toSet
    assert(inter == wantInter && win == wantWin && cont == wantCont)
    // CROSSES = intersects minus both containments; the three are disjoint
    // covers of intersects (a range can't be both within and contains here
    // unless equal to the query box)
    assert(cross == wantInter -- wantWin -- wantCont)
    assert(win.subsetOf(inter) && cont.subsetOf(inter))
    assert(Seq(win, cont, cross).map(_.size).sum >= inter.size) // overlap only on box==range
  }
}
