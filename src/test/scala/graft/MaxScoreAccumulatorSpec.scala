package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.search._

/** Cross-leaf threshold sharing (the MaxScoreAccumulator role,
  * `core/search/maxscoreaccumulator.go`): monotone publish, the STRICT
  * floor's tie safety, and end-to-end rank identity with sharing live.
  */
class MaxScoreAccumulatorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("publish is a monotone max; strictFloor sits strictly below it") {
    val c = MaxScoreAccumulator.cell(MaxScoreAccumulator.newRunId())
    assert(MaxScoreAccumulator.strictFloor(c) == Double.NegativeInfinity)
    MaxScoreAccumulator.publish(c, 1.5)
    MaxScoreAccumulator.publish(c, 0.7) // lower: ignored
    val floor = MaxScoreAccumulator.strictFloor(c)
    assert(floor < 1.5 && floor == Math.nextDown(1.5))
    MaxScoreAccumulator.publish(c, 2.25)
    assert(MaxScoreAccumulator.strictFloor(c) == Math.nextDown(2.25))
  }

  test("score ties with a remote leaf's published worst stay competitive (docId tie-break preserved)") {
    val runId = MaxScoreAccumulator.newRunId()
    // leaf A (LARGE docBase — would lose every docId tie) fills its top-1
    // with score 2.0 and publishes it via a minCompetitive call
    val a = new TopKCollector(1, docBase = 1000L, after = None, runId = runId)
    a.collect(0, 2.0)
    val thA = a.minCompetitive // publishes 2.0
    assert(thA == 2.0)
    // leaf B (docBase 0 — tie-WINNER) starts after A published: its
    // threshold must be STRICTLY below 2.0 so a bound of exactly 2.0 still
    // evaluates, and its 2.0-scoring doc must enter the heap
    val b = new TopKCollector(1, docBase = 0L, after = None, runId = runId)
    val thB = b.minCompetitive
    assert(thB == Math.nextDown(2.0), s"shared floor must be nextDown(2.0), got $thB")
    assert(2.0 > thB) // a scorer bound of exactly 2.0 survives the floor
    b.collect(5, 2.0)
    // global merge: B's (docId 5, 2.0) outranks A's (docId 1000, 2.0)
    val merged = (a.results ++ b.results).sortBy { case (d, s) => (-s, d) }.take(1)
    assert(merged.head == (5L, 2.0))
  }

  test("strictly-below-floor docs are safely prunable (k docs at >= g exist remotely)") {
    val runId = MaxScoreAccumulator.newRunId()
    val a = new TopKCollector(2, docBase = 0L, after = None, runId = runId)
    a.collect(0, 3.0); a.collect(1, 2.5)
    assert(a.minCompetitive == 2.5) // local root, publishes 2.5
    val b = new TopKCollector(2, docBase = 100L, after = None, runId = runId)
    // B has no hits yet: locally it could not prune at all, but the shared
    // floor lets it skip everything strictly under 2.5
    assert(b.minCompetitive == Math.nextDown(2.5))
  }

  test("end-to-end: search with cross-leaf sharing stays rank-identical to the exhaustive oracle") {
    // many segments + hot/rare mix; the EngineSpec suite covers this too —
    // this is the focused regression for the sharing path specifically,
    // repeated so racy publish orders get sampled
    val corpus = TestCorpus.generate(500, seed = 99)
    import spark.implicits._
    val dir = TestDirs.fresh("graft-acc")
    val idx = graft.index.IndexBuilder.build(spark,
      spark.createDataset(corpus).toDF("doc_id", "text"), "doc_id", "text", dir,
      graft.index.BuildConfig(numSegments = 6, chunkDocs = 128))
    val s = new IndexSearcher(idx)
    val qs: Seq[Query] = Seq(
      TermQ("import"),
      BoolQ(should = Seq(TermQ("import"), TermQ("def"), TermQ("val"))),
      BoolQ(must = Seq(TermQ("def"), TermQ("return"))),
      DisjMaxQ(Seq(TermQ("import"), TermQ("id_17")), 0.4))
    for (q <- qs; k <- Seq(1, 3, 10); _ <- 1 to 3) {
      val got = s.search(spark, q, k).collect().map(h => (h.docId, h.score)).toSeq
      assert(got == Oracle.topK(corpus, q, k), s"q=$q k=$k")
    }
    // searchLocal shares one run id across its sequential leaves
    for (q <- qs) {
      val got = s.searchLocal(spark, q, 5).map(h => (h.docId, h.score)).toSeq
      assert(got == Oracle.topK(corpus, q, 5), s"local q=$q")
    }
  }

  test("exact-count contract: the shared floor never prunes below hitsThreshold") {
    val runId = MaxScoreAccumulator.newRunId()
    // a remote leaf publishes a high floor
    val a = new TopKCollector(1, docBase = 100L, after = None, runId = runId)
    a.collect(0, 5.0)
    assert(a.minCompetitive == 5.0)
    // this leaf must count 3 hits EXACTLY before any pruning: the cross-
    // leaf floor may not leak through while collected < hitsThreshold
    val b = new TopKCollector(1, docBase = 0L, after = None,
      hitsThreshold = 3L, runId = runId)
    assert(b.minCompetitive == Double.NegativeInfinity)
    b.collect(1, 1.0)
    assert(b.minCompetitive == Double.NegativeInfinity && !b.pruned)
    b.collect(2, 0.5)
    assert(b.minCompetitive == Double.NegativeInfinity && !b.pruned)
    b.collect(3, 0.25)
    // threshold reached: the shared floor (higher than the local root) applies
    assert(b.minCompetitive == Math.nextDown(5.0) && b.pruned)
  }
}
