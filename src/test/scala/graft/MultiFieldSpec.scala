package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.index.BuildConfig
import graft.search._

/** Multi-field semantics: Term = (field, text); statistics per field
  * (`core/search/termquery.go:61`, `core/index/fieldinfos.go`). */
class MultiFieldSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val corpus: Vector[(Long, String)] = TestCorpus.generate(400, seed = 11)
  // second field: short categorical text sharing SOME tokens with content
  // ("import" appears in both fields -> same term, different stats per field)
  val rows: Vector[(Long, String, String)] = corpus.map { case (id, text) =>
    val tag = if (id % 5 == 0) "import hot" else if (id % 3 == 0) "cold zone" else "warm zone"
    (id, text, tag)
  }

  lazy val mf: MultiFieldSearcher = {
    val dir = TestDirs.fresh("graft-mf")
    val df = spark.createDataset(rows).toDF("doc_id", "body", "tag")
    new MultiFieldSearcher(MultiFieldIndex.buildOrLoad(spark, df, "doc_id",
      Seq("body", "tag"), dir, BuildConfig(numSegments = 3, chunkDocs = 128)))
  }

  test("same term, two fields, different ranks and statistics") {
    val inBody = mf.search(spark, "body", TermQ("import"), 10).collect().map(_.docId).toSeq
    val inTag = mf.search(spark, "tag", TermQ("import"), 10).collect().map(_.docId).toSeq
    assert(inBody.nonEmpty && inTag.nonEmpty)
    assert(inBody != inTag, "field-scoped ranking must use the field's own postings/stats")
    // tag-field matches are exactly the id % 5 == 0 docs
    assert(mf.count(spark, "tag", TermQ("import")) == rows.count(_._1 % 5 == 0))
    // per-field df: body df comes from the body corpus, independent of tag
    val bodyDf = rows.count(r => graft.analysis.Analyzer.standard.termFreqs(r._2)._1.contains("import"))
    assert(mf.count(spark, "body", TermQ("import")) == bodyDf)
  }

  test("tag field scores: every 'import hot' doc scores identically (tf=1, len=2, avgdl const)") {
    val hits = mf.searcher("tag").scoreAll(spark, TermQ("import")).collect()
    assert(hits.map(_.score).distinct.length == 1)
  }

  test("blended cross-field sum == manual per-field composition") {
    val k = 12
    val got = mf.searchBlended(spark, Seq(("body", TermQ("def"), 1.0), ("tag", TermQ("hot"), 2.0)), k)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val body = mf.searcher("body").scoreAll(spark, TermQ("def")).collect().map(h => h.docId -> h.score).toMap
    val tag = mf.searcher("tag").scoreAll(spark, TermQ("hot")).collect().map(h => h.docId -> 2.0 * h.score).toMap
    val want = (body.keySet ++ tag.keySet).toSeq
      .map(id => (id, BigDecimal(body.getOrElse(id, 0.0) + tag.getOrElse(id, 0.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .sortBy { case (id, s) => (-s, id) }.take(k)
    assert(got == want)
  }

  test("cross-field WAND is rank-identical to the exhaustive blended path") {
    for (k <- Seq(5, 12, 50)) {
      val clauses = Seq(("body", "def", 1.0), ("tag", "hot", 2.0), ("body", "import", 0.5))
      val exhaustive = mf.searchBlended(spark,
        clauses.map { case (f, t, w) => (f, TermQ(t): Query, w) }, k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val pruned = mf.searchBlendedWand(spark, clauses, k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(pruned == exhaustive, s"k=$k")
    }
    // single clause degenerates to plain field search ranks
    val one = mf.searchBlendedWand(spark, Seq(("body", "def", 1.0)), 10)
      .collect().map(_.getLong(0)).toSeq
    val direct = mf.search(spark, "body", TermQ("def"), 10).collect().map(_.docId).toSeq
    assert(one == direct)
  }

  test("cross-field WAND actually prunes: a hot clause's postings are not exhausted") {
    // "zone" matches 4/5 of the corpus in the tag field (the hot term);
    // rank identity above already proves correctness — here we check the
    // WAND path returns the same top-k while the exhaustive path must score
    // every one of those matches (sanity on match counts, then identity)
    val hot = mf.count(spark, "tag", TermQ("zone"))
    assert(hot > rows.size / 2)
    val got = mf.searchBlendedWand(spark, Seq(("tag", "zone", 1.0), ("body", "def", 1.0)), 10)
      .collect().map(_.getLong(0)).toSeq
    val want = mf.searchBlended(spark,
      Seq(("tag", TermQ("zone"), 1.0), ("body", TermQ("def"), 1.0)), 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got == want)
  }

  test("cross-field filtered WAND is result-identical to the exhaustive filtered path") {
    for (k <- Seq(5, 10, 40)) {
      val exhaustive = mf.searchFiltered(spark, "body", TermQ("def"), "tag", TermQ("cold"), k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val pruned = mf.searchFilteredWand(spark, "body", "def", "tag", "cold", k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(pruned == exhaustive, s"k=$k")
    }
    // same-field filter degenerates correctly (term AND filterTerm in body)
    val sameField = mf.searchFilteredWand(spark, "body", "def", "body", "import", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val wantSame = mf.searchFiltered(spark, "body", TermQ("def"), "body", TermQ("import"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(sameField == wantSame)
  }

  test("cross-field filter: body scores, tag predicate") {
    val got = mf.searchFiltered(spark, "body", TermQ("def"), "tag", TermQ("cold"), 10)
      .collect().map(r => r.getLong(0)).toSet
    val coldIds = rows.collect { case (id, _, tag) if tag.contains("cold") => id }.toSet
    assert(got.nonEmpty && got.subsetOf(coldIds))
  }
}
