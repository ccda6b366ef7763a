package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.bm25.Bm25
import graft.index.{BuildConfig, IndexBuilder}
import graft.search._

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

/** Deterministic synthetic source-code corpus (FIXTURES.md §1): Zipf-ish hot
  * keywords (skew path), rare identifiers, log-normal lengths including
  * docs > 255 tokens (mod-256 norm quirk) and empty docs (norm 0).
  */
object TestCorpus {
  def generate(n: Int, seed: Long): Vector[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val hot = Vector("import", "def", "return", "val", "class", "public", "static", "int", "string", "if")
    val mid = Vector.tabulate(80)(i => s"fn$i")
    (0L until n.toLong).map { id =>
      val len =
        if (rnd.nextDouble() < 0.02) 0
        else if (rnd.nextDouble() < 0.05) 256 + rnd.nextInt(80) // exercise mod-256
        else 1 + math.min(250, math.exp(2.5 + rnd.nextGaussian() * 1.0).toInt)
      val toks = Vector.fill(len) {
        val r = rnd.nextDouble()
        if (r < 0.55) hot(rnd.nextInt(hot.size))
        else if (r < 0.85) mid(rnd.nextInt(mid.size))
        else s"id_${rnd.nextInt(800)}"
      }
      (id, toks.mkString(" "))
    }.toVector
  }
}

/** Exhaustive in-JVM oracle: same BM25 math, no pruning, no Spark — the
  * MemoryIndex-style reference scorer (SURVEY.md §3.3). The distributed
  * engine (incl. WAND) must be rank-identical to this.
  */
object Oracle {
  val analyzer = Analyzer.standard

  final case class Ctx(idf: Map[String, Double], cache: Array[Double])

  def build(corpus: Seq[(Long, String)]): (Map[Long, (collection.Map[String, Int], Int)], Ctx, Set[String]) = {
    val docs = corpus.map { case (id, text) => id -> analyzer.termFreqs(text) }.toMap
    val withField = docs.values.count(_._2 > 0).toLong
    val sumTtf = docs.values.map(_._2.toLong).sum
    val df = collection.mutable.HashMap.empty[String, Long]
    docs.values.foreach(_._1.keys.foreach(t => df.update(t, df.getOrElse(t, 0L) + 1)))
    val idf = df.map { case (t, n) => t -> Bm25.idf(n, withField) }.toMap
    (docs, Ctx(idf, Bm25.buildCache(sumTtf.toDouble / withField)), df.keySet.toSet)
  }

  /** Some(score) if doc matches, None otherwise. */
  def eval(q: Query, tf: collection.Map[String, Int], normByte: Int, ctx: Ctx,
           boost: Double, scoring: Boolean): Option[Double] = q match {
    case MatchNoneQ => None
    case MatchAllQ => Some(if (scoring) boost else 0.0)
    case TermQ(t) =>
      tf.get(t).map(f => if (scoring) Bm25.score(boost * ctx.idf.getOrElse(t, 0.0), f, normByte, ctx.cache) else 0.0)
    case BoostQ(s, b) => eval(s, tf, normByte, ctx, boost * b, scoring)
    case ConstQ(s, b) => eval(s, tf, normByte, ctx, 1.0, scoring = false).map(_ => if (scoring) boost * b else 0.0)
    case TermInSetQ(ts) => if (ts.exists(tf.contains)) Some(if (scoring) boost else 0.0) else None
    case DisjMaxQ(qs, tb) =>
      val ss = qs.flatMap(eval(_, tf, normByte, ctx, boost, scoring))
      if (ss.isEmpty) None else Some(ss.max + tb * (ss.sum - ss.max))
    case PrefixQ(p) => if (tf.keys.exists(_.startsWith(p))) Some(if (scoring) boost else 0.0) else None
    case RegexpQ(p) => if (tf.keys.exists(_.matches(p))) Some(if (scoring) boost else 0.0) else None
    case TermRangeQ(lo, hi, il, ih) =>
      val in = tf.keys.exists { t =>
        lo.forall(v => if (il) t >= v else t > v) && hi.forall(v => if (ih) t <= v else t < v)
      }
      if (in) Some(if (scoring) boost else 0.0) else None
    case FuzzyQ(ft, e) =>
      if (tf.keys.exists(levenshtein(_, ft) <= e)) Some(if (scoring) boost else 0.0) else None
    case WildcardQ(p) =>
      if (tf.keys.exists(_.matches(WildcardQ.toRegex(p)))) Some(if (scoring) boost else 0.0) else None
    case _: PhraseQ | _: MultiTermQ =>
      throw new UnsupportedOperationException("this tf-only oracle has no positions; PhraseSpec has its own")
    case BoolQ(must, should, filter, mustNot, msm0) =>
      val mustS = must.map(eval(_, tf, normByte, ctx, boost, scoring))
      if (mustS.exists(_.isEmpty)) return None
      if (filter.exists(eval(_, tf, normByte, ctx, 1.0, scoring = false).isEmpty)) return None
      if (mustNot.exists(eval(_, tf, normByte, ctx, 1.0, scoring = false).isDefined)) return None
      val shouldS = should.flatMap(eval(_, tf, normByte, ctx, boost, scoring))
      val msm = math.max(msm0, if (must.isEmpty && filter.isEmpty) 1 else 0)
      if (should.nonEmpty && shouldS.size < msm) return None
      if (must.isEmpty && filter.isEmpty && should.isEmpty) return None
      Some(mustS.flatten.sum + shouldS.sum)
  }

  /** Classic Levenshtein distance over code points (full DP, no banding). */
  def levenshtein(a: String, b: String): Int = {
    val x = a.codePoints().toArray
    val y = b.codePoints().toArray
    var prev = Array.range(0, y.length + 1)
    for (i <- 1 to x.length) {
      val cur = new Array[Int](y.length + 1)
      cur(0) = i
      for (j <- 1 to y.length)
        cur(j) = math.min(math.min(prev(j), cur(j - 1)) + 1,
          prev(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
      prev = cur
    }
    prev(y.length)
  }

  def topK(corpus: Seq[(Long, String)], q: Query, k: Int): Seq[(Long, Double)] = {
    val (docs, ctx, _) = build(corpus)
    val hits = docs.toSeq.flatMap { case (id, (tf, len)) =>
      eval(q, tf, len & 0xFF, ctx, 1.0, scoring = true).map(s => (id, s))
    }
    hits.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  def count(corpus: Seq[(Long, String)], q: Query): Long = {
    val (docs, ctx, _) = build(corpus)
    docs.count { case (_, (tf, len)) => eval(q, tf, len & 0xFF, ctx, 1.0, scoring = false).isDefined }
  }
}

class EngineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  val corpus: Vector[(Long, String)] = TestCorpus.generate(800, seed = 42)

  def buildIndex(name: String, cfg: BuildConfig, docs: Seq[(Long, String)] = corpus) = {
    import spark.implicits._
    val dir = TestDirs.fresh(s"graft-$name")
    val df = spark.createDataset(docs).toDF("doc_id", "content")
    IndexBuilder.build(spark, df, "doc_id", "content", dir, cfg)
  }

  lazy val index = buildIndex("main", BuildConfig(numSegments = 5, chunkDocs = 128))
  lazy val searcher = new IndexSearcher(index)

  // ---- reference query set (FIXTURES.md §4, seeded) --------------------
  val hot = Vector("import", "def", "return", "val", "class")
  val rare = Vector("id_1", "id_17", "id_333", "id_799", "fn7")

  def refQueries: Seq[(String, Query)] = {
    val rnd = new scala.util.Random(42)
    val single = (hot ++ rare).zipWithIndex.map { case (t, i) => s"single_$i" -> (TermQ(t): Query) }
    val ands = (0 until 10).map { i =>
      val ts = rnd.shuffle(hot ++ rare).take(2 + rnd.nextInt(3))
      s"and_$i" -> (BoolQ(must = ts.map(TermQ(_))): Query)
    }
    val ors = (0 until 10).map { i =>
      val ts = rnd.shuffle(hot ++ rare).take(2 + rnd.nextInt(5))
      val msm = if (i % 3 == 0) 2 else 1
      s"or_$i" -> (BoolQ(should = ts.map(TermQ(_)), minShouldMatch = msm): Query)
    }
    val mixed = (0 until 6).map { i =>
      val m = rnd.shuffle(hot).take(1).map(TermQ(_): Query)
      val s = rnd.shuffle(rare ++ hot).take(2).map(TermQ(_): Query)
      val n = if (i % 2 == 0) Seq(TermQ(rare(i % rare.size)): Query) else Nil
      s"mixed_$i" -> (BoolQ(must = m, should = s, mustNot = n): Query)
    }
    val mixedMsm = Seq(
      "mixedmsm_0" -> (BoolQ(must = Seq(TermQ("import")),
        should = Seq(TermQ("id_17"), TermQ("fn7"), TermQ("def")), minShouldMatch = 2): Query),
      "mixedmsm_1" -> (BoolQ(must = Seq(TermQ("val")), filter = Seq(TermQ("def")),
        should = Seq(TermQ("id_1"), TermQ("id_333")), minShouldMatch = 1): Query))
    val boosted = mixedMsm ++ Seq(
      "boost_0" -> (BoolQ(should = Seq(BoostQ(TermQ("import"), 2.5), TermQ("id_17"))): Query),
      "dismax_0" -> (DisjMaxQ(Seq(TermQ("import"), TermQ("def"), TermQ("id_1")), 0.3): Query),
      "const_0" -> (BoolQ(must = Seq(TermQ("def")), filter = Seq(TermQ("import"))): Query),
      "tis_0" -> (BoolQ(must = Seq(TermQ("val")), should = Seq(ConstQ(TermInSetQ(Set("id_1", "id_2", "id_3")), 0.5))): Query),
      // pruned conjunctions over compound scoring subs (no blocks of their
      // own): beside a term's windows, and alone (one window without end)
      "andcompound_0" -> (BoolQ(must = Seq(TermQ("import"),
        DisjMaxQ(Seq(TermQ("def"), TermQ("fn7")), 0.2),
        BoolQ(should = Seq(TermQ("val"), TermQ("return"))))): Query),
      "andcompound_1" -> (BoolQ(must = Seq(DisjMaxQ(Seq(TermQ("import"), TermQ("id_1")), 0.5),
        BoolQ(should = Seq(TermQ("def"), TermQ("fn7"))))): Query),
      // ReqOpt over a conjunction req, which stays ungated
      "mixed2must_0" -> (BoolQ(must = Seq(TermQ("def"), TermQ("val")),
        should = Seq(TermQ("id_17"), TermQ("fn7"), TermQ("return"))): Query)
    )
    single ++ ands ++ ors ++ mixed ++ boosted
  }

  /** The top-k of every query through every scoring entry point: search,
    * searchLocal, the top of searchWithTotal, one searchMany over the whole
    * set, and the top-k of the exhaustive scoreAll stream. */
  def topKEverywhere(qs: Seq[(String, Query)], k: Int): Seq[(String, String, Seq[(Long, Double)])] = {
    def pairs(hits: Seq[ScoredDoc]) = hits.map(h => (h.docId, h.score))
    val batch = searcher.searchMany(spark, qs, k).collect().groupBy(_.queryId)
    qs.flatMap { case (name, q) =>
      Seq(
        "search" -> pairs(searcher.search(spark, q, k).collect().toSeq),
        "searchLocal" -> pairs(searcher.searchLocal(spark, q, k).toSeq),
        "searchWithTotal" -> pairs(searcher.searchWithTotal(spark, q, k)._1.toSeq),
        "searchMany" -> batch.getOrElse(name, Array.empty[QueryHit]).toSeq.map(h => (h.docId, h.score)),
        "scoreAll" -> pairs(searcher.scoreAll(spark, q).collect().sortBy(h => (-h.score, h.docId)).take(k).toSeq)
      ).map { case (entry, got) => (name, entry, got) }
    }
  }

  test("rank identity: engine top-10 == exhaustive oracle on full reference query set") {
    val k = 10
    val oracle = refQueries.map { case (name, q) => name -> Oracle.topK(corpus, q, k) }.toMap
    topKEverywhere(refQueries, k).foreach { case (name, entry, got) =>
      val want = oracle(name)
      assert(got == want, s"query $name mismatch via $entry:\n got=$got\nwant=$want")
    }
  }

  test("block-max pruning safety: k=1 (max pruning pressure) rank-identical to oracle") {
    // k=1 drives the collector threshold to its highest values fastest,
    // maximizing both WAND and block-max-conjunction skip opportunities —
    // any unsafe bound shows up here first
    val oracle = refQueries.map { case (name, q) => name -> Oracle.topK(corpus, q, 1) }.toMap
    topKEverywhere(refQueries, 1).foreach { case (name, entry, got) =>
      val want = oracle(name)
      assert(got == want, s"k=1 query $name mismatch via $entry:\n got=$got\nwant=$want")
    }
  }

  test("k contract: k = 0 keeps no hits on every top-k entry point, k < 0 is rejected before any job") {
    val q: Query = BoolQ(should = Seq(TermQ("import"), TermQ("def")))
    assert(searcher.search(spark, q, 0).collect().isEmpty)
    assert(searcher.searchLocal(spark, q, 0).isEmpty)
    assert(searcher.searchLocal(spark, q, 0, maxLocalPostings = 1).isEmpty)
    assert(searcher.searchMany(spark, Seq("a" -> q, "b" -> TermQ("id_17")), 0).collect().isEmpty)
    val (hits, total) = searcher.searchWithTotal(spark, q, 0)
    assert(hits.isEmpty && total == TotalHits(Oracle.count(corpus, q), TotalHits.EQ),
      s"k = 0 still counts every match: $total")
    val negative: Seq[(String, () => Any)] = Seq(
      "search" -> (() => searcher.search(spark, q, -1)),
      "searchLocal" -> (() => searcher.searchLocal(spark, q, -1)),
      "searchWithTotal" -> (() => searcher.searchWithTotal(spark, q, -1)),
      "searchMany" -> (() => searcher.searchMany(spark, Seq("a" -> q), -1)))
    negative.foreach { case (entry, call) =>
      val (jobs, _) = SparkWork(spark)(intercept[IllegalArgumentException](call()))
      assert(jobs == 0, s"$entry started $jobs jobs before rejecting k = -1")
    }
  }

  test("searchWithTotal above the driver-merge bound merges in the exchange: same hits and total") {
    val q: Query = BoolQ(should = Seq(TermQ("import"), TermQ("id_17")))
    // segments x k just over the bound: the leaf blocks go through the
    // merge exchange, whose one merge task is the job's only result task
    val k = (IndexSearcher.DriverMergeMaxRows / index.manifest.segments.size + 1).toInt
    searcher.termStats(spark, q.terms) // the stats job is not what is measured
    var got: (Array[ScoredDoc], TotalHits) = null
    val work = SparkWork.measure(spark) { got = searcher.searchWithTotal(spark, q, k, Long.MaxValue) }
    assert(work.resultTasks == 1, s"the over-bound run merges in one exchange task ($work)")
    assert(got._1.toSeq.map(h => (h.docId, h.score)) == Oracle.topK(corpus, q, k))
    assert(got._2 == TotalHits(Oracle.count(corpus, q), TotalHits.EQ))
  }

  test("regex literal-prefix pushdown is SOUND (quantified/alternated prefixes)") {
    // "imports?" must match "import" — a naive startsWith("imports") pushdown
    // would filter the term out of the scan and silently drop its docs
    val qs: Seq[(String, Query)] = Seq(
      "optional_last" -> RegexpQ("imports?"),
      "star_last" -> RegexpQ("fn77*"),       // matches fn7 and fn77
      "alternation" -> RegexpQ("def|val"),   // top-level | => no prefix at all
      "brace_last" -> RegexpQ("fn7{0,1}"))   // matches fn and fn7
    qs.foreach { case (name, q) =>
      val got = searcher.search(spark, q, 20).collect().map(h => (h.docId, h.score)).toSeq
      assert(got == Oracle.topK(corpus, q, 20), s"$name")
      assert(searcher.count(spark, q) == Oracle.count(corpus, q), s"count $name")
    }
    // the prefix computation itself
    assert(RegexPred("imports?").literalPrefix == "import")
    assert(RegexPred("abc|xyz").literalPrefix == "")
    assert(RegexPred("a(b|c)d").literalPrefix == "a")
    assert(RegexPred("ab*").literalPrefix == "a")
    assert(RegexPred("ab+").literalPrefix == "ab") // + keeps >= 1 occurrence
    assert(RegexPred("""a\|b""").literalPrefix == "a") // escaped | is literal
  }

  test("orphan (uncommitted) postings/docmeta generations are invisible to readers") {
    import spark.implicits._
    // simulate a crashed append: posting rows under a gen BEYOND the manifest
    val before = searcher.search(spark, TermQ("import"), 10).collect().toSeq
    val orphanGen = index.manifest.generation + 9
    val junk = index.postings(spark).limit(3)
      .drop("gen") // partition col comes from the path
      .withColumn("docFreq", org.apache.spark.sql.functions.lit(999999))
    junk.write.parquet(s"${index.indexDir}/postings/gen=$orphanGen")
    spark.createDataset(Seq(graft.index.DocMeta(0, 0L, 77, "junk")))
      .write.parquet(s"${index.indexDir}/docmeta/gen=$orphanGen")
    try {
      val after = searcher.search(spark, TermQ("import"), 10).collect().toSeq
      assert(after == before, "orphan generation leaked into query results")
      assert(index.docmeta(spark).where($"sha" === "junk").isEmpty, "orphan docmeta leaked")
    } finally {
      graft.index.IndexIO.delete(spark, s"${index.indexDir}/postings/gen=$orphanGen")
      graft.index.IndexIO.delete(spark, s"${index.indexDir}/docmeta/gen=$orphanGen")
    }
  }

  test("TotalHits relation + hits-threshold (TopScoreDocCollector counting contract)") {
    val q: Query = BoolQ(should = Seq(TermQ("import"), TermQ("def"), TermQ("val")))
    val exact = Oracle.count(corpus, q)
    // threshold = MaxValue: pruning off, counting exact
    val (hits1, t1) = searcher.searchWithTotal(spark, q, 10, hitsThreshold = Long.MaxValue)
    assert(t1 == TotalHits(exact, TotalHits.EQ))
    assert(hits1.map(h => (h.docId, h.score)).toSeq == Oracle.topK(corpus, q, 10))
    // tiny threshold: WAND prunes, total becomes a lower bound, rank unchanged
    val (hits2, t2) = searcher.searchWithTotal(spark, q, 10, hitsThreshold = 10L)
    assert(t2.relation == TotalHits.GTE && t2.value <= exact && t2.value >= 10L)
    assert(hits2.map(h => (h.docId, h.score)).toSeq == Oracle.topK(corpus, q, 10))
    // a query with fewer matches than the threshold counts exactly
    val rareQ: Query = TermQ("id_17")
    val (_, t3) = searcher.searchWithTotal(spark, rareQ, 5, hitsThreshold = 1000000L)
    assert(t3 == TotalHits(Oracle.count(corpus, rareQ), TotalHits.EQ))
  }

  test("multi-term queries run distributed (MultiTermQ) and match the oracle") {
    val k = 15
    val qs: Seq[(String, Query)] = Seq(
      // a prefix matching ~800 dictionary terms: the round-1 driver-collect
      // path would have shipped them all in an isin closure; the rewrite now
      // keeps the expansion on the executors
      "broad_prefix" -> PrefixQ("id_"),
      "empty_prefix_all_terms" -> PrefixQ(""),
      "regex" -> RegexpQ("id_1.?"),
      "range" -> TermRangeQ(Some("fn1"), Some("fn5"), includeLo = true, includeHi = false),
      "mixed_scored" -> BoolQ(must = Seq(TermQ("import")), should = Seq(PrefixQ("id_7"))),
      "prefix_filter" -> BoolQ(must = Seq(TermQ("def")), filter = Seq(PrefixQ("fn"))),
      "fuzzy" -> FuzzyQ("fnx7", 1),
      "wildcard" -> WildcardQ("id_?7*"))
    qs.foreach { case (name, q) =>
      val got = searcher.search(spark, q, k).collect().map(s => (s.docId, s.score)).toSeq
      val want = Oracle.topK(corpus, q, k)
      assert(got == want, s"query $name mismatch:\n got=$got\nwant=$want")
      assert(searcher.count(spark, q) == Oracle.count(corpus, q), s"count $name mismatch")
    }
  }

  test("count matches oracle (incl. O(1) shortcuts)") {
    assert(searcher.count(spark, MatchAllQ) == corpus.size)
    assert(searcher.count(spark, TermQ("import")) == Oracle.count(corpus, TermQ("import")))
    val dismax = DisjMaxQ(Seq(TermQ("fn7"), TermQ("id_17"), TermQ("val")), 0.4)
    Seq(BoolQ(must = Seq(TermQ("def")), mustNot = Seq(TermQ("id_1"))), dismax,
      BoolQ(must = Seq(TermQ("import")), filter = Seq(dismax))).foreach { q =>
      assert(searcher.count(spark, q) == Oracle.count(corpus, q), s"q=$q")
    }
  }

  test("searchAfter deep paging: page2 == oracle ranks k..2k") {
    val q = BoolQ(should = Seq(TermQ("import"), TermQ("def")))
    val page1 = searcher.search(spark, q, 10).collect()
    val cursor = (page1.last.score, page1.last.docId)
    val page2 = searcher.search(spark, q, 10, after = Some(cursor)).collect()
      .map(s => (s.docId, s.score)).toSeq
    val want = Oracle.topK(corpus, q, 20).drop(10)
    assert(page2 == want)
  }

  test("parallelism/segmentation invariance: 1 vs 8 segments, same ranks+scores") {
    val alt = buildIndex("alt", BuildConfig(numSegments = 1, chunkDocs = 256))
    val altSearcher = new IndexSearcher(alt)
    refQueries.take(12).foreach { case (name, q) =>
      val a = searcher.search(spark, q, 10).collect().map(s => (s.docId, s.score)).toSeq
      val b = altSearcher.search(spark, q, 10).collect().map(s => (s.docId, s.score)).toSeq
      assert(a == b, s"query $name differs across segmentation")
    }
  }

  test("golden 0.13076457 end-to-end (memory/index_test.go:49-64)") {
    val idx = buildIndex("golden", BuildConfig(numSegments = 1, chunkDocs = 128),
      Seq((0L, "some text")))
    val s = new IndexSearcher(idx)
    val hits = s.search(spark, TermQ("text"), 2).collect()
    assert(hits.length == 1)
    assert(math.abs(hits(0).score - 0.13076457) < 1e-8)
    val hits2 = s.search(spark, TermQ("some"), 2).collect()
    assert(math.abs(hits2(0).score - 0.13076457) < 1e-8)
    assert(s.search(spark, TermQ("some text"), 2).collect().isEmpty)
  }

  test("README e2e fixture: 3 docs, MUST term, top-2, equal scores docID-asc (README.md:88-210)") {
    val idx = buildIndex("readme", BuildConfig(numSegments = 1, chunkDocs = 128),
      Seq((0L, "74 86 1237"), (1L, "74 123 789"), (2L, "741 861 12137")))
    val s = new IndexSearcher(idx)
    val hits = s.search(spark, BoolQ(must = Seq(TermQ("74"))), 2).collect()
    assert(hits.map(_.docId).toSeq == Seq(0L, 1L))
    assert(hits(0).score == hits(1).score)
  }

  test("sha256(content) per-row invariant survives the build (input_hint)") {
    import spark.implicits._
    val metas = index.docmeta(spark).select("docId", "sha").as[(Long, String)].collect().toMap
    assert(metas.size == corpus.size)
    corpus.foreach { case (id, text) =>
      assert(metas(id) == IndexBuilder.sha256Hex(text), s"sha mismatch doc $id")
    }
  }

  test("prefix query rewrites against the term dictionary") {
    val q = PrefixQ("id_1")
    val got = searcher.search(spark, q, 5).collect().map(_.docId).toSeq
    val want = Oracle.topK(corpus, q, 5).map(_._1)
    assert(got == want)
  }

  test("max 1024 clauses enforced (booleanquery.go maxClauseCount)") {
    val big = BoolQ(should = (0 to 1024).map(i => TermQ(s"t$i")))
    intercept[Query.TooManyClauses] { Query.normalize(big) }
    Query.normalize(BoolQ(should = (0 until 1024).map(i => TermQ(s"t$i")))) // at the limit: fine
  }

  test("normalize: reference BooleanQuery rewrites (booleanquery.go:75-160)") {
    assert(Query.normalize(BoolQ(must = Seq(TermQ("a")))) == TermQ("a"))
    assert(Query.normalize(BoolQ(mustNot = Seq(TermQ("a")))) == MatchNoneQ)
    assert(Query.normalize(BoolQ(must = Seq(TermQ("a")), mustNot = Seq(TermQ("a")))) == MatchNoneQ)
    assert(Query.normalize(BoolQ(should = Seq(TermQ("a"), TermQ("b")), minShouldMatch = 3)) == MatchNoneQ)
    assert(Query.normalize(BoostQ(BoostQ(TermQ("a"), 2), 3)) == BoostQ(TermQ("a"), 6))
    assert(Query.normalize(BoolQ(must = Seq(TermQ("a"), MatchNoneQ))) == MatchNoneQ)
  }

  test("regexp query: anchored full-match against the dictionary (automatonquery.go semantics)") {
    val q = RegexpQ("id_1[0-7]")
    val got = searcher.search(spark, q, 8).collect().map(_.docId).toSeq
    assert(got == Oracle.topK(corpus, q, 8).map(_._1))
  }

  test("term range query: byte-order dictionary range, constant score") {
    val q = TermRangeQ(Some("fn70"), Some("fn79"), includeHi = false)
    val got = searcher.search(spark, q, 12).collect().map(s => (s.docId, s.score)).toSeq
    assert(got == Oracle.topK(corpus, q, 12))
  }

  test("searchMany: batch run rank-identical to per-query search") {
    // the second batch mixes multi-term predicates (distributed expansion,
    // no stats of their own) with term queries
    val multiTerm: Seq[(String, Query)] = Seq(
      "mt_prefix" -> PrefixQ("id_7"),
      "mt_wildcard" -> WildcardQ("fn?"),
      "mt_scored" -> BoolQ(must = Seq(TermQ("import")), should = Seq(PrefixQ("id_1"))))
    Seq(refQueries.take(15), refQueries.take(4) ++ multiTerm).foreach { qs =>
      val batch = searcher.searchMany(spark, qs, 10).collect()
        .groupBy(_.queryId).view.mapValues(_.map(h => (h.docId, h.score)).toSeq).toMap
      qs.foreach { case (name, q) =>
        val single = searcher.search(spark, q, 10).collect().map(s => (s.docId, s.score)).toSeq
        assert(batch.getOrElse(name, Nil) == single, s"batch/single mismatch for $name")
        assert(single == Oracle.topK(corpus, q, 10), s"batch/oracle mismatch for $name")
      }
    }
  }

  test("searchMany: rows in batch order, each query as search returns it; the Dataset reruns") {
    // more queries than merge partitions, so each merge task owns a range;
    // some match nothing, and two share an id
    val n = 4 * spark.sparkContext.defaultParallelism + 1
    val qs: Seq[(String, Query)] = Seq.tabulate(n) { i =>
      val q: Query =
        if (i % 5 == 3) TermQ(s"no_such_term_$i")
        else refQueries(i % refQueries.size)._2
      (if (i == n - 1) "q0" else s"q$i") -> q
    }
    Seq(1, 10).foreach { k =>
      val batch = searcher.searchMany(spark, qs, k)
      val want = qs.flatMap { case (id, q) =>
        searcher.search(spark, q, k).collect().toSeq.map(h => QueryHit(id, h.docId, h.score))
      }
      val first = batch.collect().toSeq
      assert(first == want, s"k=$k: searchMany rows differ from the per-query searches")
      assert(batch.collect().toSeq == first, s"k=$k: a second collect of the same Dataset differs")
    }
  }

  test("sort-by-field top-k (TopFieldCollector ≡ orderBy().limit())") {
    import spark.implicits._
    val lens = spark.createDataset(corpus.map { case (id, t) => (id, t.length) })
      .toDF("doc_id", "text_len")
    val got = searcher.searchSortBy(spark, TermQ("id_17"), lens,
      Seq($"text_len".desc, $"doc_id".asc), 5)
      .select("doc_id", "text_len").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val matching = corpus.filter(_._2.split(" ").contains("id_17"))
      .map { case (id, t) => (id, t.length) }
      .sortBy { case (id, len) => (-len, id) }.take(5)
    assert(got == matching)
  }

  test("assumeContiguous zero-shuffle build: identical results to the shuffled path") {
    import spark.implicits._
    val dir = TestDirs.fresh("graft-contig")
    // range-partitioned + sorted input — the contract the flag asserts
    val df = spark.createDataset(corpus).repartitionByRange(4, $"_1")
      .sortWithinPartitions("_1").toDF("doc_id", "content")
    val idx = IndexBuilder.build(spark, df, "doc_id", "content", dir,
      BuildConfig(numSegments = 5, chunkDocs = 128, assumeContiguous = true))
    assert(idx.stats == index.stats, "collection stats must match the shuffled build")
    val s2 = new IndexSearcher(idx)
    refQueries.take(12).foreach { case (name, q) =>
      val a = searcher.search(spark, q, 10).collect().map(h => (h.docId, h.score)).toSeq
      val b = s2.search(spark, q, 10).collect().map(h => (h.docId, h.score)).toSeq
      assert(a == b, s"contiguous-path mismatch on $name")
    }
  }

  test("assumeContiguous with UNSORTED input fails the build (no corrupt commit)") {
    import spark.implicits._
    val dir = TestDirs.fresh("graft-contig-bad")
    val shuffled = spark.createDataset(scala.util.Random.shuffle(corpus)).coalesce(2)
      .toDF("doc_id", "content")
    val e = intercept[org.apache.spark.SparkException] {
      IndexBuilder.build(spark, shuffled, "doc_id", "content", dir,
        BuildConfig(numSegments = 5, chunkDocs = 128, assumeContiguous = true))
    }
    assert(e.getMessage != null)
    assert(graft.index.IndexIO.readManifest(spark, dir).isEmpty, "no manifest committed")
  }

  test("stageCheckpoint build: staged parquet path produces an identical index") {
    import spark.implicits._
    val dir = TestDirs.fresh("graft-ckpt")
    val df = spark.createDataset(corpus).toDF("doc_id", "content")
    val idx = IndexBuilder.build(spark, df, "doc_id", "content", dir,
      BuildConfig(numSegments = 3, chunkDocs = 128, stageCheckpoint = true))
    assert(idx.stats == index.stats.copy()) // same corpus => same global stats
    val s = new IndexSearcher(idx)
    refQueries.take(6).foreach { case (name, q) =>
      val a = s.search(spark, q, 10).collect().map(h => (h.docId, h.score)).toSeq
      val b = searcher.search(spark, q, 10).collect().map(h => (h.docId, h.score)).toSeq
      assert(a == b, s"checkpointed build differs for $name")
    }
    assert(new java.io.File(s"$dir/staging").exists(), "staging parquet persisted for resume")
  }

  test("resume from staged chunks: second stageCheckpoint build reuses staging") {
    import spark.implicits._
    val dir = TestDirs.fresh("graft-stagere")
    val df = spark.createDataset(corpus).toDF("doc_id", "content")
    val cfg = BuildConfig(numSegments = 3, chunkDocs = 128, stageCheckpoint = true)
    IndexBuilder.build(spark, df, "doc_id", "content", dir, cfg, inputPath = "corpus800")
    val stagingFile = new java.io.File(s"$dir/staging/gen=1")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    val mtime = stagingFile.lastModified()
    Thread.sleep(1100)
    // simulate a failed later phase: manifest removed, staging intact
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/manifest"))
    val idx2 = IndexBuilder.build(spark, df, "doc_id", "content", dir, cfg, inputPath = "corpus800")
    assert(stagingFile.lastModified() == mtime, "staging was rewritten instead of reused")
    assert(idx2.stats == index.stats)
  }

  test("fetchDocs: stored-field fetch-back (IndexReader.Document analogue)") {
    import spark.implicits._
    val docsDf = spark.createDataset(corpus).toDF("id", "content")
    val hits = searcher.search(spark, TermQ("id_17"), 5)
    val fetched = searcher.fetchDocs(spark, hits, docsDf, "id").collect()
    assert(fetched.length == hits.collect().length)
    fetched.foreach { r =>
      assert(r.getAs[String]("content").split(" ").contains("id_17"))
    }
  }

  test("MemoryIndex: golden scores + agreement with distributed engine on 1-doc corpora") {
    import graft.memory.MemoryIndex
    val mi = new MemoryIndex().addField("some text")
    assert(math.abs(mi.search(TermQ("text")) - 0.13076457) < 1e-8)
    assert(math.abs(mi.search(TermQ("some")) - 0.13076457) < 1e-8)
    assert(mi.search(TermQ("missing")) == 0.0)
    assert(mi.search(BoolQ(must = Seq(TermQ("some"), TermQ("text")))) ==
      mi.search(TermQ("some")) + mi.search(TermQ("text")))
    // distributed engine must agree on the same 1-doc corpus
    val idx = buildIndex("memparity", BuildConfig(numSegments = 1, chunkDocs = 128),
      Seq((0L, "slow merge join slow")))
    val s = new IndexSearcher(idx)
    val mi2 = new MemoryIndex().addField("slow merge join slow")
    Seq(TermQ("slow"): Query, BoolQ(must = Seq(TermQ("merge")), should = Seq(TermQ("slow"))),
        PrefixQ("jo"): Query).foreach { q =>
      val dist = s.search(spark, q, 1).collect().headOption.map(_.score).getOrElse(0.0)
      assert(dist == mi2.search(q), s"MemoryIndex disagrees on $q")
    }
  }

  test("searchLocal: in-process fast path rank-identical to distributed search") {
    refQueries.take(12).foreach { case (name, q) =>
      val local = searcher.searchLocal(spark, q, 10).map(h => (h.docId, h.score)).toSeq
      val dist = searcher.search(spark, q, 10).collect().map(h => (h.docId, h.score)).toSeq
      assert(local == dist, s"searchLocal differs for $name")
    }
    // over-budget queries fall back to the distributed path transparently
    val q = BoolQ(should = Seq(TermQ("import"), TermQ("def")))
    val local = searcher.searchLocal(spark, q, 10, maxLocalPostings = 1).map(h => (h.docId, h.score)).toSeq
    assert(local == searcher.search(spark, q, 10).collect().map(h => (h.docId, h.score)).toSeq)
  }

  test("driver contract smoke: SparkEntry.entry has rows; every oracle key has a query") {
    assert(SparkEntry.entry(spark).count() > 0)
    // every oracle has a query; queries without an oracle (non-SQL-
    // expressible ops, e.g. IVF) get the driver's weaker rows-only check
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly.subsetOf(Set("q39_ann_ivf")), s"unexpected oracle-less queries: $rowsOnly")
  }

  test("resume: buildOrLoad with matching fingerprint skips rebuild") {
    import spark.implicits._
    val dir = TestDirs.fresh("graft-resume")
    val df = spark.createDataset(corpus.take(50)).toDF("doc_id", "content")
    val i1 = IndexBuilder.build(spark, df, "doc_id", "content", dir, BuildConfig(numSegments = 2), inputPath = "corpus50")
    val i2 = IndexBuilder.buildOrLoad(spark, df, "doc_id", "content", dir, BuildConfig(numSegments = 2), inputPath = "corpus50")
    assert(i2.manifest.generation == i1.manifest.generation) // loaded, not rebuilt
    assert(i2.manifest.stats == i1.manifest.stats)
  }
}
