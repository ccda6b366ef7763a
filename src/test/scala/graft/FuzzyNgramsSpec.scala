package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions.col

import graft.analysis.Analyzer
import graft.index.{BuildConfig, IndexBuilder}
import graft.search._

/** Trigram-sidecar fuzzy candidate generation: the gram-count filter's
  * soundness (mutation property), exact result parity with the scan-filter
  * path, the In(gram)+termLen pushdown plan shape, and the
  * generation-keyed sidecar lifecycle across appends.
  */
class FuzzyNgramsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def naiveLev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length) {
      val cost = if (a(i - 1) == b(j - 1)) 0 else 1
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1), d(i - 1)(j - 1) + cost)
    }
    d(a.length)(b.length)
  }

  // One random code-point edit (substitute / insert / delete) — the
  // mutation the candidate rule must survive.
  private def mutate(s: String, rnd: scala.util.Random, alpha: String): String = {
    val cs = s.toVector
    rnd.nextInt(3) match {
      case 0 if cs.nonEmpty => // substitute
        val i = rnd.nextInt(cs.length)
        cs.updated(i, alpha(rnd.nextInt(alpha.length))).mkString
      case 1 => // insert
        val i = rnd.nextInt(cs.length + 1)
        (cs.take(i) :+ alpha(rnd.nextInt(alpha.length))).++(cs.drop(i)).mkString
      case _ if cs.nonEmpty => // delete
        val i = rnd.nextInt(cs.length)
        (cs.take(i) ++ cs.drop(i + 1)).mkString
      case _ => s + alpha(rnd.nextInt(alpha.length))
    }
  }

  test("candidate rule is SOUND under random edits: shared grams >= |G(q)| - N*e") {
    val rnd = new scala.util.Random(41)
    val alpha = "abcdefg"
    (1 to 800).foreach { _ =>
      val q = Seq.fill(1 + rnd.nextInt(10))(alpha(rnd.nextInt(alpha.length))).mkString
      val e = rnd.nextInt(3) // 0..2 edits applied
      var t = q
      (1 to e).foreach(_ => t = mutate(t, rnd, alpha))
      // the mutated term is within e edits by construction; the distinct
      // shared-gram count must clear the filter threshold
      val gq = FuzzyNgrams.grams(q).toSet
      val gt = FuzzyNgrams.grams(t).toSet
      val shared = gq.intersect(gt).size
      assert(shared >= gq.size - FuzzyNgrams.N * e,
        s"q=$q t=$t e=$e |G(q)|=${gq.size} shared=$shared")
    }
  }

  test("grams are distinct, padded, code-point n-grams") {
    val g = FuzzyNgrams.grams("ab")
    // padded ^^ab$$ -> ^^a ^ab ab$ b$$ (4 windows, all distinct)
    assert(g.length == 4)
    assert(g.toSet.size == g.length)
    // repeated-content string: distinct set collapses duplicates
    val g2 = FuzzyNgrams.grams("aaaa")
    assert(g2.toSet.size == g2.length)
    // supplementary-plane code point counts as ONE symbol per window
    val smile = new String(Character.toChars(0x1F600))
    val g3 = FuzzyNgrams.grams(smile + "ab")
    assert(g3.length == 5) // cpLen 3 + N - 1 windows, all distinct here
  }

  private val docs: Seq[(Long, String)] = (0L until 200L).map { i =>
    val words = Seq("spark", "spork", "stark", "shark", "sparky", "park", "apache", s"w${i % 9}")
    (i, (0 to (i % 4).toInt).map(j => words(((i + j) % words.size).toInt)).mkString(" ") + s" uniq$i")
  }

  test("seek path == scan path exactly (hits, scores, order), incl. fallbacks") {
    val dir = TestDirs.fresh("graft-fngram")
    val idx = IndexBuilder.build(spark, docs.toDF("doc_id", "text"), "doc_id", "text", dir,
      BuildConfig(numSegments = 2, chunkDocs = 128))
    val s = new IndexSearcher(idx)
    val ng = FuzzyNgrams.buildOrLoad(spark, idx)
    assert(ng.generation == idx.manifest.generation)

    def rows(df: org.apache.spark.sql.Dataset[ScoredDoc]) =
      df.collect().map(h => (h.docId, h.score)).toSeq

    for (e <- Seq(1, 2)) {
      val scan = rows(s.search(spark, FuzzyQ("spark", e), 300))
      val seek = rows(s.searchFuzzySeek(spark, FuzzyQ("spark", e), 300, ng))
      assert(seek == scan, s"maxEdits=$e")
      assert(seek.nonEmpty)
    }
    // short term: threshold <= 0 -> candidates() is None -> scan fallback
    assert(FuzzyNgrams.grams("w3").length - FuzzyNgrams.N * 2 <= 0)
    val shortScan = rows(s.search(spark, FuzzyQ("w3", 2), 300))
    val shortSeek = rows(s.searchFuzzySeek(spark, FuzzyQ("w3", 2), 300, ng))
    assert(shortSeek == shortScan && shortSeek.nonEmpty)
    // cap exceeded: audited fallback, results still exact
    val capped = rows(s.searchFuzzySeek(spark, FuzzyQ("spark", 2), 300, ng, maxExpansions = 1))
    assert(capped == rows(s.search(spark, FuzzyQ("spark", 2), 300)))
    // candidates themselves are exactly the brute-force dictionary slice
    val a = Analyzer.standard
    val dict = docs.flatMap { case (_, t) => a.terms(t) }.distinct
    val wantTerms = dict.filter(w => naiveLev("spark", w) <= 2).toSet
    val gotTerms = ng.candidates(spark, "spark", 2).get.collect().map(_.getString(0)).toSet
    assert(gotTerms == wantTerms)
  }

  test("gram IN (...) and termLen window both reach the sidecar scan's PushedFilters") {
    val dir = TestDirs.fresh("graft-fngram-plan")
    val idx = IndexBuilder.build(spark, docs.toDF("doc_id", "text"), "doc_id", "text", dir,
      BuildConfig(numSegments = 2, chunkDocs = 128))
    val ng = FuzzyNgrams.buildOrLoad(spark, idx)
    // the plan STRING truncates long PushedFilters lists — inspect the
    // scan node's pushed filters directly
    val scans = ng.candidateFrame(spark, "spark", 2).queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanLike => f
    }
    assert(scans.size == 1)
    val pushed = scans.head.metadata("PushedFilters")
    assert(pushed.contains("In(gram"), s"expected In(gram, ...) pushdown in: $pushed")
    assert(pushed.contains("GreaterThanOrEqual(termLen") &&
      pushed.contains("LessThanOrEqual(termLen"),
      s"expected termLen window pushdown in: $pushed")
  }

  test("sidecar is generation-keyed: appends invalidate, merges reap dead versions") {
    val dir = TestDirs.fresh("graft-fngram-gen")
    val idx = IndexBuilder.build(spark, docs.toDF("doc_id", "text"), "doc_id", "text", dir,
      BuildConfig(numSegments = 2, chunkDocs = 128))
    val s = new IndexSearcher(idx)
    val ng = FuzzyNgrams.buildOrLoad(spark, idx)
    // loading again without an append is a pure metadata read (same dir)
    assert(FuzzyNgrams.buildOrLoad(spark, idx).dataDir == ng.dataDir)

    // append a doc carrying a NEW dictionary term near the query term
    val newDocs = Seq((idx.nextDocBase, "spars spars")).toDF("doc_id", "text")
    val idx2 = IndexBuilder.append(spark, newDocs, "doc_id", "text", dir,
      BuildConfig(numSegments = 2, chunkDocs = 128))
    assert(idx2.manifest.generation > idx.manifest.generation)
    val s2 = new IndexSearcher(idx2)
    // the stale sidecar refuses to serve the new index
    intercept[IllegalArgumentException] {
      s2.searchFuzzySeek(spark, FuzzyQ("spark", 1), 10, ng)
    }
    // rebuilding sees the appended term; the OLD sidecar version is KEPT —
    // its generation is still live (a concurrent reader holding the gen-1
    // manifest is still valid after a plain append, and deleting the
    // sidecar under it would crash that reader mid-query instead of the
    // clean generation-mismatch error above)
    val ng2 = FuzzyNgrams.buildOrLoad(spark, idx2)
    assert(ng2.generation == idx2.manifest.generation)
    val seek = s2.searchFuzzySeek(spark, FuzzyQ("spark", 1), 300, ng2).collect().map(_.docId).toSet
    assert(seek.contains(idx.nextDocBase)) // 'spars' is 1 edit from 'spark'
    val scan = s2.search(spark, FuzzyQ("spark", 1), 300).collect().map(_.docId).toSet
    assert(seek == scan)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def versions(): Set[String] = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/fuzzy_ngrams"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(versions() ==
      Set(new java.io.File(ng.dataDir).getName, new java.io.File(ng2.dataDir).getName))

    // a forceMerge retires every old generation — the next buildOrLoad
    // reaps their sidecars
    val idx3 = graft.index.IndexOps.forceMerge(spark, dir)
    assert(idx3.manifest.liveGens == Seq(idx3.manifest.generation))
    val ng3 = FuzzyNgrams.buildOrLoad(spark, idx3)
    assert(ng3.generation == idx3.manifest.generation)
    assert(versions() == Set(new java.io.File(ng3.dataDir).getName))
    val s3 = new IndexSearcher(idx3)
    val seek3 = s3.searchFuzzySeek(spark, FuzzyQ("spark", 1), 300, ng3).collect().map(_.docId).toSet
    assert(seek3 == s3.search(spark, FuzzyQ("spark", 1), 300).collect().map(_.docId).toSet)
  }
}
