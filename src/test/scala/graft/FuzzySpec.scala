package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.index.{BuildConfig, IndexBuilder}
import graft.search._

/** FuzzyQuery: banded-DP edit distance vs a naive reference, engine hits vs
  * a brute-force dictionary filter, and MemoryIndex agreement.
  */
class FuzzySpec extends AnyFunSuite {
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

  test("FuzzyPred banded DP == naive Levenshtein on random strings (all cut-offs)") {
    val rnd = new scala.util.Random(7)
    val alpha = "abcde"
    (1 to 500).foreach { _ =>
      val a = Seq.fill(rnd.nextInt(8))(alpha(rnd.nextInt(alpha.length))).mkString
      val b = Seq.fill(rnd.nextInt(8))(alpha(rnd.nextInt(alpha.length))).mkString
      for (e <- 0 to 3)
        assert(FuzzyPred(a, e).matches(b) == (naiveLev(a, b) <= e), s"a=$a b=$b e=$e")
    }
  }

  private val docs: Seq[(Long, String)] = (0L until 200L).map { i =>
    val words = Seq("spark", "spork", "stark", "shark", "sparky", "park", "apache", s"w${i % 9}")
    (i, (0 to (i % 4).toInt).map(j => words(((i + j) % words.size).toInt)).mkString(" ") + s" uniq$i")
  }

  test("fuzzy query == brute-force dictionary filter (distributed + searchLocal unsupported path)") {
    val dir = TestDirs.fresh("graft-fuzzy")
    val idx = IndexBuilder.build(spark, docs.toDF("doc_id", "text"), "doc_id", "text", dir,
      BuildConfig(numSegments = 2, chunkDocs = 128))
    val s = new IndexSearcher(idx)
    val a = Analyzer.standard
    for (e <- Seq(1, 2)) {
      val got = s.search(spark, FuzzyQ("spark", e), 300).collect().map(_.docId).toSet
      val want = docs.filter { case (_, t) =>
        a.terms(t).exists(w => naiveLev("spark", w) <= e)
      }.map(_._1).toSet
      assert(got == want, s"maxEdits=$e")
      assert(got.nonEmpty)
    }
    // edit distance 1 must include spork/stark/shark docs but not 'park'
    // (distance 2: deletion + ... actually park is distance 1: delete 's')
    assert(FuzzyPred("spark", 1).matches("park"))
    assert(!FuzzyPred("spark", 1).matches("apache"))
  }

  test("fuzzy length window PUSHES DOWN via the termLen column (dictionary-scale pruning)") {
    val dir = TestDirs.fresh("graft-fuzzy-plan")
    val idx = IndexBuilder.build(spark, docs.toDF("doc_id", "text"), "doc_id", "text", dir,
      BuildConfig(numSegments = 2, chunkDocs = 128))
    val s = new IndexSearcher(idx)
    // the posting scan of a pure fuzzy query must carry termLen range
    // filters in PushedFilters — a length(term) expression would evaluate
    // post-scan on every dictionary row; the stored column turns the sound
    // length window into parquet row-group pruning (Lucene gets the
    // equivalent from its FST walk)
    import org.apache.spark.sql.functions.col
    val cpLen = "spark".length
    val scan = idx.postings(spark)
      .where(col("termLen").between(cpLen - 2, cpLen + 2) &&
        org.apache.spark.sql.functions.levenshtein(col("term"),
          org.apache.spark.sql.functions.lit("spark")) <= 2)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(termLen") && plan.contains("LessThanOrEqual(termLen"),
      s"expected termLen range pushdown in:\n$plan")
    // and the rewritten engine path stays correct with the new filter shape
    val got = s.search(spark, FuzzyQ("spark", 2), 300).collect().map(_.docId).toSet
    val a = Analyzer.standard
    val want = docs.filter { case (_, t) =>
      a.terms(t).exists(w => naiveLev("spark", w) <= 2)
    }.map(_._1).toSet
    assert(got == want)
  }

  test("MemoryIndex fuzzy agrees with the predicate") {
    val mi = new graft.memory.MemoryIndex().addField("the spork is strong")
    assert(mi.searchOpt(FuzzyQ("spark", 1)).isDefined)
    assert(mi.searchOpt(FuzzyQ("spark", 0)).isEmpty)
    assert(mi.search(FuzzyQ("spork", 0)) == 1.0)
  }
}
