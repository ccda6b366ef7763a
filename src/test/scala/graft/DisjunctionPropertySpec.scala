package graft

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Shrink, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{BuildConfig, IndexBuilder}
import graft.search._

/** Generated differential testing of the disjunction layer: random query
  * trees of nested `BoolQ` (must/should/filter/mustNot, msm 0–4), `DisjMaxQ`,
  * `BoostQ`, `ConstQ` and multi-term unions of more than 16 terms, checked
  * on every top-k entry point and on `count` against the exhaustive
  * [[Oracle]]. The generator runs under a fixed seed; a failure is shrunk
  * to a minimal tree, which is then kept in [[DisjunctionPropertySpec.regressions]].
  */
object DisjunctionPropertySpec {
  val terms: Vector[String] = Vector("import", "def", "return", "val", "class", "public", "static", "int",
    "fn3", "fn7", "fn42", "id_1", "id_17", "id_333", "id_799")
  // TestCorpus has fn0..fn79 and id_0..id_799: every prefix here expands to
  // more than 16 terms
  val prefixes: Vector[String] = Vector("fn", "id_1", "id_2", "id_3", "id_")
  val vocabulary: Vector[String] = Vector.tabulate(80)(i => s"fn$i") ++ Vector.tabulate(120)(i => s"id_${i * 7}")

  val term: Gen[Query] = Gen.oneOf(terms).map(TermQ(_))
  val multiTerm: Gen[Query] = Gen.oneOf(
    Gen.oneOf(prefixes).map(PrefixQ(_)),
    Gen.choose(17, 40).flatMap(n => Gen.pick(n, vocabulary)).map(ts => TermInSetQ(ts.toSet)))
  // powers of two: nested boosts multiply exactly in any order
  val boost: Gen[Double] = Gen.oneOf(0.5, 2.0, 4.0)

  def clauses(depth: Int, max: Int): Gen[Seq[Query]] =
    Gen.choose(0, max).flatMap(Gen.listOfN(_, tree(depth)))

  def bool(depth: Int): Gen[BoolQ] = for {
    must <- clauses(depth, 2)
    should <- clauses(depth, 5)
    filter <- clauses(depth, 1)
    mustNot <- clauses(depth, 1)
    msm <- Gen.frequency(4 -> Gen.choose(0, math.min(4, should.size)), 1 -> Gen.choose(0, 4))
  } yield BoolQ(must, should, filter, mustNot, msm)

  def dismax(depth: Int): Gen[DisjMaxQ] = for {
    n <- Gen.choose(2, 4)
    qs <- Gen.listOfN(n, tree(depth))
    tb <- Gen.oneOf(0.0, 0.3, 1.0)
  } yield DisjMaxQ(qs, tb)

  def tree(depth: Int): Gen[Query] =
    if (depth <= 0) Gen.frequency(3 -> term, 1 -> multiTerm)
    else Gen.frequency(
      3 -> term, 1 -> multiTerm,
      3 -> Gen.lzy(bool(depth - 1)), 1 -> Gen.lzy(dismax(depth - 1)),
      1 -> Gen.lzy(tree(depth - 1).flatMap(q => boost.map(BoostQ(q, _)))),
      1 -> Gen.lzy(tree(depth - 1).flatMap(q => boost.map(ConstQ(q, _)))))

  /** Roots: any tree, a scoring bool (whose union is pruned by the
    * collector), and the constant-score roots over a union. */
  val root: Gen[Query] = Gen.frequency(
    5 -> tree(2),
    2 -> bool(1),
    1 -> dismax(1).flatMap(d => boost.map(ConstQ(d, _))),
    1 -> bool(1).map(b => b.copy(must = Nil, filter = Nil)).flatMap(b => boost.map(ConstQ(b, _))))

  /** Smaller trees first: a clause alone, a clause dropped, a lower msm, a
    * child shrunk in place. */
  def shrinkQuery(q: Query): LazyList[Query] = {
    def drops(qs: Seq[Query]): LazyList[Seq[Query]] =
      LazyList.from(qs.indices).map(i => qs.patch(i, Nil, 1))
    def inPlace(qs: Seq[Query]): LazyList[Seq[Query]] =
      LazyList.from(qs.indices).flatMap(i => shrinkQuery(qs(i)).map(c => qs.updated(i, c)))
    q match {
      case b @ BoolQ(must, should, filter, mustNot, msm) =>
        LazyList.from(must ++ should ++ filter ++ mustNot) #:::
          LazyList.from(if (msm > 0) Some(b.copy(minShouldMatch = msm - 1)) else None) #:::
          drops(must).map(c => b.copy(must = c)) #::: drops(should).map(c => b.copy(should = c)) #:::
          drops(filter).map(c => b.copy(filter = c)) #::: drops(mustNot).map(c => b.copy(mustNot = c)) #:::
          inPlace(must).map(c => b.copy(must = c)) #::: inPlace(should).map(c => b.copy(should = c)) #:::
          inPlace(filter).map(c => b.copy(filter = c)) #::: inPlace(mustNot).map(c => b.copy(mustNot = c))
      case d @ DisjMaxQ(qs, _) =>
        LazyList.from(qs) #::: drops(qs).map(c => d.copy(qs = c)) #::: inPlace(qs).map(c => d.copy(qs = c))
      case BoostQ(sub, b) => sub #:: shrinkQuery(sub).map(BoostQ(_, b))
      case ConstQ(sub, b) => sub #:: shrinkQuery(sub).map(ConstQ(_, b))
      case TermInSetQ(ts) if ts.size > 1 =>
        TermQ(ts.min) #:: TermInSetQ(ts.toSeq.sorted.take(ts.size / 2).toSet) #:: LazyList.empty
      case _: PrefixQ => LazyList(TermQ("fn3"))
      case _ => LazyList.empty
    }
  }

  /** Named cases: the shapes the generator must cover, and each shrunk
    * counterexample it has found (`msm2_two_terms` is the one it shrank
    * to against a pivot that ignored msm). */
  val regressions: Seq[(String, Query)] = Seq(
    "msm2_two_terms" -> BoolQ(should = Seq(TermQ("return"), TermQ("fn13")), minShouldMatch = 2),
    "const_dismax_root" -> ConstQ(DisjMaxQ(Seq(TermQ("import"), PrefixQ("id_1"), TermQ("fn7")), 0.3), 2.0),
    "const_bool_msm_root" -> ConstQ(BoolQ(should = Seq(TermQ("def"), PrefixQ("fn"), TermQ("id_17")),
      minShouldMatch = 2), 4.0),
    "root_msm3_prunes" -> BoolQ(should = Seq(TermQ("import"), TermQ("def"), TermQ("val"), TermQ("fn42")),
      minShouldMatch = 3),
    "msm_over_multiterm" -> BoolQ(should = Seq(PrefixQ("id_"), TermInSetQ(vocabulary.take(20).toSet),
      TermQ("return")), minShouldMatch = 2, mustNot = Seq(PrefixQ("fn"))),
    // a live threshold on the non-scoring dismax below a ConstQ root
    "const_dismax_two_terms" -> ConstQ(DisjMaxQ(Seq(TermQ("fn3"), TermQ("int")), 0.3), 2.0))
}

class DisjunctionPropertySpec extends AnyFunSuite {
  import DisjunctionPropertySpec._

  lazy val spark: SparkSession = TestSpark.spark
  val corpus: Vector[(Long, String)] = TestCorpus.generate(800, seed = 42)

  lazy val searcher: IndexSearcher = {
    import spark.implicits._
    val df = spark.createDataset(corpus).toDF("doc_id", "content")
    new IndexSearcher(IndexBuilder.build(spark, df, "doc_id", "content",
      TestDirs.fresh("graft-disjprop"), BuildConfig(numSegments = 3, chunkDocs = 128)))
  }

  private lazy val (oracleDocs, oracleCtx, _) = Oracle.build(corpus)

  private def oracleTopK(q: Query, k: Int): Seq[(Long, Double)] =
    oracleDocs.toSeq.flatMap { case (id, (tf, len)) =>
      Oracle.eval(q, tf, len & 0xFF, oracleCtx, 1.0, scoring = true).map(s => (id, s))
    }.sortBy { case (id, s) => (-s, id) }.take(k)

  private def oracleCount(q: Query): Long =
    oracleDocs.count { case (_, (tf, len)) =>
      Oracle.eval(q, tf, len & 0xFF, oracleCtx, 1.0, scoring = false).isDefined }.toLong

  /** Every disagreement of `q` with the oracle: each top-k entry point at
    * k = 1 and 10, the scoreAll top-k, `count` and the total of
    * searchWithTotal. */
  def mismatches(q: Query): Seq[String] = {
    def pairs(hits: Seq[ScoredDoc]) = hits.map(h => (h.docId, h.score))
    val all = pairs(searcher.scoreAll(spark, q).collect().toSeq).sortBy { case (d, s) => (-s, d) }
    val count = oracleCount(q)
    val counted = Seq("count" -> (searcher.count(spark, q) == count))
    val ranked = Seq(1, 10).flatMap { k =>
      val want = oracleTopK(q, k)
      val (withTotal, total) = searcher.searchWithTotal(spark, q, k)
      Seq(
        s"search k=$k" -> pairs(searcher.search(spark, q, k).collect().toSeq),
        s"searchLocal k=$k" -> pairs(searcher.searchLocal(spark, q, k).toSeq),
        s"searchWithTotal k=$k" -> pairs(withTotal.toSeq),
        s"searchMany k=$k" -> searcher.searchMany(spark, Seq("q" -> q), k).collect().toSeq
          .map(h => (h.docId, h.score)),
        s"scoreAll k=$k" -> all.take(k)
      ).map { case (entry, got) => entry -> (got == want) } :+
        (s"total k=$k" -> (if (total.relation == TotalHits.EQ) total.value == count else total.value <= count))
    }
    (counted ++ ranked).collect { case (entry, false) => entry }
  }

  test("generated disjunction trees: every entry point == oracle (fixed seed)") {
    val prop = Prop.forAll(root) { q =>
      val bad = mismatches(q)
      Prop(bad.isEmpty) :| s"$q disagrees via ${bad.mkString(", ")}"
    }(identity, Shrink.withLazyList(shrinkQuery), q => org.scalacheck.util.Pretty(_ => q.toString))
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(40).withWorkers(1)
      .withInitialSeed(Seed(20261020L)), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  test("named disjunction cases and shrunk counterexamples == oracle") {
    // every case runs, so a failure names all the cases that disagree
    val failed = regressions.flatMap { case (name, q) =>
      val bad = mismatches(q)
      if (bad.isEmpty) None else Some(s"$name disagrees via ${bad.mkString(", ")}")
    }
    assert(failed.isEmpty, failed.mkString("\n"))
  }
}
