package perfbench

import graft.index.IndexBuilder
import graft.search._

/** Self-tests of the benchmark's own machinery, on tiny inputs:
  *  - the generator is a pure function of the seed;
  *  - the oracle comparison turns a one-ulp score change or a docId swap
  *    into a lower correct share;
  *  - traced spans nest, and per-span self times plus children add up to
  *    each op's wall time, with Spark jobs attributed to the ops.
  */
object SelfTest {
  def run(a: Args): String = {
    val r = new Run(a)
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
    def test(name: String)(body: => Boolean): Unit = {
      val ok = try body catch { case scala.util.control.NonFatal(e) => r.log(s"$name: $e"); false }
      r.log(s"selftest $name: ${if (ok) "ok" else "FAILED"}")
      results(name) = ok
    }
    def digest(seed: Long): String = {
      val c = Gen.corpus(seed, 0, 500)
      Gen.digest(c, Seq(Gen.interactiveLog(seed, c, 200), Gen.batchLog(seed, 200)), Gen.script(seed, 4096, 1024))
    }
    test("generator: same seed, same bytes")(digest(a.seed) == digest(a.seed))
    test("generator: other seed, other bytes")(digest(a.seed) != digest(a.seed + 1))

    val corpus = Gen.corpus(a.seed, 0, 2000)
    val dir = r.freshDir("selftest")
    IndexBuilder.build(r.spark, r.corpusDf(corpus), "doc_id", "text", dir, Sizes.BuildCfg.copy(storePositions = true))
    val (_, searcher, _) = r.open(dir, TermQ("x"))
    val queries = Gen.interactiveLog(a.seed, corpus, 40).map(_.query)
    val answers = queries.map(q => q -> searcher.search(r.spark, q, Sizes.K).collect().toSeq)
      .filter { case (_, h) => h.size >= 2 && h(0).docId != h(1).docId }.take(4)
    def share(perturb: Seq[ScoredDoc] => Seq[ScoredDoc]): Double =
      answers.count { case (q, h) => Stats.same(perturb(h), r.oracle(searcher, q).toSeq) }.toDouble / answers.size
    test("oracle: engine answers match")(answers.nonEmpty && share(identity) == 1.0)
    test("oracle: one ulp lowers the share")(
      share(h => h.updated(0, h(0).copy(score = Math.nextUp(h(0).score)))) < 1.0)
    test("oracle: swapped docIds lower the share")(
      share(h => h.updated(0, h(1).copy(score = h(0).score)).updated(1, h(0).copy(score = h(1).score))) < 1.0)

    val tr = r.tr
    tr.start()
    queries.take(6).foreach { q =>
      tr.span("op") {
        tr.span("search")(searcher.search(r.spark, q, Sizes.K).collect())
        tr.span("outer")(tr.span("inner")(searcher.searchLocal(r.spark, q, Sizes.K)))
      }
    }
    tr.drain()
    val ops = tr.ops(Set("op"))
    test("trace: spans nest inside their parents") {
      val byId = tr.spans.map(s => s.id -> s).toMap
      tr.spans.forall(s => s.parent < 0 || {
        val p = byId(s.parent); p.startNs <= s.startNs && s.endNs <= p.endNs && p.op == s.op
      })
    }
    test("trace: self times plus children cover each op") {
      ops.nonEmpty && ops.forall { o =>
        math.abs(tr.spansOf(o).map(tr.selfNs).sum - (o.endNs - o.startNs)) < 1.0
      }
    }
    test("trace: Spark jobs are attributed to ops")(ops.forall(o => tr.spark(o).jobs > 0))
    r.spark.stop()
    val failed = results.count(!_._2)
    Json.result(failed == 0, results.size, failed, Map.empty, Map.empty)
  }
}
