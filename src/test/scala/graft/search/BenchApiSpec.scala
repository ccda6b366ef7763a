package graft.search

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.{TestCorpus, TestDirs, TestSpark}
import graft.index.{BuildConfig, IndexBuilder, TermPostings}

/** The engine API the benchmark package (`perfbench/src`) compiles
  * against, called with the argument shapes it uses, so a change that
  * breaks one of them fails `Test/compile` rather than the benchmark build.
  * The benchmark's layer-by-layer replay (rewrite, term stats, one reader
  * per posting row, one leaf per segment under one run id per query, take
  * k) must equal the engine's top-k. */
class BenchApiSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val corpus: Vector[(Long, String)] = TestCorpus.generate(300, seed = 5)

  test("benchmark API shapes: the replayed top-k equals search and searchLocal") {
    import spark.implicits._
    val dir = TestDirs.fresh("graft-benchapi")
    val idx = IndexBuilder.build(spark, spark.createDataset(corpus).toDF("doc_id", "text"),
      "doc_id", "text", dir, BuildConfig(numSegments = 3, chunkDocs = 128))
    val phases: Map[String, Double] = IndexBuilder.lastPhases.toMap
    assert(Set("geometry", "stage1+docmeta", "stage2-merge", "stats", "manifest").subsetOf(phases.keySet))

    val searcher = new IndexSearcher(idx)
    val k = 10
    val budget = corpus.size.toLong
    val qs: Seq[Query] = Seq(TermQ("import"), BoolQ(should = Seq(TermQ("def"), TermQ("id_17"))),
      BoolQ(must = Seq(TermQ("val"), TermQ("fn3"))))
    val rewritten = qs.map(q => searcher.rewrite(spark, q))
    val terms = rewritten.flatMap(_.terms).toSet
    val ctx: QueryContext = searcher.queryContext(spark, BoolQ(should = terms.toSeq.sorted.map(TermQ)))
    val df: Map[String, (Long, Long)] = searcher.termStats(spark, terms)
    assert(df.keySet == terms)
    val rows = idx.postings(spark).where(col("term").isin(terms.toSeq: _*)).as[TermPostings].collect()
    val deleted = idx.deleteRows(spark).collect().groupBy(_.segmentId)
      .map { case (s, rs) => s -> rs.map(_.localDoc).sorted }
    val bySeg = rows.groupBy(_.segmentId)
    val acc = Array.fill(rewritten.size)(ArrayBuffer.empty[ScoredDoc])
    val runIds = Array.fill(rewritten.size)(MaxScoreAccumulator.newRunId())
    idx.manifest.segments.foreach { seg =>
      val readers = bySeg.getOrElse(seg.segmentId, Array.empty).map(tp => tp.term -> new TermReader(tp, ctx.cache)).toMap
      val del = deleted.getOrElse(seg.segmentId, Array.emptyIntArray)
      rewritten.zipWithIndex.foreach { case (q, i) =>
        acc(i) ++= SegmentKernel.topK(q, readers, seg, ctx, k, None, del, runIds(i))
      }
    }
    qs.zip(acc).foreach { case (q, hits) =>
      val replay = hits.sortBy(h => (-h.score, h.docId)).take(k).toSeq
      assert(replay.nonEmpty, s"$q matches")
      assert(replay == searcher.search(spark, q, k).collect().toSeq, s"search $q")
      assert(replay == searcher.searchLocal(spark, q, k, budget).toSeq, s"searchLocal $q")
    }
  }
}
