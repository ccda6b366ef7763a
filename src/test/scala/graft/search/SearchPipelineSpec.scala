package graft.search

import org.apache.spark.SparkEnv
import org.scalatest.funsuite.AnyFunSuite

import graft.{Oracle, SparkWork, TestCorpus, TestDirs, TestSpark}
import graft.index.{BuildConfig, IndexBuilder, IndexOps}

/** The shared search pipeline: the term-stats pass every entry point reads
  * (one memoized implementation, a bounded driver collect) and the Spark
  * jobs each entry point starts. */
class SearchPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val corpus: Vector[(Long, String)] = TestCorpus.generate(500, seed = 11)

  lazy val index = {
    import spark.implicits._
    val dir = TestDirs.fresh("graft-pipeline")
    IndexBuilder.build(spark, spark.createDataset(corpus).toDF("doc_id", "content"),
      "doc_id", "content", dir, BuildConfig(numSegments = 4, chunkDocs = 128))
  }

  test("term stats: driver-collect and groupBy branches of the row bound agree") {
    val terms = Set("import", "def", "val", "id_17", "id_333", "fn7", "no_such_term")
    val s = new IndexSearcher(index)
    index.postings(spark).schema // open the reader outside the measured calls
    // rows <= bound: collect the (term, segment) rows and sum on the driver;
    // bound 0: every term set is over it, so a groupBy sums them
    var collected = Map.empty[String, (Long, Long)]
    var grouped = Map.empty[String, (Long, Long)]
    val (_, collectStages) = SparkWork(spark) { collected = s.scanStats(spark, terms, Long.MaxValue) }
    val (_, groupStages) = SparkWork(spark) { grouped = s.scanStats(spark, terms, 0L) }
    assert(collected == grouped)
    assert(collected.keySet == terms - "no_such_term")
    assert(collectStages == 1, "the driver-collect branch is one stage")
    assert(groupStages > collectStages, "the groupBy branch aggregates distributed")
    // docFreq against the oracle's document frequencies
    val (docs, _, _) = Oracle.build(corpus)
    collected.foreach { case (t, (df, _)) =>
      assert(df == docs.values.count(_._1.contains(t)).toLong, s"docFreq of $t")
    }
    assert(s.termStats(spark, terms) == collected, "termStats serves the same sums")
  }

  test("no extra Spark job: stats come from one memo, non-scoring paths skip them") {
    val batch: Seq[(String, Query)] = Seq(
      "a" -> TermQ("import"),
      "b" -> BoolQ(must = Seq(TermQ("def"), TermQ("fn7"))),
      "c" -> BoolQ(should = Seq(TermQ("id_17"), TermQ("val")), minShouldMatch = 1))
    val warmQ: Query = BoolQ(must = Seq(TermQ("def")), mustNot = Seq(TermQ("id_1")))
    new IndexSearcher(index).search(spark, warmQ, 5).collect() // reader memo, JIT

    val s = new IndexSearcher(index)
    val (firstBatch, _) = SparkWork(spark)(s.searchMany(spark, batch, 10).collect())
    val (secondBatch, _) = SparkWork(spark)(s.searchMany(spark, batch, 10).collect())
    assert(secondBatch < firstBatch,
      s"a repeated batch reads its stats from the memo ($secondBatch vs $firstBatch jobs)")

    val (coldMatching, _) = SparkWork(spark)(new IndexSearcher(index).matchingDocs(spark, warmQ).collect())
    val warm = new IndexSearcher(index)
    warm.termStats(spark, warmQ.terms)
    val (warmMatching, _) = SparkWork(spark)(warm.matchingDocs(spark, warmQ).collect())
    assert(coldMatching == warmMatching, "matchingDocs does not depend on term stats")

    // one stats job plus the kernel job, as before the pipeline was shared
    val (searchJobs, _) = SparkWork(spark)(new IndexSearcher(index).search(spark, warmQ, 10).collect())
    assert(searchJobs <= 2, s"search started $searchJobs jobs")
  }

  test("a one-query searchMany is one job, one merge task") {
    val s = new IndexSearcher(index)
    val q: Query = BoolQ(should = Seq(TermQ("import"), TermQ("id_17")))
    s.termStats(spark, q.terms) // the stats job is not what is measured
    val work = SparkWork.measure(spark)(s.searchMany(spark, Seq("only" -> q), 10).collect())
    val segments = index.manifest.segments.size
    assert(work.jobs == 1, s"one job: posting scan, kernel and merge stages ($work)")
    assert(work.resultTasks == 1, s"one query is one merge partition ($work)")
    // the map stages: one task per postings file split, then the kernel,
    // one task per segment x 1 query shard
    val scanTasks = index.postings(spark).rdd.getNumPartitions
    assert(work.mapTasks <= scanTasks + segments,
      s"$scanTasks scan tasks, $segments kernel tasks ($work)")
  }

  test("a search runs one kernel task per live segment after a merge drops a middle segment") {
    import spark.implicits._
    val dir = TestDirs.fresh("graft-pipeline-dropped")
    // segment 1 (ids 128..255) holds only docs of the term "goner"
    val docs = (0 until 384).map(i =>
      (i.toLong, if (i >= 128 && i < 256) "goner only here" else s"keeper w${i % 5}"))
    IndexBuilder.build(spark, docs.toDF("doc_id", "text"), "doc_id", "text", dir,
      BuildConfig(numSegments = 3, chunkDocs = 128))
    IndexOps.deleteByTerm(spark, dir, "goner")
    val merged = IndexOps.forceMerge(spark, dir)
    assert(merged.manifest.segments.map(_.segmentId) == Seq(0, 2))
    val s = new IndexSearcher(merged)
    val q: Query = TermQ("w1")
    s.termStats(spark, q.terms) // the stats job is not what is measured
    var hits = Array.empty[ScoredDoc]
    val work = SparkWork.measure(spark) { hits = s.search(spark, q, 100).collect() }
    // the kernel stage is the result stage of the search's one job
    assert(work.jobs == 1 && work.resultTasks == 2, s"one kernel task per live segment ($work)")
    assert(hits.map(_.docId).sorted.toSeq == docs.collect { case (id, t) if t.endsWith("w1") => id }.sorted)
  }

  test("the query batch ships by broadcast: the kernel closure does not grow with it") {
    val s = new IndexSearcher(index)
    val terms = Vector("import", "def", "val", "fn7", "id_17")
    val ctx = s.queryContext(spark, BoolQ(should = terms.map(TermQ(_))))
    val acc = spark.sparkContext.longAccumulator(IndexSearcher.KernelNanos)
    def closureBytes(n: Int): Int = {
      val qs: Seq[Query] = Seq.tabulate(n)(i =>
        BoolQ(must = Seq(TermQ(terms(i % terms.size))), should = Seq(TermQ(terms((i + 1) % terms.size)))))
      val kernel = s.segmentLeaves(spark, qs, ctx, 10, None, 0L, shards = 4, parts = 4, acc)
      SparkEnv.get.closureSerializer.newInstance().serialize(kernel).limit()
    }
    val (small, large) = (closureBytes(10), closureBytes(2000))
    assert(math.abs(large - small) < 1024, s"closure of 10 queries: $small B, of 2000: $large B")
  }
}
