package graft.index

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkWork, TestCorpus, TestSpark}

/** Reopening an index: the manifest and the data trees are read with the
  * schemas of the engine's own case classes, so a reopen starts no
  * schema-inference job. */
class IndexIOSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def buildIndex(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-io-$name").toString
    IndexBuilder.build(spark, TestCorpus.generate(300, seed = 5).toDF("doc_id", "content"),
      "doc_id", "content", dir, BuildConfig(numSegments = 2, chunkDocs = 128, storeTermVectors = true))
    dir
  }

  test("reopen: reading the manifest is one job, opening the postings none") {
    val dir = buildIndex("reopen")
    var m: Option[Manifest] = None
    val (manifestJobs, _) = SparkWork(spark) { m = IndexIO.readManifest(spark, dir) }
    assert(manifestJobs == 1, s"readManifest started $manifestJobs jobs")
    val idx = new BuiltIndex(dir, m.get)
    val (openJobs, _) = SparkWork(spark) { idx.postings(spark) }
    assert(openJobs == 0, s"the first postings(spark) started $openJobs jobs")
    // the given schemas are the ones Spark infers from the written files
    for ((tree, given) <- Seq("postings" -> idx.postings(spark), "docmeta" -> idx.docmeta(spark),
                              "termvectors" -> idx.termVectorsDf(spark)))
      assert(given.schema == spark.read.option("basePath", s"$dir/$tree")
        .parquet(s"$dir/$tree/gen=1").schema, tree)
    assert(idx.postings(spark).count() == m.get.segments.map(_.termCount).sum)
  }

  test("a manifest missing a column reads as no index") {
    val dir = buildIndex("partial")
    val m = IndexIO.readManifest(spark, dir).get
    for (col <- Seq("normMode", "hasPayloads")) {
      Seq(m).toDF().drop(col).coalesce(1).write.parquet(s"$dir/manifest/v=${m.generation + 10}")
      assert(IndexIO.readManifest(spark, dir).isEmpty, s"manifest without $col")
      IndexIO.delete(spark, s"$dir/manifest/v=${m.generation + 10}")
      assert(IndexIO.readManifest(spark, dir).contains(m))
    }
  }
}
