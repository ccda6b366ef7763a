package graft.index

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkWork, TestCorpus, TestSpark}

/** Reopening an index: the manifest is one JSON file read and written on the
  * driver, and the data trees are read with the schemas of the engine's own
  * case classes, so neither a reopen nor a commit's manifest write starts a
  * Spark job. */
class IndexIOSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def buildIndex(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-io-$name").toString
    IndexBuilder.build(spark, TestCorpus.generate(300, seed = 5).toDF("doc_id", "content"),
      "doc_id", "content", dir, BuildConfig(numSegments = 2, chunkDocs = 128, storeTermVectors = true))
    dir
  }

  private def versionDirs(dir: String): Seq[String] =
    new java.io.File(s"$dir/manifest").listFiles().map(_.getName).sorted.toSeq

  /** Commit `json` as manifest version `v` (file first, marker last). */
  private def writeVersion(dir: String, v: Long, json: String): Unit = {
    IndexIO.writeText(spark, s"$dir/manifest/v=$v/manifest.json", json)
    IndexIO.writeText(spark, s"$dir/manifest/v=$v/_SUCCESS", "")
  }

  test("reopen: reading the manifest and opening the postings start no job") {
    val dir = buildIndex("reopen")
    var m: Option[Manifest] = None
    val (manifestJobs, _) = SparkWork(spark) { m = IndexIO.readManifest(spark, dir) }
    assert(manifestJobs == 0, s"readManifest started $manifestJobs jobs")
    val (reopenJobs, _) = SparkWork(spark) {
      new BuiltIndex(dir, IndexIO.readManifest(spark, dir).get).postings(spark)
    }
    assert(reopenJobs == 0, s"readManifest + the first postings(spark) started $reopenJobs jobs")
    val idx = new BuiltIndex(dir, m.get)
    // the given schemas are the ones Spark infers from the written files
    for ((tree, given) <- Seq("postings" -> idx.postings(spark), "docmeta" -> idx.docmeta(spark),
                              "termvectors" -> idx.termVectorsDf(spark)))
      assert(given.schema == spark.read.option("basePath", s"$dir/$tree")
        .parquet(s"$dir/$tree/gen=1").schema, tree)
    assert(idx.postings(spark).count() == m.get.segments.map(_.termCount).sum)
  }

  test("a commit's manifest write starts no job; the two newest versions are kept") {
    val dir = buildIndex("commit")
    val m = IndexIO.readManifest(spark, dir).get
    assert(versionDirs(dir) == Seq("v=1"))
    assert(new java.io.File(s"$dir/manifest/v=1/manifest.json").isFile)
    val (commitJobs, _) = SparkWork(spark) { IndexIO.commit(spark, dir, m) }
    assert(commitJobs == 0, s"commit started $commitJobs jobs")
    val (writeJobs, _) = SparkWork(spark) { IndexIO.writeManifest(spark, dir, m) }
    assert(writeJobs == 0, s"writeManifest started $writeJobs jobs")
    assert(versionDirs(dir) == Seq("v=2", "v=3"), "after 3 commits the two newest versions remain")
    assert(IndexIO.readManifest(spark, dir).contains(m))
  }

  test("a manifest.json missing a field reads as no index") {
    val dir = buildIndex("partial")
    val m = IndexIO.readManifest(spark, dir).get
    val json = IndexIO.readText(spark, s"$dir/manifest/v=1/manifest.json").get
    val mapper = new ObjectMapper()
    def without(drop: ObjectNode => Unit): String = {
      val tree = mapper.readTree(json).asInstanceOf[ObjectNode]
      drop(tree)
      mapper.writeValueAsString(tree)
    }
    val cases = Seq[(String, ObjectNode => Unit)](
      "normMode" -> (_.remove("normMode")),
      "hasPayloads" -> (_.remove("hasPayloads")),
      "stats.sumDocFreq" -> (_.get("stats").asInstanceOf[ObjectNode].remove("sumDocFreq")),
      "segments[0].lineageSha" -> (_.get("segments").get(0).asInstanceOf[ObjectNode].remove("lineageSha")))
    for ((field, drop) <- cases) {
      val partial = without(drop)
      assert(mapper.readTree(partial) != mapper.readTree(json), s"the fixture removed $field")
      writeVersion(dir, 99L, partial)
      assert(IndexIO.readManifest(spark, dir).isEmpty, s"manifest without $field")
      IndexIO.delete(spark, s"$dir/manifest/v=99")
      assert(IndexIO.readManifest(spark, dir).contains(m))
    }
  }

  test("a malformed manifest.json reads as no index") {
    val dir = buildIndex("malformed")
    val m = IndexIO.readManifest(spark, dir).get
    val json = IndexIO.readText(spark, s"$dir/manifest/v=1/manifest.json").get
    for (bad <- Seq(json.take(json.length / 2), "not json", "", "[]", "{}")) {
      writeVersion(dir, 99L, bad)
      assert(IndexIO.readManifest(spark, dir).isEmpty, s"manifest.json = '${bad.take(40)}'")
      IndexIO.delete(spark, s"$dir/manifest/v=99")
      assert(IndexIO.readManifest(spark, dir).contains(m))
    }
  }
}
