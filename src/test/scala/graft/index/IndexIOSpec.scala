package graft.index

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.functions.{col, struct, to_json}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkWork, TestCorpus, TestDirs, TestSpark}

/** Reopening an index: the manifest is one JSON file read and written on the
  * driver, and the data trees are read with the schemas of the engine's own
  * case classes, so neither a reopen nor a commit's manifest write starts a
  * Spark job. */
class IndexIOSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def buildIndex(name: String): String = {
    val dir = TestDirs.fresh(s"graft-io-$name")
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

  test("a manifest that encodes its generations as a range minus dead ones reads as no index") {
    val dir = buildIndex("range")
    val m = IndexIO.readManifest(spark, dir).get
    val mapper = new ObjectMapper()
    val tree = mapper.readTree(IndexIO.readText(spark, s"$dir/manifest/v=1/manifest.json").get)
      .asInstanceOf[ObjectNode]
    tree.remove("liveGens")
    tree.remove("deleteGens")
    tree.put("minGen", 1L).put("minDeleteGen", 0L).putArray("deadGens")
    writeVersion(dir, 99L, mapper.writeValueAsString(tree))
    assert(IndexIO.readManifest(spark, dir).isEmpty)
    IndexIO.delete(spark, s"$dir/manifest/v=99")
    assert(IndexIO.readManifest(spark, dir).contains(m))
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

  test("manifest.json is the to_json text of the manifest's row and decodes back to it") {
    val dir = TestDirs.fresh("graft-io-format")
    val segs = Seq(
      SegmentMeta(0, 0L, 512L, 509L, 40960L, 3100L, 900L, 3100L, 0L, IndexBuilder.sha256Hex("0")),
      SegmentMeta(3, 1536L, 77L, 0L, 0L, 0L, 0L, 0L, 0L, IndexBuilder.sha256Hex("3")))
    val m = Manifest(generation = 9L, liveGens = Seq(2L, 4L, 9L), numSegments = segs.size, segmentSize = 512L,
      stats = IndexStats.of(segs), segments = segs, corpusSha = IndexBuilder.sha256Hex("corpus"),
      postingsBytes = 123456L, docmetaBytes = 7890L, deleteGen = 4L, deletedCount = 17L,
      indexSort = "n_chars DESC NULLS LAST, \"größe\" ASC", deleteGens = Seq(2L, 4L),
      lastStreamBatch = 41L, hasPositions = true, hasTermVectors = true,
      hasOffsets = true, hasPayloads = true, normMode = graft.bm25.NormMode.JavaLucene)
    IndexIO.writeManifest(spark, dir, m)
    // the reference: the Dataset query that encoded manifests before
    val reference = Seq(m).toDF().select(to_json(struct(col("*")))).as[String].head()
    assert(IndexIO.readText(spark, s"$dir/manifest/v=1/manifest.json").contains(reference))
    assert(IndexIO.readManifest(spark, dir).contains(m))
  }

  test("readers see a whole committed manifest while another thread commits") {
    val dir = buildIndex("concurrent")
    val first = IndexIO.readManifest(spark, dir).get
    val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      val readers = Seq.fill(4)(Future {
        val seen = Seq.newBuilder[Option[Manifest]]
        while (!stop.get) seen += IndexIO.readManifest(spark, dir)
        seen.result()
      })
      val commits = Future {
        try (1 to 20).map(i => IndexIO.commit(spark, dir, first.copy(lastStreamBatch = i.toLong)).manifest)
        finally stop.set(true)
      }
      val committed = Await.result(commits, 2.minutes).toSet + first
      assert(committed.size == 21)
      val seen = readers.map(Await.result(_, 2.minutes))
      assert(seen.forall(_.nonEmpty), "every reader read during the commits")
      val bad = seen.flatten.filterNot(_.exists(committed))
      assert(bad.isEmpty, s"${bad.size} of ${seen.map(_.size).sum} reads: ${bad.take(3)}")
    } finally pool.shutdownNow()
  }
}
