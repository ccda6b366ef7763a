package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, row_number, sha2}
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{BuildConfig, IndexIO}
import graft.search.{IndexSearcher, TermQ}
import graft.streaming.StreamingIndexer

/** Structured-Streaming ingestion: micro-batches become committed index
  * generations; replayed batches are idempotent (exactly-once via the
  * manifest's lastStreamBatch watermark). */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val cfg = BuildConfig(numSegments = 2, chunkDocs = 128)

  test("stream of micro-batches builds a live index; each batch visible after commit") {
    val dir = TestDirs.fresh("graft-stream")
    val ckpt = TestDirs.fresh("graft-stream-ckpt")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Long, String)]
    source.addData((1L, "streamed alpha doc"), (2L, "streamed beta doc"), (3L, "gamma"))
    val query = StreamingIndexer.start(spark,
      source.toDF().toDF("event_id", "content"), "event_id", "content", dir, ckpt, cfg,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    query.processAllAvailable()
    query.awaitTermination()

    val m1 = IndexIO.readManifest(spark, dir).get
    assert(m1.stats.docCount == 3L && m1.lastStreamBatch >= 0L)
    val s1 = new IndexSearcher(new graft.index.BuiltIndex(dir, m1))
    assert(s1.count(spark, TermQ("streamed")) == 2L)

    // second run of the stream = second micro-batch appended
    source.addData((4L, "streamed delta doc"))
    val query2 = StreamingIndexer.start(spark,
      source.toDF().toDF("event_id", "content"), "event_id", "content", dir, ckpt, cfg,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    query2.processAllAvailable()
    query2.awaitTermination()

    val m2 = IndexIO.readManifest(spark, dir).get
    assert(m2.stats.docCount == 4L)
    assert(m2.lastStreamBatch > m1.lastStreamBatch)
    val s2 = new IndexSearcher(new graft.index.BuiltIndex(dir, m2))
    assert(s2.count(spark, TermQ("streamed")) == 3L)
    // rank results include docs from both generations
    val hits = s2.search(spark, TermQ("streamed"), 10).collect()
    assert(hits.length == 3)
  }

  test("multi-partition burst batch: docId assignment is distributed and order-correct") {
    val dir = TestDirs.fresh("graft-stream-burst")
    // a burst batch spread over several partitions, ids deliberately shuffled
    val n = 4000
    val rows = scala.util.Random.shuffle((0 until n).toVector)
      .map(i => (i.toLong + 100L, s"burst doc w${i % 37} common"))
    val batch = spark.createDataset(rows).repartition(8).toDF("event_id", "content")
    assert(batch.rdd.getNumPartitions > 1, "precondition: batch spans >1 partition")
    StreamingIndexer.indexBatch(spark, batch, "event_id", "content", dir,
      BuildConfig(numSegments = 4, chunkDocs = 512), batchId = 0L)
    val m = IndexIO.readManifest(spark, dir).get
    assert(m.stats.docCount == n.toLong)
    // ids must be the dense 0..n-1 rank of event_id order: doc k holds the
    // content of event_id 100+k — check via the sha invariant on docmeta
    val idx = new graft.index.BuiltIndex(dir, m)
    val byDoc = idx.docmeta(spark).select("docId", "sha").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byDoc.size == n)
    val expect = rows.sortBy(_._1).zipWithIndex.map { case ((_, c), k) =>
      k.toLong -> graft.index.IndexBuilder.sha256Hex(c)
    }
    expect.foreach { case (k, sha) => assert(byDoc(k) == sha, s"docId $k content mismatch") }
    // and the assignment genuinely ran distributed (not one window task)
    val parts = batch.repartitionByRange(
      math.min(batch.rdd.getNumPartitions, spark.sparkContext.defaultParallelism),
      org.apache.spark.sql.functions.col("event_id")).rdd.getNumPartitions
    assert(parts > 1, "rank assignment must span >1 partition")
    val s = new IndexSearcher(idx)
    assert(s.count(spark, TermQ("common")) == n.toLong)
  }

  test("crash-mid-commit safety: a partial manifest version is invisible; data without manifest refuses rebuild") {
    val dir = TestDirs.fresh("graft-stream-crash")
    val batch = Seq((1L, "crashsafe one"), (2L, "crashsafe two")).toDF("event_id", "content")
    StreamingIndexer.indexBatch(spark, batch, "event_id", "content", dir, cfg, batchId = 0L)
    val m1 = IndexIO.readManifest(spark, dir).get
    // simulate a crash DURING the next manifest commit: a half-written
    // version dir with no _SUCCESS marker must not shadow the committed one
    val partial = new java.io.File(s"$dir/manifest/v=99")
    partial.mkdirs()
    java.nio.file.Files.writeString(partial.toPath.resolve("part-junk.parquet"), "truncated")
    assert(IndexIO.readManifest(spark, dir).contains(m1),
      "reader must still see the previous committed manifest")
    org.apache.commons.io.FileUtils.deleteDirectory(partial)
    // simulate the worst case: ALL manifest versions lost but data intact —
    // a replayed batch must refuse the wiping full rebuild (fail closed)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/manifest"))
    val ex = intercept[IllegalStateException] {
      StreamingIndexer.indexBatch(spark, batch, "event_id", "content", dir, cfg, batchId = 1L)
    }
    assert(ex.getMessage.contains("refusing"))
  }

  test("replayed micro-batch is idempotent (exactly-once on batchId)") {
    val dir = TestDirs.fresh("graft-stream-replay")
    val batch = Seq((10L, "replay doc one"), (11L, "replay doc two")).toDF("event_id", "content")
    StreamingIndexer.indexBatch(spark, batch, "event_id", "content", dir, cfg, batchId = 0L)
    val m1 = IndexIO.readManifest(spark, dir).get
    // a foreachBatch retry re-delivers the SAME batchId -> no-op
    StreamingIndexer.indexBatch(spark, batch, "event_id", "content", dir, cfg, batchId = 0L)
    val m2 = IndexIO.readManifest(spark, dir).get
    assert(m2 == m1, "replay must not commit a new generation")
    // the NEXT batch appends
    val batch2 = Seq((12L, "replay doc three")).toDF("event_id", "content")
    StreamingIndexer.indexBatch(spark, batch2, "event_id", "content", dir, cfg, batchId = 1L)
    val m3 = IndexIO.readManifest(spark, dir).get
    assert(m3.stats.docCount == 3L && m3.lastStreamBatch == 1L)
  }

  test("an empty micro-batch commits nothing, as the first batch and as a later one") {
    val dir = TestDirs.fresh("graft-stream-empty")
    val empty = Seq.empty[(Long, String)].toDF("event_id", "content")
    def versions = Option(new java.io.File(s"$dir/manifest").list()).map(_.sorted.toSeq)
    StreamingIndexer.indexBatch(spark, empty, "event_id", "content", dir, cfg, batchId = 0L)
    assert(IndexIO.readManifest(spark, dir).isEmpty && versions.isEmpty)
    assert(!IndexIO.exists(spark, s"$dir/postings") && !IndexIO.exists(spark, s"$dir/docmeta"))
    StreamingIndexer.indexBatch(spark, Seq((1L, "empty then one")).toDF("event_id", "content"),
      "event_id", "content", dir, cfg, batchId = 1L)
    val m = IndexIO.readManifest(spark, dir).get
    assert(versions.contains(Seq("v=1")))
    StreamingIndexer.indexBatch(spark, empty.repartition(4), "event_id", "content", dir, cfg, batchId = 2L)
    assert(IndexIO.readManifest(spark, dir).contains(m) && versions.contains(Seq("v=1")))
  }

  test("a shuffled 4-partition batch's docIds are base + row_number() over its orderCol - 1") {
    val dir = TestDirs.fresh("graft-stream-rank")
    StreamingIndexer.indexBatch(spark, Seq((5L, "first batch")).toDF("event_id", "content"),
      "event_id", "content", dir, cfg, batchId = 0L)
    val base = IndexIO.readManifest(spark, dir).get.nextDocBase
    // unique event ids (7 is prime to 1000), in no order, over 4 partitions
    val rows = new scala.util.Random(7).shuffle((0 until 600).toVector)
      .map(i => (i * 7L % 1000L + 10L, s"ranked w${i % 17} doc $i"))
    val batch = spark.createDataset(rows).toDF("event_id", "content").repartition(4)
    assert(batch.rdd.getNumPartitions == 4)
    StreamingIndexer.indexBatch(spark, batch, "event_id", "content", dir, cfg, batchId = 1L)
    val expected = batch.select(
      (lit(base) + row_number().over(Window.orderBy("event_id")) - 1L).as("docId"),
      sha2(col("content"), 256).as("sha"))
    val idx = new graft.index.BuiltIndex(dir, IndexIO.readManifest(spark, dir).get)
    val got = idx.docmeta(spark).where(col("docId") >= base).select("docId", "sha")
    assert(got.count() == rows.size.toLong)
    assert(got.collect().toSet == expected.collect().toSet)
  }
}
