package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.index._
import graft.search._

/** Tiered incremental compaction (IndexOps.maybeMerge): many streaming
  * micro-batch generations collapse into one without a full-index rewrite;
  * big generations stay untouched; tombstones of merged segments are
  * reclaimed while others survive the consolidation.
  */
class TieredMergeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cfg = BuildConfig(numSegments = 1, chunkDocs = 128)

  private def text(i: Long): String =
    s"alpha b${i % 9} common gamma${i % 4} uniq$i " + (if (i % 3 == 0) "needle " else "")

  private def termStats(s: IndexSearcher, terms: Set[String]): Map[String, (Long, Long)] =
    s.termStats(spark, terms)

  test("20 streaming micro-batches collapse to one generation; stats and hits unchanged") {
    val dir = TestDirs.fresh("graft-tiered-stream")
    (0 until 20).foreach { b =>
      val docs = (b * 25 until (b + 1) * 25).map(i => (i.toLong, text(i.toLong)))
      graft.streaming.StreamingIndexer.indexBatch(spark, docs.toDF("doc_id", "text"),
        "doc_id", "text", dir, cfg, batchId = b.toLong)
    }
    val before = new BuiltIndex(dir, IndexIO.readManifest(spark, dir).get)
    assert(before.liveGens.size == 20)
    val sBefore = new IndexSearcher(before)
    val statsBefore = termStats(sBefore, Set("alpha", "needle", "common"))
    val hitsBefore = sBefore.search(spark, TermQ("needle"), 10).collect().toSeq
    val shaBefore = before.docmeta(spark).select("docId", "sha").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

    val merged = IndexOps.maybeMerge(spark, dir, IndexOps.MergePolicy(smallGenBytes = 1L << 30))
    assert(merged.liveGens.size == 1, s"live gens = ${merged.liveGens}")
    assert(merged.manifest.stats == before.manifest.stats)
    assert(merged.manifest.lastStreamBatch == 19L)
    val sAfter = new IndexSearcher(merged)
    assert(termStats(sAfter, Set("alpha", "needle", "common")) == statsBefore)
    // no tombstones were involved: docIds are stable, hits bit-identical
    assert(sAfter.search(spark, TermQ("needle"), 10).collect().toSeq == hitsBefore)
    // per-doc identity: sha at every docId unchanged
    val shaAfter = merged.docmeta(spark).select("docId", "sha").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(shaAfter == shaBefore)
    // superseded dirs are gone; a second call is a no-op
    assert(!IndexIO.exists(spark, s"$dir/postings/gen=1"))
    val again = IndexOps.maybeMerge(spark, dir, IndexOps.MergePolicy(smallGenBytes = 1L << 30))
    assert(again.manifest.generation == merged.manifest.generation)
  }

  test("big generation stays untouched while small ones merge") {
    val dir = TestDirs.fresh("graft-tiered-big")
    val big = (0L until 600L).map(i => (i, text(i) + " pad" * 8))
    val built = IndexBuilder.build(spark, big.toDF("doc_id", "text"), "doc_id", "text", dir, cfg)
    var base = built.nextDocBase
    (0 until 4).foreach { b =>
      val docs = (base until base + 30L).map(i => (i, text(i)))
      IndexBuilder.append(spark, docs.toDF("doc_id", "text"), "doc_id", "text", dir, cfg)
      base = IndexIO.readManifest(spark, dir).map(m =>
        (m.segments.map(_.segmentId).max + 1).toLong * m.segmentSize).get
    }
    val before = new BuiltIndex(dir, IndexIO.readManifest(spark, dir).get)
    assert(before.liveGens.size == 5)
    val bigBytes = IndexIO.dirBytes(spark, s"$dir/postings/gen=1")
    val smallMax = (2L to 5L).map(g => IndexIO.dirBytes(spark, s"$dir/postings/gen=$g")).max
    assert(smallMax < bigBytes, "fixture must have genuinely small append gens")
    val alphaBefore = new IndexSearcher(before).count(spark, TermQ("alpha"))

    val merged = IndexOps.maybeMerge(spark, dir, IndexOps.MergePolicy(smallGenBytes = bigBytes))
    assert(merged.liveGens.toSet == Set(1L, 6L), s"live gens = ${merged.liveGens}")
    assert(IndexIO.exists(spark, s"$dir/postings/gen=1"), "big gen dir must be untouched")
    assert(!IndexIO.exists(spark, s"$dir/postings/gen=2"))
    assert(merged.manifest.stats == before.manifest.stats)
    val s = new IndexSearcher(merged)
    // the appended docs are all still findable with identical stats
    assert(s.count(spark, TermQ("alpha")) == alphaBefore)
  }

  test("tombstones: merged segments reclaim, untouched segments keep theirs") {
    val dir = TestDirs.fresh("graft-tiered-del")
    // gen 1 = big (segment 0); gens 2..4 = small appends (segments 1..3)
    val big = (0L until 500L).map(i => (i, text(i) + " pad" * 8))
    IndexBuilder.build(spark, big.toDF("doc_id", "text"), "doc_id", "text", dir, cfg)
    (0 until 3).foreach { b =>
      val m = IndexIO.readManifest(spark, dir).get
      val base = (m.segments.map(_.segmentId).max + 1).toLong * m.segmentSize
      val docs = (base until base + 30L).map(i => (i, text(i)))
      IndexBuilder.append(spark, docs.toDF("doc_id", "text"), "doc_id", "text", dir, cfg)
    }
    // "needle" docs exist in every segment; tombstone them all
    val afterDel = IndexOps.deleteByTerm(spark, dir, "needle")
    val delCount = afterDel.manifest.deletedCount
    assert(delCount > 0L)
    val bigBytes = IndexIO.dirBytes(spark, s"$dir/postings/gen=1")
    val sDel = new IndexSearcher(afterDel)
    val liveDocsBefore = sDel.count(spark, MatchAllQ)
    val docmetaShaBefore = afterDel.docmeta(spark).select("sha").as[String].collect().sorted
    // the docs whose tombstones WILL be reclaimed: needle docs outside
    // segment 0 (the big, untouched segment)
    val segSize = afterDel.segmentSize
    val reclaimedSha = afterDel.deleteRows(spark).collect()
      .filter(_.segmentId != 0)
      .map { d =>
        val gid = d.segmentId.toLong * segSize + d.localDoc
        afterDel.docmeta(spark).where($"docId" === gid).select("sha").as[String].head()
      }.sorted

    val merged = IndexOps.maybeMerge(spark, dir, IndexOps.MergePolicy(smallGenBytes = bigBytes))
    // tombstones of segment 0 (big, untouched) survive; the merged
    // segments' tombstones were reclaimed into the rewrite
    assert(merged.manifest.deletedCount > 0L && merged.manifest.deletedCount < delCount)
    assert(merged.manifest.deletedCount == delCount - reclaimedSha.length)
    assert(merged.manifest.deleteGens == Seq(merged.manifest.deleteGen))
    val sM = new IndexSearcher(merged)
    // live-doc count is invariant (reclaimed tombstones removed docs AND
    // their tombstones together)
    assert(sM.count(spark, MatchAllQ) == liveDocsBefore)
    // no deleted doc resurfaces
    assert(sM.count(spark, TermQ("needle")) == 0L)
    // content identity: post-merge docmeta = pre-merge docmeta minus
    // exactly the reclaimed docs (big segment keeps its tombstoned rows in
    // docmeta — Lucene keeps deleted docs until THEIR segment merges)
    val docmetaShaAfter = merged.docmeta(spark).select("sha").as[String].collect().sorted
    val reclaimedSet = reclaimedSha.toSet
    assert(docmetaShaAfter.toSeq == docmetaShaBefore.filterNot(reclaimedSet).toSeq)
    // CheckIndex-style invariant: distinct tombstones == deletedCount
    val distinctDels = merged.deleteRows(spark).distinct().count()
    assert(distinctDels == merged.manifest.deletedCount)
  }

  test("a tiered merge whose segments hold every tombstone commits none and leaves no deletes tree") {
    val dir = TestDirs.fresh("graft-tiered-alldel")
    // gen 1 = big (segment 0, no needle doc); gens 2..3 = small appends
    val big = (0L until 500L).map(i => (i, s"alpha b${i % 9} uniq$i" + " pad" * 8))
    IndexBuilder.build(spark, big.toDF("doc_id", "text"), "doc_id", "text", dir, cfg)
    (0 until 2).foreach { _ =>
      val m = IndexIO.readManifest(spark, dir).get
      val docs = (m.nextDocBase until m.nextDocBase + 30L).map(i => (i, text(i)))
      IndexBuilder.append(spark, docs.toDF("doc_id", "text"), "doc_id", "text", dir, cfg)
    }
    val afterDel = IndexOps.deleteByTerm(spark, dir, "needle")
    assert(afterDel.manifest.deletedCount == 20L)
    val bigBytes = IndexIO.dirBytes(spark, s"$dir/postings/gen=1")
    val merged = IndexOps.maybeMerge(spark, dir, IndexOps.MergePolicy(smallGenBytes = bigBytes))
    assert(merged.manifest.segments.map(_.segmentId) == Seq(0, 1, 2), "segment 0 stays unmerged")
    assert(merged.manifest.deletedCount == 0L && merged.manifest.deleteGen == 0L)
    assert(!new java.io.File(s"$dir/deletes").exists(), "no deletes tree")
    assert(new IndexSearcher(merged).count(spark, MatchAllQ) == 540L)
  }

  test("merge -> append -> merge cycle: visibility, stats, and identity stay consistent") {
    val dir = TestDirs.fresh("graft-tiered-cycle")
    def appendNext(n: Int): Unit = {
      val m = IndexIO.readManifest(spark, dir).get
      val base = (m.segments.map(_.segmentId).max + 1).toLong * m.segmentSize
      IndexBuilder.append(spark,
        (base until base + n).map(i => (i, text(i))).toDF("doc_id", "text"),
        "doc_id", "text", dir, cfg)
    }
    IndexBuilder.build(spark, (0L until 50L).map(i => (i, text(i))).toDF("doc_id", "text"),
      "doc_id", "text", dir, cfg)
    appendNext(40); appendNext(30)
    val all = IndexOps.MergePolicy(smallGenBytes = 1L << 30)
    val m1 = IndexOps.maybeMerge(spark, dir, all)
    // the manifest lists only the merge's generation: the retired ones leave
    // it (long streaming append+merge cycles must not grow it)
    assert(m1.manifest.liveGens == Seq(4L), s"live = ${m1.manifest.liveGens}")
    appendNext(25)
    val m2 = IndexOps.maybeMerge(spark, dir, all)
    assert(m2.manifest.liveGens == Seq(6L), s"live = ${m2.manifest.liveGens}")
    val s = new IndexSearcher(m2)
    assert(s.count(spark, MatchAllQ) == 145L)
    // content identity: docmeta shas == exactly the ingested docs (ids
    // start at each append's segment boundary; segSize rounds 50 -> 128)
    val shas = m2.docmeta(spark).select("sha").as[String].collect().sorted.toSeq
    val ingested = (0L until 50L) ++ (128L until 168L) ++ (256L until 286L) ++ (384L until 409L)
    assert(shas == ingested.map(i => IndexBuilder.sha256Hex(text(i))).sorted)
    // stats = sum of per-seg metas; alpha appears once per doc
    assert(s.count(spark, TermQ("alpha")) == 145L)
  }

  test("a stream over a big base generation: the manifest lists two generations and stops growing") {
    val dir = TestDirs.fresh("graft-tiered-history")
    IndexBuilder.build(spark, (0L until 3000L).map(i => (i, text(i) + s" pad$i pad${i + 1}")).toDF("doc_id", "text"),
      "doc_id", "text", dir, cfg)
    // the perfbench ingest policy: a generation is small under half the
    // base's postings, so the base is never merged
    val policy = IndexOps.MergePolicy(smallGenBytes = IndexIO.dirBytes(spark, s"$dir/postings") / 2)
    def manifestBytes(): Long = {
      val versions = new java.io.File(s"$dir/manifest").listFiles().map(_.getName.drop(2).toLong)
      new java.io.File(s"$dir/manifest/v=${versions.max}/manifest.json").length()
    }
    // every cycle streams two batches, deletes the previous cycle's docs
    // and merges: the index keeps its size, only its history grows
    val sizes = (0 until 6).map { c =>
      (0 until 2).foreach { b =>
        val batch = (0 until 20).map(i => (i.toLong, s"alpha cycle$c uniq$c$b$i")).toDF("doc_id", "text")
        graft.streaming.StreamingIndexer.indexBatch(spark, batch, "doc_id", "text", dir, cfg, 2L * c + b)
      }
      if (c > 0) IndexOps.deleteByTerm(spark, dir, s"cycle${c - 1}")
      val merged = IndexOps.maybeMerge(spark, dir, policy).manifest
      assert(merged.liveGens == Seq(1L, merged.generation), s"cycle $c: live = ${merged.liveGens}")
      assert(new IndexSearcher(new BuiltIndex(dir, merged)).count(spark, MatchAllQ) == 3040L, s"cycle $c")
      manifestBytes()
    }
    info(s"manifest.json bytes per cycle: ${sizes.mkString(", ")}")
    assert(math.abs(sizes.last - sizes(1)) <= 8L, s"manifest.json bytes per cycle: ${sizes.mkString(", ")}")
  }

  test("no-op below the merge threshold") {
    val dir = TestDirs.fresh("graft-tiered-noop")
    val docs = (0L until 100L).map(i => (i, text(i)))
    IndexBuilder.build(spark, docs.toDF("doc_id", "text"), "doc_id", "text", dir, cfg)
    val before = IndexIO.readManifest(spark, dir).get
    val out = IndexOps.maybeMerge(spark, dir, IndexOps.MergePolicy(smallGenBytes = 1L))
    assert(out.manifest == before)
  }
}
