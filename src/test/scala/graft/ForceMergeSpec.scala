package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.index.{BuildConfig, IndexBuilder, IndexIO, IndexOps}
import graft.search._

/** forceMerge (MergePolicy/SegmentMerger lifecycle): generations collapse to
  * one, tombstones reclaimed, docIDs remapped dense, statistics corrected —
  * the compacted index must be score-identical (per content sha) to a fresh
  * build over the live docs.
  */
class ForceMergeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cfg = BuildConfig(numSegments = 3, chunkDocs = 128, storePositions = true)

  // docs containing "drop" will be tombstoned (every 3rd doc)
  private def mkDocs(ids: Range): Seq[(Long, String)] = ids.map { i =>
    val drop = if (i % 3 == 0) "drop " else ""
    (i.toLong, s"${drop}common w${i % 7} red fox tail${i % 5} filler${i % 11}")
  }

  private def shaOf(text: String): String = IndexBuilder.sha256Hex(text)

  test("forceMerge: one generation, zero tombstones, dense docIds, corrected stats, live-equivalent scores") {
    val dir = TestDirs.fresh("graft-fm")
    val base = mkDocs(0 until 300)
    IndexBuilder.build(spark, base.toDF("doc_id", "text"), "doc_id", "text", dir, cfg)
    IndexOps.deleteByTerm(spark, dir, "drop")
    // append a second generation (ids at the next segment boundary), with
    // some of ITS docs deleted too
    val idx1 = new graft.index.BuiltIndex(dir, IndexIO.readManifest(spark, dir).get)
    val nb = idx1.nextDocBase
    val extra = mkDocs(nb.toInt until (nb.toInt + 60))
    IndexBuilder.append(spark, extra.toDF("doc_id", "text"), "doc_id", "text", dir, cfg)
    val preIdx = IndexOps.deleteByTerm(spark, dir, "drop")
    assert(preIdx.manifest.deletedCount > 0L)
    assert(preIdx.manifest.liveGens.size > 1) // multi-gen

    val preCount = new IndexSearcher(preIdx).count(spark, TermQ("common"))
    val merged = IndexOps.forceMerge(spark, dir)

    // ---- commit shape ----------------------------------------------------
    val m = merged.manifest
    assert(m.deletedCount == 0L && m.deleteGen == 0L)
    assert(m.liveGens == Seq(m.generation))
    assert(!new java.io.File(s"$dir/deletes").exists(), "tombstone dirs reclaimed")
    val genDirs = new java.io.File(s"$dir/postings").listFiles().filter(_.isDirectory)
    assert(genDirs.map(_.getName).toSet == Set(s"gen=${m.generation}"), "old gens deleted")

    // ---- density + stats (the CheckIndex invariants) ---------------------
    val dm = merged.docmeta(spark).select("segmentId", "docId", "norm").collect()
    val bySeg = dm.groupBy(_.getInt(0))
    m.segments.foreach { s =>
      val rows = bySeg(s.segmentId)
      assert(rows.length.toLong == s.docCount)
      val ids = rows.map(_.getLong(1)).sorted
      assert(ids.head == s.docBase && ids.last == s.docBase + s.docCount - 1, "dense locals")
    }
    val postAgg = merged.postings(spark)
      .groupBy("segmentId")
      .agg(org.apache.spark.sql.functions.sum("docFreq"),
        org.apache.spark.sql.functions.sum("totalTermFreq"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    m.segments.foreach { s =>
      assert(postAgg(s.segmentId) == ((s.sumDocFreq, s.sumTotalTermFreq)), "manifest stats match data")
    }

    // ---- live-docs survive with identity; counts preserved ---------------
    val live = (base ++ extra).filterNot(_._2.contains("drop"))
    val gotShas = merged.docmeta(spark).select("sha").as[String].collect().toSet
    assert(gotShas == live.map(d => shaOf(d._2)).toSet)
    val s2 = new IndexSearcher(merged)
    assert(s2.count(spark, TermQ("common")) == preCount)
    assert(s2.count(spark, TermQ("drop")) == 0L, "tombstoned docs' postings are gone")

    // ---- score equivalence with a FRESH build over the live docs ---------
    // (docIds differ — Lucene merge remap — but per-sha scores must be
    // bit-identical: same per-doc (freq, norm), same corrected global stats)
    val freshDir = TestDirs.fresh("graft-fm-fresh")
    val reDense = live.zipWithIndex.map { case ((_, t), k) => (k.toLong, t) }
    val fresh = IndexBuilder.build(spark, reDense.toDF("doc_id", "text"), "doc_id", "text",
      freshDir, cfg)
    val sf = new IndexSearcher(fresh)
    def shaScores(searcher: IndexSearcher, idx: graft.index.BuiltIndex, q: Query): Map[String, Double] = {
      val hits = searcher.scoreAll(spark, q).toDF("doc_id", "s")
      hits.join(idx.docmeta(spark).select($"docId".as("doc_id"), $"sha"), "doc_id")
        .select("sha", "s").as[(String, Double)].collect().toMap
    }
    for (q <- Seq(TermQ("common"), BoolQ(must = Seq(TermQ("red"), TermQ("fox"))),
                  PhraseQ(Seq("red", "fox")))) {
      assert(shaScores(s2, merged, q) == shaScores(sf, fresh, q), s"score mismatch for $q")
    }

    // ---- positions survived compaction (phrase works) --------------------
    assert(s2.count(spark, PhraseQ(Seq("red", "fox"))) == live.size.toLong)

    // ---- idempotent: a second forceMerge is a no-op ----------------------
    val again = IndexOps.forceMerge(spark, dir)
    assert(again.manifest.generation == m.generation)
  }

  test("codec gate: a manifest from a different block codec reads as no index (fail closed)") {
    val dir = TestDirs.fresh("graft-codecgate")
    IndexBuilder.build(spark, mkDocs(0 until 40).toDF("doc_id", "text"), "doc_id", "text",
      dir, BuildConfig(numSegments = 1, chunkDocs = 128))
    val m = IndexIO.readManifest(spark, dir).get
    assert(m.codecVersion == graft.index.Manifest.CurrentCodecVersion)
    // simulate an index committed by a build speaking a different codec:
    // its docBytes would decode as garbage, so the reader must refuse it
    IndexIO.writeManifest(spark, dir, m.copy(codecVersion = 1))
    assert(IndexIO.readManifest(spark, dir).isEmpty,
      "foreign-codec manifest must read as no index")
  }

  test("forceMerge drops a fully-deleted segment from the manifest") {
    val dir = TestDirs.fresh("graft-fm-all")
    // segment 1 (ids 128..255) gets a unique term; delete it entirely
    val docs = (0 until 256).map(i =>
      (i.toLong, if (i >= 128) "goner only here" else s"keeper w${i % 5}"))
    IndexBuilder.build(spark, docs.toDF("doc_id", "text"), "doc_id", "text", dir,
      BuildConfig(numSegments = 2, chunkDocs = 128))
    IndexOps.deleteByTerm(spark, dir, "goner")
    val merged = IndexOps.forceMerge(spark, dir)
    assert(merged.manifest.segments.map(_.segmentId) == Seq(0))
    assert(merged.stats.docCount == 128L)
    val s = new IndexSearcher(merged)
    assert(s.count(spark, MatchAllQ) == 128L)
    assert(s.search(spark, TermQ("keeper"), 5).collect().nonEmpty)
  }

  test("an index emptied by deleteByQuery(MatchAll) + forceMerge: every entry point is empty, an append is searchable") {
    val dir = TestDirs.fresh("graft-fm-empty")
    val cfg2 = BuildConfig(numSegments = 2, chunkDocs = 128)
    IndexBuilder.build(spark, (0 until 256).map(i => (i.toLong, s"keeper w${i % 5}")).toDF("doc_id", "text"),
      "doc_id", "text", dir, cfg2)
    IndexOps.deleteByQuery(spark, dir, MatchAllQ)
    val empty = IndexOps.forceMerge(spark, dir)
    assert(empty.manifest.segments.isEmpty)
    val s = new IndexSearcher(empty)
    val q: Query = BoolQ(should = Seq(TermQ("keeper"), TermQ("w1")))
    assert(s.count(spark, MatchAllQ) == 0L && s.count(spark, q) == 0L)
    assert(s.search(spark, q, 5).collect().isEmpty)
    assert(s.searchLocal(spark, q, 5).isEmpty)
    assert(s.searchWithTotal(spark, q, 5) match { case (hits, t) => hits.isEmpty && t == TotalHits(0L, TotalHits.EQ) })
    assert(s.searchMany(spark, Seq("a" -> q, "b" -> MatchAllQ), 5).collect().isEmpty)
    assert(s.scoreAll(spark, q).collect().isEmpty)
    assert(empty.nextDocBase == 0L)

    val fresh = (0 until 10).map(i => (i.toLong, s"fresh w$i"))
    val appended = IndexBuilder.append(spark, fresh.toDF("doc_id", "text"), "doc_id", "text", dir, cfg2)
    val s2 = new IndexSearcher(appended)
    assert(s2.search(spark, TermQ("fresh"), 20).collect().map(_.docId).toSet == (0L until 10L).toSet)
    assert(s2.count(spark, TermQ("keeper")) == 0L)
  }
}
