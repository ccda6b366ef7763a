package graft.index

import org.apache.spark.sql.functions.{col, count, lit, sum, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkWork, TestDirs, TestSpark}
import graft.streaming.StreamingIndexer

/** The lifecycle commit path: build, append, delete and both merges commit
  * segment stats summed by their writing tasks and manifest bytes counted
  * over the visible generations, in a bounded number of Spark jobs.
  *
  * One scenario, two segments of 256 docs: a build whose second segment
  * holds only empty or null docs, two appends, a delete that hits segments
  * 0 and 2 and every doc of segment 3, a tiered merge of the two appended
  * generations, a merge generation's dir left behind as a crash before the
  * reclaim would, one more append, and a force merge.
  */
class CommitPathSpec extends AnyFunSuite {
  import CommitPathSpec.Step
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cfg = BuildConfig(numSegments = 2, chunkDocs = 128)

  private def text(i: Long, extra: String = ""): String =
    s"alpha w${i % 13} common${i % 3} pad${i % 29} pad${i % 31} pad${i % 37} " +
      (if (i % 4 == 0) "del " else "") + extra

  private def docs(ids: Seq[Long], t: Long => String) = ids.map(i => (i, t(i))).toDF("doc_id", "text")

  /** Per segment (docCount, fieldDocCount, sumTotalTermFreq, sumDocFreq,
    * termCount), aggregated from the committed parquet — the reference the
    * written-row sums must equal. */
  private def reference(idx: BuiltIndex): Map[Int, (Long, Long, Long, Long, Long)] = {
    val post = idx.postings(spark).groupBy("segmentId")
      .agg(sum("docFreq"), sum("totalTermFreq"), count(lit(1)))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    idx.docmeta(spark).groupBy("segmentId")
      .agg(count(lit(1)), sum(when(col("norm") > 0, 1L).otherwise(0L)))
      .collect().map { r =>
        val (sdf, sttf, tc) = post.getOrElse(r.getInt(0), (0L, 0L, 0L))
        r.getInt(0) -> ((r.getLong(1), r.getLong(2), sttf, sdf, tc))
      }.toMap
  }

  /** Run `op` under a job count, then reopen the index it committed. */
  private def step(name: String, dir: String)(op: => Any): Step = {
    val work = SparkWork.measure(spark) { op; () }
    val idx = new BuiltIndex(dir, IndexIO.readManifest(spark, dir).get)
    def bytes(tree: String) = idx.liveGens.map(g => IndexIO.dirBytes(spark, s"$dir/$tree/gen=$g")).sum
    val dirs = new java.io.File(s"$dir/postings").listFiles().filter(_.isDirectory).map(_.getName).toSet
    Step(name, work, idx, reference(idx), (bytes("postings"), bytes("docmeta")), dirs)
  }

  private def copyDir(from: String, to: String): Unit = {
    val target = java.nio.file.Paths.get(to)
    java.nio.file.Files.createDirectories(target)
    new java.io.File(from).listFiles().foreach(f =>
      java.nio.file.Files.copy(f.toPath, target.resolve(f.getName)))
  }

  lazy val lifecycle: Seq[Step] = {
    val dir = TestDirs.fresh("graft-commit-path")
    // segment 0: 256 long docs; segment 1: only empty, blank or null docs
    val built = step("build", dir)(IndexBuilder.build(spark,
      docs(0L until 300L, i => if (i < 256) text(i) * 3 else if (i % 2 == 0) null else " 　"),
      "doc_id", "text", dir, cfg))
    val seg = built.index.segmentSize
    def append(name: String, from: Long, n: Int, extra: String) = step(name, dir)(IndexBuilder.append(
      spark, docs(from until from + n, text(_, extra)), "doc_id", "text", dir, cfg))
    val appended = append("append", 2 * seg, 40, "")
    val appended2 = append("append #2", 3 * seg, 30, "del") // every doc of segment 3 is deleted
    val deleted = step("deleteByTerm", dir)(IndexOps.deleteByTerm(spark, dir, "del"))
    val bigBytes = IndexIO.dirBytes(spark, s"$dir/postings/gen=1")
    assert(Seq(2, 3).forall(g => IndexIO.dirBytes(spark, s"$dir/postings/gen=$g") < bigBytes),
      "the fixture's appended generations are smaller than the build's")
    val tiered = step("maybeMerge", dir)(
      IndexOps.maybeMerge(spark, dir, IndexOps.MergePolicy(smallGenBytes = bigBytes)))
    // a crash between the merge commit and its reclaim leaves a dead dir
    val dead = tiered.index.manifest.deadGens.head
    Seq("postings", "docmeta").foreach(t =>
      copyDir(s"$dir/$t/gen=${tiered.index.manifest.generation}", s"$dir/$t/gen=$dead"))
    val afterCrash = append("append over a dead dir", tiered.index.nextDocBase, 20, "")
    val forced = step("forceMerge", dir)(IndexOps.forceMerge(spark, dir))

    // steady-state micro-batch: the third batch of a stream
    val sdir = TestDirs.fresh("graft-commit-path-stream")
    def batch(b: Long) = step(s"indexBatch $b", sdir)(StreamingIndexer.indexBatch(spark,
      docs(b * 40 until b * 40 + 40, text(_)), "doc_id", "text", sdir, cfg, batchId = b))
    val batches = (0L to 2L).map(batch)
    // a sorted build: docIds are the rank of the (shuffled) doc_id order
    val odir = TestDirs.fresh("graft-commit-path-sorted")
    val sorted = step("buildSorted", odir)(IndexBuilder.buildSorted(spark,
      docs(scala.util.Random.shuffle((1000L until 1300L).toVector), text(_)).repartition(4),
      Seq(col("doc_id")), "text", odir, cfg))
    // the build's docs into a fresh dir, storing term vectors: one job more,
    // the term-vector write
    val tdir = TestDirs.fresh("graft-commit-path-tv")
    val withTv = step("build with term vectors", tdir)(IndexBuilder.build(spark,
      docs(0L until 300L, i => if (i < 256) text(i) * 3 else if (i % 2 == 0) null else " 　"),
      "doc_id", "text", tdir, cfg.copy(storeTermVectors = true)))
    Seq(built, appended, appended2, deleted, tiered, afterCrash, forced) ++ batches :+ sorted :+ withTv
  }

  private def stepNamed(name: String): Step = lifecycle.find(_.name == name).get

  test("segment stats equal a re-aggregation of the committed parquet after every lifecycle step") {
    lifecycle.foreach { s =>
      val m = s.index.manifest
      val got = m.segments.map(x =>
        x.segmentId -> ((x.docCount, x.fieldDocCount, x.sumTotalTermFreq, x.sumDocFreq, x.termCount))).toMap
      assert(got == s.reference, s"${s.name}: manifest stats vs committed parquet")
      assert(m.segments.forall(x => x.postingCount == x.sumDocFreq), s.name)
      assert(m.segments.map(_.segmentId) == m.segments.map(_.segmentId).sorted, s.name)
      assert(m.stats == IndexStats.of(m.segments) && m.numSegments == m.segments.size, s.name)
    }
    // the cases the scenario is built to reach
    val emptySeg = stepNamed("build").index.manifest.segments.find(_.segmentId == 1).get
    assert(emptySeg.docCount == 44L && emptySeg.fieldDocCount == 0L && emptySeg.termCount == 0L)
    assert(stepNamed("deleteByTerm").index.manifest.deletedCount > 30L)
    val tiered = stepNamed("maybeMerge").index.manifest
    assert(tiered.segments.map(_.segmentId) == Seq(0, 1, 2), "the all-deleted segment 3 left")
    assert(tiered.deletedCount > 0L, "segment 0's tombstones survive the tiered merge")
    val forced = stepNamed("forceMerge").index
    assert(forced.manifest.deletedCount == 0L && forced.liveGens == Seq(forced.manifest.generation))
  }

  test("jobs per lifecycle operation stay within the commit path's bounds") {
    val bounds = Seq("build" -> 3, "append" -> 3, "deleteByTerm" -> 1, "maybeMerge" -> 3,
      "forceMerge" -> 2, "indexBatch 2" -> 4, "buildSorted" -> 4, "build with term vectors" -> 4)
    val over = bounds.flatMap { case (name, max) =>
      val w = stepNamed(name).work
      if (w.jobs > max) Some(s"$name: ${w.jobs} jobs > $max ($w):\n  " + w.jobList.mkString("\n  ")) else None
    }
    val report = lifecycle.map(s => s"${s.name}: ${s.work}").mkString("\n")
    info(report)
    assert(over.isEmpty, over.mkString("\n") + "\n" + report)
  }

  test("an append of no documents commits nothing; a build of none fails before it retracts the index") {
    val dir = TestDirs.fresh("graft-commit-path-empty")
    val built = IndexBuilder.build(spark, docs(0L until 40L, text(_)), "doc_id", "text", dir, cfg)
    val none = docs(Nil, text(_))
    val appended = IndexBuilder.append(spark, none, "doc_id", "text", dir, cfg)
    assert(appended.manifest == built.manifest)
    assert(IndexIO.readManifest(spark, dir).contains(built.manifest), "no new commit")
    // update = delete + append: the delete commits, the empty append adds nothing
    val updated = IndexOps.updateDocuments(spark, dir, "del", none, "doc_id", "text", cfg)
    assert(updated.manifest.deletedCount == 10L && updated.manifest.segments == built.manifest.segments)
    val ex = intercept[IllegalArgumentException](
      IndexBuilder.build(spark, none, "doc_id", "text", dir, cfg))
    assert(ex.getMessage.contains("no documents"))
    assert(IndexIO.readManifest(spark, dir).contains(updated.manifest), "the committed index stays")
  }

  /** Size of every file under the postings, docmeta, deletes and manifest
    * trees of `dir`, keyed by its path with the write job's UUID masked. */
  private def fileSizes(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    Seq("postings", "docmeta", "deletes", "manifest").map(root.resolve).filter(java.nio.file.Files.exists(_))
      .flatMap { tree =>
        val files = java.nio.file.Files.walk(tree)
        try files.filter(java.nio.file.Files.isRegularFile(_)).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        finally files.close()
      }
      .map(f => root.relativize(f).toString.replaceAll(uuid, "U") -> java.nio.file.Files.size(f)).toMap
  }

  test("the same input written twice gives the same file sizes after every commit") {
    // build, two micro-batches, a delete hitting both and a tiered merge
    // of the two batches only, so tombstones survive it
    def run(): Seq[(String, Map[String, Long])] = {
      val dir = TestDirs.fresh("graft-commit-path-bytes")
      val built = IndexBuilder.build(spark, docs(0L until 300L, text(_)), "doc_id", "text", dir, cfg)
      val steps = Seq.newBuilder[(String, Map[String, Long])]
      steps += "build" -> fileSizes(dir)
      val buildBytes = IndexIO.dirBytes(spark, s"$dir/postings/gen=1")
      val base = built.nextDocBase
      (0L to 1L).foreach { b =>
        StreamingIndexer.indexBatch(spark, docs(base + b * 60 until base + b * 60 + 60, text(_, "del")),
          "doc_id", "text", dir, cfg, batchId = b)
        steps += s"indexBatch $b" -> fileSizes(dir)
      }
      IndexOps.deleteByTerm(spark, dir, "del")
      steps += "deleteByTerm" -> fileSizes(dir)
      val merged = IndexOps.maybeMerge(spark, dir, IndexOps.MergePolicy(smallGenBytes = buildBytes))
      assert(merged.manifest.deletedCount > 0L, "the build's tombstones survive the merge")
      steps += "maybeMerge" -> fileSizes(dir)
      steps.result()
    }
    val (first, second) = (run(), run())
    first.zip(second).foreach { case ((step, a), (_, b)) =>
      val differ = (a.keySet ++ b.keySet).toSeq.sorted.filter(f => a.get(f) != b.get(f))
      assert(differ.isEmpty, s"$step: " + differ.map(f => s"$f ${a.get(f)} vs ${b.get(f)}").mkString(", "))
    }
  }

  test("manifest bytes are the visible generations' bytes, with a dead generation's dir on disk") {
    lifecycle.foreach { s =>
      val m = s.index.manifest
      assert((m.postingsBytes, m.docmetaBytes) == s.visibleBytes, s.name)
    }
    val crashed = stepNamed("append over a dead dir")
    assert(crashed.postingsDirs.size > crashed.index.liveGens.size, "the dead dir is on disk")
    val forced = stepNamed("forceMerge")
    assert(forced.postingsDirs == Set(s"gen=${forced.index.manifest.generation}"),
      "forceMerge reclaims every generation its manifest does not show")
  }
}

object CommitPathSpec {
  /** One lifecycle step: the Spark work it started, the index it committed,
    * the committed parquet's re-aggregated segment stats, the bytes of the
    * visible generations and the gen dirs on disk right after it. */
  final case class Step(name: String, work: SparkWork.Work, index: BuiltIndex,
                        reference: Map[Int, (Long, Long, Long, Long, Long)],
                        visibleBytes: (Long, Long), postingsDirs: Set[String])
}
