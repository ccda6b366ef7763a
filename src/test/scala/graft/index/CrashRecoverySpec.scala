package graft.index

import java.io.{File, RandomAccessFile}

import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite

import graft.{TestDirs, TestSpark}
import graft.search.{BoolQ, IndexSearcher, MatchAllQ, Query, TermQ}
import graft.streaming.StreamingIndexer

/** A crash at a commit point leaves the previous generation readable, and
  * re-running the operation gives what an uncrashed run gives.
  *
  * Two crash states, each over a byte copy of one fixture index (a build,
  * two small appends and a delete):
  *  - an append, a micro-batch or a delete whose data and manifest file are
  *    written but whose manifest marker is not (the newest
  *    `manifest/v=N/_SUCCESS` is removed after the operation);
  *  - a merge whose output generation was left half written by an earlier
  *    attempt (a live generation copied to `gen=generation+1`, one part
  *    file truncated).
  */
class CrashRecoverySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cfg = BuildConfig(numSegments = 2, chunkDocs = 128)

  private def text(i: Long): String =
    s"alpha w${i % 13} common${i % 3} pad${i % 29} " +
      (if (i % 4 == 0) "del " else "") + (if (i % 5 == 0) "gone " else "")

  private def docs(ids: Seq[Long]) = ids.map(i => (i, text(i))).toDF("doc_id", "text")

  private def append(dir: String, n: Int): BuiltIndex = {
    val from = IndexIO.committed(spark, dir).nextDocBase
    IndexBuilder.append(spark, docs(from until from + n), "doc_id", "text", dir, cfg)
  }

  /** Generation 1 holds a build of 300 docs, 2 and 3 small appends; the
    * delete leaves tombstones in every generation. */
  private lazy val fixture: String = {
    val dir = TestDirs.fresh("graft-crash-fixture")
    IndexBuilder.build(spark, docs(0L until 300L), "doc_id", "text", dir, cfg)
    append(dir, 30)
    append(dir, 20)
    IndexOps.deleteByTerm(spark, dir, "del")
    dir
  }

  private def copyOfFixture(name: String): String = {
    val dir = TestDirs.fresh(s"graft-crash-$name")
    FileUtils.copyDirectory(new File(fixture), new File(dir))
    dir
  }

  private val queries: Seq[Query] = Seq(TermQ("common1"), TermQ("gone"), MatchAllQ,
    BoolQ(must = Seq(TermQ("alpha")), mustNot = Seq(TermQ("w3"))))

  /** A reader's answers on the committed index: the top 20 hits and the
    * count of every query. */
  private def answers(dir: String) = {
    val s = new IndexSearcher(new BuiltIndex(dir, IndexIO.committed(spark, dir)))
    queries.map(q => (s.search(spark, q, 20).collect().toSeq, s.count(spark, q)))
  }

  /** What a commit lists and sums, without its byte counts. */
  private def shape(m: Manifest) =
    (m.generation, m.liveGens, m.deleteGen, m.deleteGens, m.deletedCount, m.stats, m.segments)

  private def crashBeforeMarker(name: String)(op: String => Any): Unit = {
    val clean = copyOfFixture(s"$name-clean")
    op(clean)
    val dir = copyOfFixture(name)
    val before = IndexIO.committed(spark, dir)
    val answered = answers(dir)
    op(dir)
    val newest = new File(s"$dir/manifest").listFiles().map(_.getName.drop(2).toLong).max
    assert(new File(s"$dir/manifest/v=$newest/_SUCCESS").delete())
    assert(IndexIO.readManifest(spark, dir).contains(before), "the previous manifest after the crash")
    assert(answers(dir) == answered, "the previous answers after the crash")
    op(dir)
    assert(shape(IndexIO.committed(spark, dir)) == shape(IndexIO.committed(spark, clean)))
    assert(answers(dir) == answers(clean))
  }

  private def halfWrittenOutput(name: String)(merge: String => BuiltIndex): Unit = {
    val clean = copyOfFixture(s"$name-clean")
    val cleanOut = merge(clean)
    val dir = copyOfFixture(name)
    val m = IndexIO.committed(spark, dir)
    val next = m.generation + 1
    for (tree <- Seq("postings", "docmeta"))
      FileUtils.copyDirectory(new File(s"$dir/$tree/gen=${m.liveGens.last}"), new File(s"$dir/$tree/gen=$next"))
    val part = new File(s"$dir/postings/gen=$next").listFiles().filter(_.getName.startsWith("part-")).head
    val f = new RandomAccessFile(part, "rw")
    try f.setLength(f.length() / 2) finally f.close()
    assert(IndexIO.unlisted(spark, dir, m).filter(_.uncommitted.nonEmpty)
      .map(u => u.tree -> u.uncommitted) == Seq("postings" -> Seq(next), "docmeta" -> Seq(next)))
    assert(answers(dir) == answers(fixture), "readers never open the unlisted generation")
    val out = merge(dir)
    assert(out.manifest.liveGens.contains(next))
    assert(shape(out.manifest) == shape(cleanOut.manifest))
    assert(answers(dir) == answers(clean))
    assert(IndexIO.unlisted(spark, dir, out.manifest).forall(u => u.uncommitted.isEmpty && u.superseded.isEmpty))
  }

  test("append: a crash before the manifest marker keeps the previous index; the retry equals a clean run") {
    crashBeforeMarker("append")(append(_, 25))
  }

  test("indexBatch: a crash before the manifest marker keeps the previous index; the retry equals a clean run") {
    crashBeforeMarker("batch")(StreamingIndexer.indexBatch(spark, docs(5000L until 5025L),
      "doc_id", "text", _, cfg, batchId = 7L))
  }

  test("deleteByTerm: a crash before the manifest marker keeps the previous index; the retry equals a clean run") {
    crashBeforeMarker("delete")(IndexOps.deleteByTerm(spark, _, "gone"))
  }

  test("maybeMerge over a half-written output generation: readers never open it; the merge equals a clean run") {
    halfWrittenOutput("tiered") { dir =>
      IndexOps.maybeMerge(spark, dir,
        IndexOps.MergePolicy(smallGenBytes = IndexIO.dirBytes(spark, s"$dir/postings/gen=1")))
    }
  }

  test("forceMerge over a half-written output generation: readers never open it; the merge equals a clean run") {
    halfWrittenOutput("force")(IndexOps.forceMerge(spark, _))
  }

  test("the gen dirs a manifest does not list, by tree: uncommitted above its counter, superseded below") {
    val dir = TestDirs.fresh("graft-crash-unlisted")
    val m = Manifest(generation = 4L, liveGens = Seq(1L, 4L), numSegments = 0, segmentSize = 128L,
      stats = IndexStats.of(Nil), segments = Nil, corpusSha = "", deleteGen = 2L, deleteGens = Seq(2L))
    val onDisk = Map("postings" -> Seq(1L, 2L, 4L, 5L), "docmeta" -> Seq(1L, 4L, 3L, 6L),
      "termvectors" -> Seq(4L, 1L), "deletes" -> Seq(1L, 2L, 3L))
    for ((tree, gens) <- onDisk; g <- gens) assert(new File(s"$dir/$tree/gen=$g").mkdirs())
    // neither a file nor a dir outside the gen=N pattern is a generation
    assert(new File(s"$dir/postings/_SUCCESS").createNewFile() && new File(s"$dir/postings/gen=x").mkdirs())
    val expected = Seq(
      Unlisted("postings", uncommitted = Seq(5L), superseded = Seq(2L)),
      Unlisted("docmeta", uncommitted = Seq(6L), superseded = Seq(3L)),
      Unlisted("termvectors", uncommitted = Nil, superseded = Nil),
      Unlisted("deletes", uncommitted = Seq(3L), superseded = Seq(1L)))
    assert(IndexIO.unlisted(m, onDisk) == expected)
    assert(IndexIO.unlisted(spark, dir, m) == expected)
  }
}
