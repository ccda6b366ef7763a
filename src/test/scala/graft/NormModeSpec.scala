package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.bm25.{Bm25, NormMode, SmallFloat}
import graft.index.{BuildConfig, IndexBuilder}
import graft.search.{IndexSearcher, TermQ}

/** NormMode (SURVEY §2.4 Q1): the default Mod256 quirk stays the oracle
  * mode, and the optional JavaLucene mode (SmallFloat.intToByte4, the
  * 4-bit-mantissa encoding Apache Lucene's BM25Similarity stores) scores
  * with the decoded LENGTH_TABLE. SmallFloat is reimplemented from the
  * published algorithm and pinned by its algebraic properties here.
  */
class NormModeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("SmallFloat: exact below NumFreeValues, monotone, idempotent, decode <= input") {
    assert(SmallFloat.NumFreeValues == 24) // 255 - longToInt4(MaxValue)
    (0 until SmallFloat.NumFreeValues).foreach { i =>
      assert(SmallFloat.byte4ToInt(SmallFloat.intToByte4(i)) == i, s"exact at $i")
    }
    var prevDecoded = -1
    var prevByte = -1
    val probes = (0 to 4096) ++ Seq(65535, 1 << 20, 1 << 28, Int.MaxValue)
    probes.foreach { i =>
      val b = SmallFloat.intToByte4(i) & 0xFF
      val d = SmallFloat.byte4ToInt(b.toByte)
      assert(d <= i, s"decode($b)=$d must not exceed input $i")
      assert(b >= prevByte, s"byte encoding must be monotone at $i")
      if (b > prevByte) { assert(d > prevDecoded); prevDecoded = d; prevByte = b }
      // idempotence: encode(decode(b)) == b (decoded values are fixpoints)
      assert((SmallFloat.intToByte4(d) & 0xFF) == b, s"fixpoint at byte $b")
    }
    // all 256 byte values decode monotonically (the LENGTH_TABLE is sorted)
    val table = NormMode.lengthTable(NormMode.JavaLucene)
    assert(table.toSeq == table.sorted.toSeq)
    assert(table(0) == 0 && table(255) == SmallFloat.byte4ToInt(255.toByte))
  }

  test("Mod256 mode: encode is the raw len & 0xFF quirk; cache == legacy buildCache") {
    assert(NormMode.encode(300, NormMode.Mod256) == (300 & 0xFF).toByte)
    assert(NormMode.encode(44, NormMode.Mod256) == 44.toByte)
    val a = Bm25.buildCache(avgdl = 37.5)
    val b = Bm25.buildCacheFor(NormMode.Mod256, avgdl = 37.5)
    assert(a.sameElements(b))
  }

  test("JavaLucene mode: end-to-end scores use the SmallFloat-decoded length") {
    // one term, two docs of different lengths — closed-form BM25 check
    val docs = Seq(
      (0L, ("needle " + Seq.fill(7)("pad").mkString(" "))),          // len 8
      (1L, ("needle " + Seq.fill(99)("pad").mkString(" ")))          // len 100 (lossy in byte4)
    )
    val dir = TestDirs.fresh("graft-normjava")
    val idx = IndexBuilder.build(spark, docs.toDF("doc_id", "text"), "doc_id", "text", dir,
      BuildConfig(numSegments = 1, chunkDocs = 128, normMode = NormMode.JavaLucene))
    assert(idx.manifest.normMode == NormMode.JavaLucene)
    val s = new IndexSearcher(idx)
    val got = s.search(spark, TermQ("needle"), 2).collect().map(h => h.docId -> h.score).toMap
    val n = 2L
    val avgdl = (8 + 100) / 2.0
    val idf = Bm25.idf(2L, n) // BOTH docs contain "needle"
    def want(len: Int): Double = {
      val decoded = SmallFloat.byte4ToInt(SmallFloat.intToByte4(len))
      val cn = 1.0 / (1.2 * ((1 - 0.75) + 0.75 * decoded.toDouble / avgdl))
      idf - idf / (1.0 + 1.0 * cn)
    }
    assert(math.abs(got(0L) - want(8)) < 1e-12)
    assert(math.abs(got(1L) - want(100)) < 1e-12)
    // the two modes genuinely differ for the long doc (100 is lossy: decodes
    // to a smaller representable value), so a mode mix-up cannot hide
    assert(SmallFloat.byte4ToInt(SmallFloat.intToByte4(100)) != 100)
  }

  test("append must match the committed norm mode (fail-closed)") {
    val docs = Seq((0L, "a b c")).toDF("doc_id", "text")
    val dir = TestDirs.fresh("graft-normmix")
    IndexBuilder.build(spark, docs, "doc_id", "text", dir,
      BuildConfig(numSegments = 1, chunkDocs = 128, normMode = NormMode.JavaLucene))
    val e = intercept[IllegalArgumentException] {
      IndexBuilder.append(spark, Seq((200L, "d")).toDF("doc_id", "text"), "doc_id", "text", dir,
        BuildConfig(numSegments = 1, chunkDocs = 128))
    }
    assert(e.getMessage.contains("normMode"))
  }
}
