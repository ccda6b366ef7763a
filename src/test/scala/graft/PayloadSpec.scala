package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.analysis.{Analyzer, TermIntern, TokenSink}
import graft.index.{BuildConfig, IndexBuilder, IndexOps, Payloads}
import graft.search.TermQ

/** Per-position payload stream (BuildConfig.storePayloads — the reference's
  * payload slot in the prox encoding,
  * `core/index/freqproxtermswriterperfield.go:96-122`): analyzer production,
  * codec round-trip, read-back through the distributed Payloads reader, and
  * carry-through across appends and merges.
  */
class PayloadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val analyzer = Analyzer.standard

  // mixed-case + unicode docs: payload = ORIGINAL token, term = lowered
  private val docs: Seq[(Long, String)] = Seq(
    (0L, "Alpha beta ALPHA gamma"),
    (1L, "beta Beta BETA"),
    (2L, ""),
    (3L, "Größe äöü Alpha"),
    (4L, "alpha alpha alpha x")
  ) ++ (5L until 40L).map(i => (i, s"tok$i Alpha shared Mixed$i"))

  private def expected(term: String): Seq[(Long, Int, String)] =
    docs.flatMap { case (id, text) =>
      val toks = text.split(" ").filter(_.nonEmpty)
      toks.zipWithIndex.collect {
        case (t, i) if t.toLowerCase == term => (id, i, t)
      }
    }.sortBy(r => (r._1, r._2))

  private def build(name: String, withOffsets: Boolean) = {
    val dir = TestDirs.fresh(s"graft-$name")
    (dir, IndexBuilder.build(spark, docs.toDF("doc_id", "text"), "doc_id", "text", dir,
      BuildConfig(numSegments = 2, chunkDocs = 128, storePositions = true,
        storeOffsets = withOffsets, storePayloads = true)))
  }

  test("analyzer payloads = original (pre-lowercase) token bytes, position-aligned") {
    // the walk's surface range is what the inverter stores as the payload
    val text = "Alpha beta ALPHA"
    val alpha = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Array[Byte])]
    val len = analyzer.walk(text, new TermIntern(), new TokenSink {
      def token(term: String, position: Int, startCp: Int, endCp: Int,
                startChar: Int, endChar: Int): Unit =
        if (term == "alpha")
          alpha += ((position, startCp, endCp, text.substring(startChar, endChar).getBytes("UTF-8")))
    })
    assert(len == 3)
    assert(alpha.map(_._1) == Seq(0, 2))
    assert(alpha.map(_._4.length) == Seq(5, 5))
    assert(alpha.map(a => new String(a._4, "UTF-8")).mkString == "AlphaALPHA")
    // offsets side stream still present and aligned
    assert(alpha.flatMap(a => Seq(a._2, a._3)) == Seq(0, 5, 11, 16))
  }

  test("payload read-back: every (doc, position, payload) of a term, both offset configs") {
    for (withOff <- Seq(true, false)) {
      val (_, idx) = build(s"pay-off$withOff", withOff)
      val got = Payloads.forTerms(spark, idx, Set("alpha"), _ => true)
        .collect()
        .map(r => (r.docId, r.position, new String(r.payload, "UTF-8")))
        .sortBy(r => (r._1, r._2)).toSeq
      assert(got == expected("alpha"), s"withOffsets=$withOff")
    }
  }

  test("unicode payloads round-trip byte-exact (multi-byte UTF-8 originals)") {
    val (_, idx) = build("pay-uni", withOffsets = false)
    val got = Payloads.forTerms(spark, idx, Set("größe"), _ => true)
      .collect().map(r => new String(r.payload, "UTF-8")).toSeq
    assert(got == Seq("Größe"))
  }

  test("payloads carry through appends (multi-generation read)") {
    val (dir, _) = build("pay-append", withOffsets = false)
    val more = Seq((200L, "Alpha APPENDED"), (201L, "alpha again"))
    val idx2 = IndexBuilder.append(spark, more.toDF("doc_id", "text"), "doc_id", "text", dir,
      BuildConfig(numSegments = 2, chunkDocs = 128, storePositions = true, storePayloads = true))
    val got = Payloads.forTerms(spark, idx2, Set("alpha"), _ >= 200L)
      .collect().map(r => (r.docId, new String(r.payload, "UTF-8"))).sortBy(_._1).toSeq
    assert(got == Seq((200L, "Alpha"), (201L, "alpha")))
    // pre-append docs still intact
    val old = Payloads.forTerms(spark, idx2, Set("alpha"), _ < 200L)
      .collect().map(r => (r.docId, r.position, new String(r.payload, "UTF-8")))
      .sortBy(r => (r._1, r._2)).toSeq
    assert(old == expected("alpha"))
  }

  test("payloads survive forceMerge with tombstone remap (merge-carry)") {
    val (dir, _) = build("pay-merge", withOffsets = true)
    IndexOps.deleteByTerm(spark, dir, "beta") // kills docs 0, 1
    val merged = IndexOps.forceMerge(spark, dir)
    assert(merged.manifest.hasPayloads)
    val sGot = Payloads.forTerms(spark, merged, Set("alpha"), _ => true)
      .collect().map(r => new String(r.payload, "UTF-8")).sorted.toSeq
    // docs containing 'beta' (0 and 1) are gone; doc 0 carried Alpha+ALPHA
    val sWant = docs.filterNot(_._2.toLowerCase.split(" ").contains("beta"))
      .flatMap(_._2.split(" ").filter(_.toLowerCase == "alpha")).sorted.toSeq
    assert(sGot == sWant)
  }

  test("append must match the committed payload setting (fail-closed)") {
    val (dir, _) = build("pay-mismatch", withOffsets = false)
    val more = Seq((200L, "x")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      IndexBuilder.append(spark, more, "doc_id", "text", dir,
        BuildConfig(numSegments = 2, chunkDocs = 128, storePositions = true))
    }
    assert(e.getMessage.contains("storePayloads"))
  }

  test("buildOrLoad rebuilds when the committed index lacks requested features") {
    val dir = TestDirs.fresh("graft-bol-feat")
    val df = docs.toDF("doc_id", "text")
    val plain = IndexBuilder.buildOrLoad(spark, df, "doc_id", "text", dir,
      BuildConfig(numSegments = 2, chunkDocs = 128), inputPath = "memA")
    assert(!plain.manifest.hasPositions)
    // same corpus, richer features: reuse would throw at phrase/payload time
    val rich = IndexBuilder.buildOrLoad(spark, df, "doc_id", "text", dir,
      BuildConfig(numSegments = 2, chunkDocs = 128, storePositions = true, storePayloads = true),
      inputPath = "memA")
    assert(rich.manifest.hasPositions && rich.manifest.hasPayloads)
    // matching features: plain reuse (same generation back)
    val again = IndexBuilder.buildOrLoad(spark, df, "doc_id", "text", dir,
      BuildConfig(numSegments = 2, chunkDocs = 128, storePositions = true, storePayloads = true),
      inputPath = "memA")
    assert(again.manifest.generation == rich.manifest.generation)
    // feature SUBSET request: the richer committed index serves it — no
    // destructive rebuild stripping positions/payloads out from under
    // other consumers of the same dir (reuse keeps the generation AND the
    // committed features)
    val subset = IndexBuilder.buildOrLoad(spark, df, "doc_id", "text", dir,
      BuildConfig(numSegments = 2, chunkDocs = 128), inputPath = "memA")
    assert(subset.manifest.generation == rich.manifest.generation)
    assert(subset.manifest.hasPositions && subset.manifest.hasPayloads)
    // but a norm-mode mismatch always rebuilds (scores would differ)
    val renormed = IndexBuilder.buildOrLoad(spark, df, "doc_id", "text", dir,
      BuildConfig(numSegments = 2, chunkDocs = 128, normMode = graft.bm25.NormMode.JavaLucene),
      inputPath = "memA")
    assert(renormed.manifest.normMode == graft.bm25.NormMode.JavaLucene)
  }
}
