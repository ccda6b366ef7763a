package graft.index

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.{TestDirs, TestSpark}

/** Golden index bytes: one fixed corpus built under each IndexOptions
  * combination must produce exactly the recorded rows — every posting-block
  * byte array, impacts, df/ttf/termLen, docmeta and term-vector rows — and
  * so must the rewrites of a tiered merge and a force merge over it. Any
  * change to the inversion, block encoding or compaction that moves a
  * single byte fails here, whatever the queries still return.
  */
class GoldenIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Deterministic text with the analyzer's edge cases: Go-only whitespace
    * (U+00A0, U+2007, U+3000), a surrogate pair, mixed case, a stop word,
    * empty / blank / null docs, and hot terms that span several blocks per
    * segment. `del3` / `del5` tag the docs the lifecycle deletes. */
  private def corpus(from: Int, until: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(from.toLong * 7919L + until)
    val vocab = Vector("Alpha", "alpha", "ALPHA", "beta", "Beta", "gamma", "the", "Größe",
      "𝔘nicode", "delta", "eps", "zeta", "Eta", "theta")
    val seps = Vector(" ", " ", " ", "\t", "\n", "\u00a0", "\u2007", "\u3000", "  ")
    (from until until).map { i =>
      val text =
        if (i % 97 == 13) null
        else if (i % 89 == 5) ""
        else if (i % 83 == 7) " \u3000 "
        else {
          val toks = Vector.fill(1 + rnd.nextInt(24)) {
            if (rnd.nextDouble() < 0.7) vocab(rnd.nextInt(vocab.size)) else s"w${rnd.nextInt(300)}"
          } ++ (if (i % 3 == 0) Seq("del3") else Nil) ++ (if (i % 5 == 0) Seq("del5") else Nil)
          toks.map(_ + seps(rnd.nextInt(seps.size))).mkString
        }
      (i.toLong, text)
    }
  }

  private val configs: Seq[(String, BuildConfig)] = {
    val base = BuildConfig(numSegments = 2, chunkDocs = 128, stopWords = Set("the"))
    Seq(
      "plain" -> base,
      "pos" -> base.copy(storePositions = true),
      "pos+off" -> base.copy(storePositions = true, storeOffsets = true),
      "pos+pay" -> base.copy(storePositions = true, storePayloads = true),
      "pos+off+pay+tv" -> base.copy(storePositions = true, storeOffsets = true,
        storePayloads = true, storeTermVectors = true))
  }

  /** sha256 over a canonical serialization of the index's rows, sorted. */
  private def digest(idx: BuiltIndex): String = {
    val out = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(out)
    def bytes(a: Array[Byte]): Unit =
      if (a == null) d.writeInt(-1) else { d.writeInt(a.length); d.write(a) }
    def ints(a: Array[Int]): Unit =
      if (a == null) d.writeInt(-1) else { d.writeInt(a.length); a.foreach(d.writeInt) }
    def str(s: String): Unit = bytes(if (s == null) null else s.getBytes(UTF_8))

    val postings = idx.postings(spark)
      .select("segmentId", "term", "docFreq", "totalTermFreq", "blocks", "termLen")
      .as[TermPostings].collect().sortBy(p => (p.segmentId, p.term))
    postings.foreach { p =>
      d.writeInt(p.segmentId); str(p.term); d.writeInt(p.docFreq)
      d.writeLong(p.totalTermFreq); d.writeInt(p.termLen); d.writeInt(p.blocks.length)
      p.blocks.foreach { b =>
        d.writeInt(b.maxDoc); d.writeInt(b.count)
        bytes(b.docBytes); bytes(b.freqBytes); bytes(b.norms)
        ints(b.impactFreqs); ints(b.impactNorms)
        bytes(b.posBytes); bytes(b.offBytes); bytes(b.payBytes)
      }
    }
    idx.docmeta(spark).select("segmentId", "docId", "norm", "sha").as[DocMeta]
      .collect().sortBy(_.docId).foreach { m =>
        d.writeInt(m.segmentId); d.writeLong(m.docId); d.writeInt(m.norm); str(m.sha)
      }
    if (idx.manifest.hasTermVectors)
      TermVectors.readAll(spark, idx).collect().sortBy(r => (r.docId, r.term)).foreach { r =>
        d.writeLong(r.docId); str(r.term); d.writeInt(r.freq)
        ints(r.positions); ints(r.startOffsets); ints(r.endOffsets)
      }
    d.writeUTF(idx.manifest.stats.toString)
    idx.manifest.segments.foreach(s => d.writeUTF(s.copy(bytesWritten = 0L).toString))
    d.flush()
    IndexBuilder.bytesSha256Hex(out.toByteArray)
  }

  /** Digests of each config's build, then of its lifecycle: append a second
    * generation, delete `del3`, tiered-merge both generations, delete
    * `del5`, force-merge. */
  private def lifecycleDigests(): Map[String, String] =
    configs.flatMap { case (name, cfg) =>
      val dir = TestDirs.fresh(s"graft-golden-$name")
      val built = IndexBuilder.build(spark, corpus(0, 700).toDF("doc_id", "text"),
        "doc_id", "text", dir, cfg)
      val builtDigest = digest(built)
      val nb = built.nextDocBase.toInt
      IndexBuilder.append(spark, corpus(nb, nb + 200).toDF("doc_id", "text"),
        "doc_id", "text", dir, cfg)
      IndexOps.deleteByTerm(spark, dir, "del3")
      val tiered = IndexOps.maybeMerge(spark, dir)
      assert(tiered.liveGens.size == 1, s"$name: both generations merged")
      val tieredDigest = digest(tiered)
      IndexOps.deleteByTerm(spark, dir, "del5")
      Seq(s"$name/build" -> builtDigest, s"$name/maybeMerge" -> tieredDigest,
        s"$name/forceMerge" -> digest(IndexOps.forceMerge(spark, dir)))
    }.toMap

  // recorded once; a change meant to move index bytes bumps
  // Manifest.CurrentCodecVersion and records these again
  private val golden: Map[String, String] = Map(
    "plain/build" -> "158572ce624f03f207897a42cc8db685391285b073347bcb1261aac80442a52d",
    "plain/forceMerge" -> "19be33c97f1d3b573c51426865340fb123e50454ef6b7c04d3df158cd8f6d1aa",
    "plain/maybeMerge" -> "676a68219945b123716cdd72ac05ee86fff865f094a359235335f01f934c0c21",
    "pos+off+pay+tv/build" -> "1b79d3a342770d786b6c1b6dd5cbf1bf3226d3a266615cfd56deaf26852cc8fd",
    "pos+off+pay+tv/forceMerge" -> "a803cba4a421c964ba60d2f304e8abd5cee9a7754ee11bfcf19b77e455f05543",
    "pos+off+pay+tv/maybeMerge" -> "d80f78c2c9a63a97dccd9146a57cd05f44a346a33dcb9c6ddcf7d57630d0a0fb",
    "pos+off/build" -> "f51104ad9fbf3e402325eb00d2bdfee29e59ea5424729eabaff62923c22f2c15",
    "pos+off/forceMerge" -> "7ead6f7b1b9595c6312c0b3da285815e1dad6ed5d484bf9e22f1d544a0506878",
    "pos+off/maybeMerge" -> "e1881d9c00b665f1750405c0f472bc8ec7cd08a79974e1efb73c530566414370",
    "pos+pay/build" -> "2518af7aefcea0325fe25b77bbd0144cf90a07c476567d93548c972add88a3e4",
    "pos+pay/forceMerge" -> "1a05b5867b2f74cd0b80e62eb0f9a651ac0b9b170e4c7d49d28739985d0ff97a",
    "pos+pay/maybeMerge" -> "8fa0a6e5a7d78442f5afe1dfb350c9243f763168ecba2f1e503f0d6cd1dd18e1",
    "pos/build" -> "b79b0a9622fd955238295a7f21c031c127ff65da969c596fb558badef20cd3bd",
    "pos/forceMerge" -> "c00ef92149f123e434a2f77f9fd1a2516347fe2eb52446829d530878da760553",
    "pos/maybeMerge" -> "fd3ab48fe1a7ee3f1e57b3a91abdd62f5b4eddea8b0bb4aebae78627f9bcd9cc")

  test("golden index bytes: every IndexOptions combination, build and both merge rewrites") {
    val got = lifecycleDigests()
    val diff = got.filter { case (k, v) => !golden.get(k).contains(v) }
    assert(diff.isEmpty, "index bytes moved:\n" +
      got.toSeq.sorted.map { case (k, v) => s"    \"$k\" -> \"$v\"," }.mkString("\n"))
  }
}
