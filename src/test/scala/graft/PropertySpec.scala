package graft

import org.scalacheck.{Gen, Prop, Properties}

import graft.analysis.Analyzer
import graft.bm25.Bm25
import graft.codec.{ForBlock, Varint}
import graft.index.IndexBuilder
import graft.search.{DISI, PostingsScorer, TermReader, TopKCollector}

/** ScalaCheck property suite (SURVEY.md §5 implications): the algebraic
  * laws the engine's kernels must satisfy for arbitrary inputs, not just
  * the seeded fixtures.
  */
object EngineProperties extends Properties("graft") {

  val analyzer = Analyzer.standard

  // ---- codec laws ------------------------------------------------------
  property("ForBlock decode∘encode == id") =
    Prop.forAll(Gen.listOf(Gen.chooseNum(0L, 1L << 40))) { xs =>
      ForBlock.decode(ForBlock.encode(xs.toArray)).toSeq == xs
    }

  property("uvarint round-trip") =
    Prop.forAll(Gen.chooseNum(0L, Long.MaxValue)) { v =>
      val out = new java.io.ByteArrayOutputStream()
      Varint.writeUvarint(out, v)
      Varint.readUvarint(out.toByteArray, 0)._1 == v
    }

  property("MonotonicBlock decode∘encode == id (arbitrary longs)") =
    Prop.forAll(Gen.listOf(Gen.chooseNum(-(1L << 40), 1L << 40))) { xs =>
      graft.codec.MonotonicBlock.decode(
        graft.codec.MonotonicBlock.encode(xs.toArray)).toSeq == xs
    }

  property("MonotonicBlock beats FOR on dense ascending docId runs (block-sized)") =
    Prop.forAll(Gen.chooseNum(0, 1 << 20), Gen.chooseNum(16, 128)) { (base, n) =>
      // a dense run base..base+n-1 (the common docId block shape): the
      // linear model makes residuals all-zero -> near-constant size, while
      // FOR pays log2(n) bits per value. (Below ~8 values the fixed model
      // header dominates and the sizes tie — real blocks are 128.)
      val xs = Array.tabulate(n)(i => (base + i).toLong)
      val mono = graft.codec.MonotonicBlock.encode(xs).length
      val forb = ForBlock.encode(xs).length
      mono < forb
    }

  property("zigzag round-trip") =
    Prop.forAll { (v: Long) => Varint.zigzagDecode(Varint.zigzagEncode(v)) == v }

  // ---- analyzer laws ---------------------------------------------------
  val token: Gen[String] = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
  val doc: Gen[List[String]] = Gen.listOf(token)

  property("analyze(a + ' ' + b) == analyze(a) ++ analyze(b)") =
    Prop.forAll(doc, doc) { (a, b) =>
      val (sa, sb) = (a.mkString(" "), b.mkString(" "))
      analyzer.terms(sa + " " + sb) == analyzer.terms(sa) ++ analyzer.terms(sb)
    }

  property("termFreqCounts sums to field length") =
    Prop.forAll(doc) { ws =>
      val (tf, len) = analyzer.termFreqs(ws.mkString(" "))
      tf.values.sum == len && len == ws.size
    }

  // text pieces: Go-only whitespace (U+00A0, U+2007, U+202F, U+3000, which
  // Java's isWhitespace misses), surrogate pairs (U+1D518 has no case,
  // U+10400 lowercases to U+10428), mixed case and stop words
  val piece: Gen[String] = Gen.oneOf(
    Gen.oneOf(" ", "\t", "\n", "\u00a0", "\u2007", "\u202f", "\u3000", "  "),
    Gen.oneOf("the", "The", "THE", "a", "A", "Alpha", "alpha", "ÄRGER", "\ud835\udd18x",
      "\ud801\udc00\ud801\udc00", "mIxEd\ud801\udc00"),
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString))

  property("walk == tokenize: (term, position, offsets), length and surface ranges") =
    Prop.forAll(Gen.listOf(piece)) { ps =>
      val text = ps.mkString
      val stopped = new Analyzer(Set("the", "a"))
      val walked = Vector.newBuilder[graft.analysis.Token]
      var surfaceOk = true
      val len = stopped.walk(text, new graft.analysis.TermIntern(), new graft.analysis.TokenSink {
        def token(term: String, position: Int, startCp: Int, endCp: Int,
                  startChar: Int, endChar: Int): Unit = {
          walked += graft.analysis.Token(term, position, startCp, endCp)
          val surface = text.substring(startChar, endChar)
          val lowered = new String(surface.codePoints().map(Character.toLowerCase(_)).toArray, 0,
            surface.codePointCount(0, surface.length))
          surfaceOk &&= lowered == term
        }
      })
      val ref = stopped.tokenize(text)
      walked.result() == ref && len == ref.size && surfaceOk
    }

  property("interned termFreqCounts == plain (and hot terms share one String)") =
    Prop.forAll(Gen.listOf(doc)) { docs =>
      val intern = new graft.analysis.TermIntern(initialPow2 = 4) // force growth
      docs.forall { ws =>
        val text = ws.mkString(" ")
        val (a, la) = analyzer.termFreqCounts(text)
        val (b, lb) = analyzer.termFreqCounts(text, intern)
        la == lb && a == b
      } && {
        // same term interned twice returns the identical instance
        val sb1 = new java.lang.StringBuilder("sametoken")
        val sb2 = new java.lang.StringBuilder("sametoken")
        intern.intern(sb1) eq intern.intern(sb2)
      }
    }

  // ---- posting block + scorer laws -------------------------------------
  val postingList: Gen[Array[Int]] =
    Gen.nonEmptyListOf(Gen.chooseNum(1, 8)).map(_.scanLeft(0)(_ + _).tail.toArray)

  property("blocks round-trip docIds and nextDoc() streams them in order") =
    Prop.forAll(postingList) { docs =>
      val freqs = docs.map(d => 1 + (d % 5))
      val norms = docs.map(d => ((d % 200) + 1).toByte)
      val blocks = IndexBuilder.buildBlocks(docs, freqs, norms)
      val cache = Bm25.buildCache(avgdl = 30.0)
      val reader = new TermReader(
        graft.index.TermPostings(0, "t", docs.length, freqs.map(_.toLong).sum, blocks, termLen = 1), cache)
      val sc = new PostingsScorer(reader, 1.0, cache, scoring = true)
      val streamed = Iterator.continually(sc.nextDoc()).takeWhile(_ != DISI.NO_MORE).toArray
      streamed.sameElements(docs)
    }

  property("TopKCollector == sort-take-k with (score desc, docId asc)") =
    Prop.forAll(Gen.chooseNum(1, 12),
                Gen.nonEmptyListOf(Gen.chooseNum(1, 4))) { (k, scores0) =>
      // docIds ascending (the kernel contract), many ties among scores
      val hits = scores0.zipWithIndex.map { case (s, i) => (i.toLong, s / 2.0) }
      val c = new TopKCollector(k, docBase = 0L, after = None)
      hits.foreach { case (d, s) => c.collect(d.toInt, s) }
      val expect = hits.sortBy { case (d, s) => (-s, d) }.take(k)
      c.results.toSeq == expect
    }
}
