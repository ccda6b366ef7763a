package graft.index

import graft.analysis.{Analyzer, TermIntern, TokenSink}
import graft.codec.{ForBlock, MonotonicBlock, Varint}

/** The postings streams an index carries and its norm encoding — the
  * IndexOptions of its one field (`core/document/indexoptions.go:3-29`).
  * Offsets and payloads ride on positions. Derived once per build from
  * [[BuildConfig]] (or read back from a [[Manifest]]); the inverter, the
  * staged-chunk fingerprint, `buildOrLoad`'s reuse check and the
  * append-must-match rule all read this one value. */
private[index] final case class Streams(positions: Boolean, offsets: Boolean,
                                        payloads: Boolean, normMode: String) {
  /** An index with these streams can answer a request for `req`'s. */
  def serves(req: Streams): Boolean =
    (positions || !req.positions) && (offsets || !req.offsets) &&
      (payloads || !req.payloads) && normMode == req.normMode

  override def toString: String = s"storePositions=$positions storeOffsets=$offsets " +
    s"storePayloads=$payloads normMode=$normMode"
}

private[index] object Streams {
  def of(cfg: BuildConfig): Streams =
    Streams(cfg.storePositions, cfg.storeOffsets, cfg.storePayloads, cfg.normMode)
  def of(m: Manifest): Streams = Streams(m.hasPositions, m.hasOffsets, m.hasPayloads, m.normMode)
  val plain: Streams = Streams(positions = false, offsets = false, payloads = false,
    graft.bm25.NormMode.Mod256)
  /** The streams of a term vector's per-doc buffers. */
  val vectors: Streams = plain.copy(positions = true, offsets = true)
}

/** Growable primitive int buffer (no boxing; build-path hot). */
private[index] final class IntBuf(initial: Int = 4) {
  var a = new Array[Int](initial)
  var n = 0
  def add(v: Int): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n << 1)
    a(n) = v; n += 1
  }
}

/** One term's postings while they are built or rewritten — the in-RAM
  * `FreqProxTermsWriterPerField` (`core/index/freqproxtermswriterperfield.go:
  * 96-122`): doc, freq and norm byte per posting, plus each enabled
  * per-occurrence stream — positions, interleaved (start, end) offsets,
  * payload lengths + concatenated bytes — in posting order. The walk order
  * of (docs, freqs) recovers each posting's occurrences, so no per-posting
  * offsets are stored. Stage 1 and compaction append to it; [[blocks]]
  * flushes it. */
private[index] final class PostingsBuffer(streams: Streams) {
  var docs = new Array[Int](8)
  var freqs = new Array[Int](8)
  var norms = new Array[Byte](8)
  var n = 0
  /** Doc of the open posting (-1 before the first). */
  var lastDoc = -1
  val pos: IntBuf = if (streams.positions) new IntBuf(8) else null
  val off: IntBuf = if (streams.offsets) new IntBuf(16) else null
  private val payLen = if (streams.payloads) new IntBuf(8) else null
  private val pay = if (streams.payloads) new java.io.ByteArrayOutputStream(64) else null

  /** Opens a posting for `doc` (ascending) with no occurrences yet. */
  def addDoc(doc: Int, norm: Byte): Unit = {
    if (n == docs.length) {
      docs = java.util.Arrays.copyOf(docs, n << 1)
      freqs = java.util.Arrays.copyOf(freqs, n << 1)
      norms = java.util.Arrays.copyOf(norms, n << 1)
    }
    docs(n) = doc; freqs(n) = 0; norms(n) = norm; n += 1
    lastDoc = doc
  }

  /** One occurrence in the open posting; each argument is kept only when
    * its stream is enabled. */
  def addOccurrence(position: Int, startOffset: Int, endOffset: Int, payload: Array[Byte]): Unit = {
    freqs(n - 1) += 1
    if (pos != null) pos.add(position)
    if (off != null) { off.add(startOffset); off.add(endOffset) }
    if (pay != null) { payLen.add(payload.length); pay.write(payload, 0, payload.length) }
  }

  def totalTermFreq: Long = {
    var ttf = 0L
    var j = 0
    while (j < n) { ttf += freqs(j); j += 1 }
    ttf
  }

  /** Fixed-size blocks of [[PostingBlock.Size]] postings with impacts. One
    * pass per block over its occurrences writes every enabled stream:
    * positions as varint deltas (first absolute, then gaps — the prox
    * encoding); offsets as varint(start - prevStart) [prevStart resets per
    * posting] + varint(end - start); payloads as varint(len) + raw bytes. */
  def blocks(): Array[PostingBlock] = {
    val B = PostingBlock.Size
    val out = new Array[PostingBlock]((n + B - 1) / B)
    val payBytes = if (pay == null) null else pay.toByteArray
    var occ = 0     // occurrence cursor into pos / off pairs / payLen
    var payAt = 0   // byte cursor into payBytes
    var i = 0
    while (i < n) {
      val end = math.min(i + B, n)
      val d = new Array[Long](end - i)
      val f = new Array[Long](end - i)
      val posOut = if (pos == null) null else new java.io.ByteArrayOutputStream(4 * (end - i))
      val offOut = if (off == null) null else new java.io.ByteArrayOutputStream(8 * (end - i))
      val payOut = if (pay == null) null else new java.io.ByteArrayOutputStream(8 * (end - i))
      var j = i
      while (j < end) {
        d(j - i) = docs(j).toLong
        f(j - i) = freqs(j).toLong
        if (pos != null) {
          var prevPos = 0
          var prevStart = 0
          val occEnd = occ + freqs(j)
          while (occ < occEnd) {
            val p = pos.a(occ)
            Varint.writeUvarint(posOut, (p - prevPos).toLong)
            prevPos = p
            if (off != null) {
              val s = off.a(2 * occ)
              val e = off.a(2 * occ + 1)
              Varint.writeUvarint(offOut, (s - prevStart).toLong)
              Varint.writeUvarint(offOut, (e - s).toLong)
              prevStart = s
            }
            if (pay != null) {
              val len = payLen.a(occ)
              Varint.writeUvarint(payOut, len.toLong)
              payOut.write(payBytes, payAt, len)
              payAt += len
            }
            occ += 1
          }
        }
        j += 1
      }
      val (impF, impN) = Impacts.pareto(freqs, norms, i, end)
      out(i / B) = PostingBlock(docs(end - 1), end - i, MonotonicBlock.encode(d), ForBlock.encode(f),
        java.util.Arrays.copyOfRange(norms, i, end), impF, impN,
        if (posOut == null) null else posOut.toByteArray,
        if (offOut == null) null else offOut.toByteArray,
        if (payOut == null) null else payOut.toByteArray)
      i = end
    }
    out
  }
}

/** The one inversion path (the reference's `PerField.invert`,
  * `core/index/defaultindexingchain.go`): the analyzer's walk hands every
  * token to this sink, which appends it to its term's [[PostingsBuffer]].
  * When a doc ends, the norm of its field length is kept once per doc
  * (`PerField.finish` and the norms writer); [[withNorms]] copies it into
  * the postings when they flush, in the pass that reads them anyway.
  * Stage 1 inverts a whole chunk into one instance. With `termVectors`
  * the same walk also fills the current doc's term vector (Lucene's
  * `TermVectorsConsumerPerField` rides the same inversion), with positions
  * and offsets whatever streams the postings carry. The payload of an
  * occurrence is its ORIGINAL (pre-lowercase) token text as UTF-8 —
  * case-exact surface form the index otherwise loses, variable-length so
  * the whole varint(len) + bytes codec path is exercised. */
private[index] final class Inverter(analyzer: Analyzer, streams: Streams, intern: TermIntern,
                                    termVectors: Boolean) extends TokenSink {
  val terms = new java.util.HashMap[String, PostingsBuffer]()
  private var docNorms = new Array[Byte](64) // by doc - firstDoc
  private var firstDoc = -1
  private var doc = 0
  private var text: String = null
  // the current doc's term vector, one buffer per term (a fresh map per doc)
  private var docTerms: java.util.HashMap[String, PostingsBuffer] = null

  /** Inverts one doc (ids ascending across calls); returns its field length. */
  def invert(local: Int, content: String): Int = {
    if (firstDoc < 0) firstDoc = local
    doc = local
    text = content
    if (termVectors) docTerms = new java.util.HashMap[String, PostingsBuffer]()
    val len = analyzer.walk(content, intern, this)
    val at = local - firstDoc
    if (at >= docNorms.length) docNorms = java.util.Arrays.copyOf(docNorms, math.max(at + 1, docNorms.length << 1))
    docNorms(at) = graft.bm25.NormMode.encode(len, streams.normMode)
    len
  }

  /** `b` with each posting's norm set from its doc's. */
  def withNorms(b: PostingsBuffer): PostingsBuffer = {
    var j = 0
    while (j < b.n) { b.norms(j) = docNorms(b.docs(j) - firstDoc); j += 1 }
    b
  }

  /** The term vector of the doc [[invert]] inverted last, as `docId`'s
    * rows: one per term, with its freq, positions and offsets. */
  def vector(docId: Long): Array[TermVectorRow] = {
    val out = Array.newBuilder[TermVectorRow]
    docTerms.forEach { (t, b) =>
      val f = b.freqs(0)
      out += TermVectorRow(docId, t, f, java.util.Arrays.copyOf(b.pos.a, f),
        Array.tabulate(f)(k => b.off.a(2 * k)), Array.tabulate(f)(k => b.off.a(2 * k + 1)))
    }
    out.result()
  }

  def token(term: String, position: Int, startCp: Int, endCp: Int,
            startChar: Int, endChar: Int): Unit = {
    var b = terms.get(term)
    if (b == null) { b = new PostingsBuffer(streams); terms.put(term, b) }
    if (b.lastDoc != doc) b.addDoc(doc, 0)
    b.addOccurrence(position, startCp, endCp,
      if (streams.payloads) text.substring(startChar, endChar).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      else null)
    if (docTerms != null) {
      var v = docTerms.get(term)
      if (v == null) { v = new PostingsBuffer(Streams.vectors); v.addDoc(0, 0); docTerms.put(term, v) }
      v.addOccurrence(position, startCp, endCp, null)
    }
  }
}
