package graft.search

import graft.bm25.Bm25
import graft.codec.ForBlock
import graft.index.PostingBlock

/** Doc-id set iterator conventions (reference `PostingsEnum`/DISI):
  * docId starts at -1, `NO_MORE` = Int.MaxValue, `advance(t)` lands on the
  * first doc >= t. All docIds here are segment-local ints.
  */
object DISI { val NO_MORE: Int = Int.MaxValue }

trait Scorer {
  def docId: Int
  def nextDoc(): Int
  def advance(target: Int): Int
  /** Score of the current doc (undefined unless positioned on a match). */
  def score(): Double
  def cost: Long
  /** Upper bound of score() over all remaining docs (for WAND pruning). */
  def maxScore: Double
  /** Upper bound of score() within the block covering `target`, decoding
    * nothing — Lucene's `getMaxScore(upTo)` after `advanceShallow`. Only
    * postings have blocks; every other scorer answers its global bound. */
  def blockMaxScoreUpTo(target: Int): Double = maxScore
  /** Last doc of the block covering `target`, the window [[blockMaxScoreUpTo]]
    * holds for (`advanceShallow`); NO_MORE when the scorer has no blocks. */
  def blockEndUpTo(target: Int): Int = DISI.NO_MORE
}

/** How a scorer tree is built — Lucene 8.11's `ScoreMode`, and the one
  * place that decides where a tree may prune:
  *  - `Matches`: no scores (every score is 0.0, no freq decode);
  *  - `Complete`: every match scored, nothing skipped;
  *  - `TopScores(minCompetitive)`: the root of a top-k, whose score IS the
  *    collected score — it may skip what cannot score strictly above the
  *    collector's live threshold.
  * A clause whose score is only a part of its parent's is built under
  * [[nested]], and a subtree whose score is discarded (ConstQ, FILTER,
  * MUST_NOT) under `Matches`, so a threshold reaches only the sites whose
  * score is the collected score. */
sealed abstract class ScoreMode(val scores: Boolean, val prune: Option[() => Double]) {
  def nested: ScoreMode = if (scores) ScoreMode.Complete else ScoreMode.Matches
}

object ScoreMode {
  case object Matches extends ScoreMode(false, None)
  case object Complete extends ScoreMode(true, None)
  final case class TopScores(minCompetitive: () => Double) extends ScoreMode(true, Some(minCompetitive))
}

/** Shared, read-only decoded view of one term's posting list within one
  * segment. Created ONCE per (partition, term) and reused by every query of
  * a batch: block decode and impact maxima are memoized here, so a
  * 6000-query batch decodes each block once instead of 6000 times (the
  * per-query [[PostingsScorer]] holds only cursor state).
  *
  * `blockG`/`maxG` memoize the weight-independent BM25 factor
  * g(f, n) = 1 - 1/(1 + f·cache[n]), valid for every query of a batch
  * because the norm cache depends only on global avgdl. Pruning BOUNDS are
  * then weight·g — NOT the exact score path (which keeps the reference's
  * exact `w - w/(1+f·c)` op order) — so they are inflated by [[TermReader.BoundPad]]
  * to stay a true upper bound under fp reassociation; safe pruning is all
  * WAND needs for rank identity.
  */
final class TermReader(val tp: graft.index.TermPostings, cache: Array[Double]) {
  import graft.index.PostingBlock
  val blocks: Array[PostingBlock] = tp.blocks
  private val memoDocs = new Array[Array[Int]](blocks.length)
  private val memoFreqs = new Array[Array[Int]](blocks.length)
  private val memoG = {
    val a = new Array[Double](blocks.length)
    java.util.Arrays.fill(a, Double.NaN)
    a
  }

  val cost: Long = { var s = 0L; var j = 0; while (j < blocks.length) { s += blocks(j).count; j += 1 }; s }

  // decoded arrays are memoized as INTs (local docIds and freqs are 32-bit
  // by construction): batch kernels re-traverse these arrays once per
  // query, and halving their footprint halves the dominant memory traffic
  // of the whole-vocabulary batch (the measured 8->32 limiter is the
  // shared memory system, not cpu — BENCH/BASELINE.md host diagnostics)
  private def toInts(l: Array[Long]): Array[Int] = {
    val out = new Array[Int](l.length)
    var i = 0
    while (i < l.length) { out(i) = l(i).toInt; i += 1 }
    out
  }

  def docsOf(bi: Int): Array[Int] = {
    var d = memoDocs(bi)
    if (d == null) { d = toInts(graft.codec.MonotonicBlock.decode(blocks(bi).docBytes)); memoDocs(bi) = d }
    d
  }

  def freqsOf(bi: Int): Array[Int] = {
    var f = memoFreqs(bi)
    if (f == null) { f = toInts(ForBlock.decode(blocks(bi).freqBytes)); memoFreqs(bi) = f }
    f
  }

  // Fused scoring stream: docId<<32 | min(freq,FreqSat)<<8 | normByte, one
  // long per posting. A scoring traversal previously touched THREE arrays
  // per visit (docs[], freqs[], norms[] — 9 B across three cache-line
  // streams); the fused array is 8 B in ONE stream, so the whole-vocab
  // batch (whose wall tracks the host memory probe, BENCH/BASELINE.md
  // §host diagnostics) reads fewer bytes and strides fewer streams per
  // posting. Ordering: docId occupies the high 32 bits and local docIds
  // are non-negative ints, so the longs sort exactly like the docIds and
  // the in-block binary search runs on the packed values directly.
  // Saturation: freqs >= FreqSat (2^24-1, unseen in practice) store the
  // sentinel and are re-read exactly from freqsOf — scores stay
  // bit-identical in every case.
  private val memoPacked = new Array[Array[Long]](blocks.length)

  def packedOf(bi: Int): Array[Long] = {
    var p = memoPacked(bi)
    if (p == null) {
      val docs = graft.codec.MonotonicBlock.decode(blocks(bi).docBytes)
      val freqs = ForBlock.decode(blocks(bi).freqBytes)
      val norms = blocks(bi).norms
      p = new Array[Long](docs.length)
      var i = 0
      while (i < docs.length) {
        val f = freqs(i)
        val fr = if (f >= TermReader.FreqSat) TermReader.FreqSat.toLong else f
        p(i) = (docs(i) << 32) | (fr << 8) | (norms(i) & 0xFFL)
        i += 1
      }
      memoPacked(bi) = p
    }
    p
  }

  /** max over the block's (freq, norm) impacts of g(f, n). */
  def blockG(bi: Int): Double = {
    var m = memoG(bi)
    if (m.isNaN) {
      m = 0.0
      val blk = blocks(bi)
      var p = 0
      while (p < blk.impactFreqs.length) {
        val g = 1.0 - 1.0 / (1.0 + blk.impactFreqs(p).toDouble * cache(blk.impactNorms(p)))
        if (g > m) m = g
        p += 1
      }
      memoG(bi) = m
    }
    m
  }

  lazy val maxG: Double = {
    var m = 0.0; var j = 0
    while (j < blocks.length) { val g = blockG(j); if (g > m) m = g; j += 1 }
    m
  }

  // decoded positions per block: (flat ascending positions, start offset of
  // each posting's run; starts has count+1 entries). Memoized like docs/freqs
  // — a batch of phrase queries decodes each prox block once.
  private val memoPos = new Array[(Array[Int], Array[Int])](blocks.length)

  /** Positions of block `bi` (requires a positions-enabled index). */
  def positionsOf(bi: Int): (Array[Int], Array[Int]) = {
    var m = memoPos(bi)
    if (m == null) {
      val blk = blocks(bi)
      if (blk.posBytes == null)
        throw new IllegalStateException(
          s"term '${tp.term}': index has no positions stream — build with BuildConfig.storePositions=true to run phrase queries")
      m = graft.codec.ProxStreams.decodePositions(blk.posBytes, freqsOf(bi))
      memoPos(bi) = m
    }
    m
  }

  // decoded offsets per block: (flat starts, flat ends, per-posting run
  // starts) — aligned with positionsOf; memoized the same way
  private val memoOff = new Array[(Array[Int], Array[Int], Array[Int])](blocks.length)

  // decoded payloads per block, aligned with positionsOf; memoized the same way
  private val memoPay = new Array[(Array[Array[Byte]], Array[Int])](blocks.length)

  /** Per-occurrence payloads of block `bi` (requires a payloads-enabled
    * index, BuildConfig.storePayloads). */
  def payloadsOf(bi: Int): (Array[Array[Byte]], Array[Int]) = {
    var m = memoPay(bi)
    if (m == null) {
      val blk = blocks(bi)
      if (blk.payBytes == null)
        throw new IllegalStateException(
          s"term '${tp.term}': index has no payloads stream — build with BuildConfig.storePayloads=true")
      m = graft.codec.ProxStreams.decodePayloads(blk.payBytes, freqsOf(bi))
      memoPay(bi) = m
    }
    m
  }

  /** Character offsets of block `bi` (requires an offsets-enabled index,
    * IndexOptions ..._AND_OFFSETS). */
  def offsetsOf(bi: Int): (Array[Int], Array[Int], Array[Int]) = {
    var m = memoOff(bi)
    if (m == null) {
      val blk = blocks(bi)
      if (blk.offBytes == null)
        throw new IllegalStateException(
          s"term '${tp.term}': index has no offsets stream — build with BuildConfig.storeOffsets=true")
      m = graft.codec.ProxStreams.decodeOffsets(blk.offBytes, freqsOf(bi))
      memoOff(bi) = m
    }
    m
  }
}

object TermReader {
  /** Saturation sentinel for the fused stream's 24-bit freq field: a stored
    * freq of exactly this value means "read the exact freq from freqsOf". */
  val FreqSat: Int = 0xFFFFFF

  /** Relative inflation for the weight·g pruning bound. */
  val BoundPad: Double = 1.0 + 4e-16
  /** Absolute inflation (scaled by weight). The exact score path computes
    * w - w/(1+f·c) while the bound path computes w·g with g = 1 - 1/(1+f·c);
    * the two divisions round differently by up to ~eps·(1-g)·w ABSOLUTE,
    * which exceeds a relative pad on w·g whenever g is small. A
    * weight-scaled absolute term covers that regime; together the padded
    * bound w·g·BoundPad + w·AbsPad dominates the exact score for every
    * (f, c) — safe pruning needs only an upper bound, not tightness. */
  val AbsPad: Double = 4e-16

  /** The certified upper bound of the exact score given weight and g. */
  @inline def bound(weight: Double, g: Double): Double =
    weight * g * BoundPad + weight * AbsPad
}

/** Posting-list scorer over a shared [[TermReader]]: per-query cursor only.
  * `advance` binary-searches block maxDocs (the skip list's role,
  * `core/index/multilevelskiplistwriter.go`) then binary-searches in-block.
  * Scoring per `core/search/termscorer.go:51-62` + `similaritybm25.go:235-246`.
  */
final class PostingsScorer(
    val reader: TermReader,
    weight: Double,
    cache: Array[Double],
    scoring: Boolean) extends Scorer {

  private val blocks = reader.blocks
  private var bi = -1
  private var i = -1
  // scoring traversals walk the FUSED doc|freq|norm stream (one cache-line
  // stream per visit); non-scoring traversals walk the narrow 4-byte docId
  // array (half the bytes of the fused stream — filter/count paths never
  // pay for freq+norm they don't read)
  private var docs: Array[Int] = _
  private var packed: Array[Long] = _
  private var len = 0
  private var loaded = false
  private var cur = -1

  def cost: Long = reader.cost

  lazy val maxScore: Double =
    if (!scoring) 0.0 else TermReader.bound(weight, reader.maxG)

  /** The block's padded impact bound — the `MaxScoreCache` analogue
    * (`core/search/impactsdisi.go`). Returns 0 if exhausted. */
  override def blockMaxScoreUpTo(target: Int): Double = {
    val j = findBlock(math.max(bi, 0), target)
    if (j >= blocks.length) 0.0 else TermReader.bound(weight, reader.blockG(j))
  }

  /** maxDoc of the block covering `target` (NO_MORE when exhausted). */
  override def blockEndUpTo(target: Int): Int = {
    val j = findBlock(math.max(bi, 0), target)
    if (j >= blocks.length) DISI.NO_MORE else blocks(j).maxDoc
  }

  private def findBlock(from: Int, target: Int): Int = {
    var lo = from
    var hi = blocks.length - 1
    if (lo >= blocks.length || blocks(hi).maxDoc < target) return blocks.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (blocks(mid).maxDoc < target) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def loadBlock(): Unit = {
    if (scoring) { packed = reader.packedOf(bi); len = packed.length }
    else { docs = reader.docsOf(bi); len = docs.length }
    loaded = true
  }

  @inline private def docAt(j: Int): Int =
    if (scoring) (packed(j) >>> 32).toInt else docs(j)

  def docId: Int = cur

  def nextDoc(): Int = {
    if (cur == DISI.NO_MORE) return cur
    i += 1
    if (!loaded || i >= len) {
      bi += 1
      if (bi >= blocks.length) { cur = DISI.NO_MORE; return cur }
      loadBlock(); i = 0
    }
    cur = docAt(i)
    cur
  }

  def advance(target: Int): Int = {
    if (cur == DISI.NO_MORE) return cur
    if (cur >= target) return cur
    if (!loaded || blocks(bi).maxDoc < target) {
      val j = findBlock(math.max(bi, 0), target)
      if (j >= blocks.length) { cur = DISI.NO_MORE; return cur }
      if (j != bi || !loaded) { bi = j; loadBlock(); i = 0 }
    } else if (i < 0) i = 0
    // binary search within the block (block maxDoc >= target guarantees a hit)
    var lo = math.max(i, 0)
    var hi = len - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (docAt(mid) < target) lo = mid + 1 else hi = mid
    }
    i = lo
    cur = docAt(i)
    cur
  }

  def freq: Int = {
    val f = ((packed(i) >>> 8) & 0xFFFFFFL).toInt
    if (f == TermReader.FreqSat) reader.freqsOf(bi)(i) else f
  }
  def normByte: Int = (packed(i) & 0xFFL).toInt

  /** Positions of the CURRENT posting as (flat array, start, end) — zero
    * per-call allocation; the block's prox stream is decoded once and
    * memoized in the shared reader. */
  def currentPositions: (Array[Int], Int, Int) = {
    val (flat, starts) = reader.positionsOf(bi)
    (flat, starts(i), starts(i + 1))
  }

  def score(): Double =
    if (scoring) {
      // one fused load yields freq and norm (identical values to the old
      // freqs(i)/norms(i) reads — Bm25.score's op order is unchanged, so
      // scores are bit-identical)
      val pk = packed(i)
      val f = ((pk >>> 8) & 0xFFFFFFL).toInt
      Bm25.score(weight,
        if (f == TermReader.FreqSat) reader.freqsOf(bi)(i) else f,
        (pk & 0xFFL).toInt, cache)
    } else 0.0
}

/** Per-anchor minimal-window computation for sloppy phrases — the
  * deterministic enumeration rule documented on [[PhraseQ]] (the reference
  * reserves the spans surface without implementing it,
  * `core/search/spans/spans.go`, so the rule is our spec). Shared by the
  * distributed [[PhraseScorer]] and the in-heap
  * [[graft.memory.MemoryIndex]] so the two engines agree bit-for-bit.
  */
object SloppyMatch {

  /** Minimal width of a window containing the fixed anchor `p0` and one
    * value from each ascending array in `adjs` (the other terms' ADJUSTED
    * positions, pos - termIndex). Int.MaxValue when some array is empty.
    *
    * The optimum has threshold form: if A is the largest chosen
    * above-anchor deviation, every list whose closest-above deviation is
    * <= A may take it (never widens the window), the rest are forced below
    * — so scanning A over the <= n distinct closest-above deviations (plus
    * 0) and charging max(chosen above) + max(forced below) visits the
    * optimal assignment. O(n^2) with n = phrase length - 1.
    */
  def minWidthAt(p0: Int, adjs: Array[Array[Int]]): Int = {
    val n = adjs.length
    val below = new Array[Int](n) // deviation to closest adj <= p0 (MaxValue = none)
    val above = new Array[Int](n) // deviation to closest adj >= p0
    var i = 0
    while (i < n) {
      val a = adjs(i)
      var lo = 0
      var hi = a.length
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (a(mid) < p0) lo = mid + 1 else hi = mid }
      below(i) = if (lo > 0) p0 - a(lo - 1) else Int.MaxValue
      above(i) = if (lo < a.length) a(lo) - p0 else Int.MaxValue
      i += 1
    }
    var best = Int.MaxValue
    var c = -1 // candidate index into `above`; -1 encodes A = 0 (anchor only)
    while (c < n) {
      val bound = if (c < 0) 0 else above(c)
      if (bound != Int.MaxValue) {
        var maxAbove = 0
        var maxBelow = 0
        var feasible = true
        var j = 0
        while (j < n && feasible) {
          if (above(j) <= bound) { if (above(j) > maxAbove) maxAbove = above(j) }
          else if (below(j) == Int.MaxValue) feasible = false
          else if (below(j) > maxBelow) maxBelow = below(j)
          j += 1
        }
        if (feasible && maxAbove + maxBelow < best) best = maxAbove + maxBelow
      }
      c += 1
    }
    best
  }

  /** Sloppy freq of one doc: positions per phrase term (ascending), slop.
    * freq = sum over term-0 anchors with minimal width w <= slop of
    * 1/(1+w); 0.0 = no match. Exactly the exact-phrase count at slop 0. */
  def sloppyFreq(positions: Array[Array[Int]], slop: Int): Double = {
    val adjs = new Array[Array[Int]](positions.length - 1)
    var i = 1
    while (i < positions.length) {
      val src = positions(i)
      val a = new Array[Int](src.length)
      var j = 0
      while (j < src.length) { a(j) = src(j) - i; j += 1 }
      adjs(i - 1) = a
      i += 1
    }
    var freq = 0.0
    val anchors = positions(0)
    var k = 0
    while (k < anchors.length) {
      val w = minWidthAt(anchors(k), adjs)
      if (w <= slop) freq += 1.0 / (1.0 + w)
      k += 1
    }
    freq
  }
}

/** The one block-max window check (Ding & Suel, "Faster Top-k Document
  * Retrieval Using Block-Max Indexes", SIGIR 2011) — the role Lucene's
  * `advanceShallow`/`getMaxScore` pair plays in `ImpactsDISI`,
  * `BlockMaxConjunctionScorer` and `ReqOptSumScorer`. The window of a
  * candidate `d` is [d, min over `subs` of blockEndUpTo(d)]; its bound is
  * the sum, in `subs` order, of the subs' blockMaxScoreUpTo(d), with
  * `extra` (a windowless addend, e.g. an optional clause's global max)
  * added last.
  *
  * Safety: for every doc of the window the driving scorer's score is at
  * most that bound — each sub's padded block bound dominates its score
  * there, `extra` dominates the rest, and fp addition is monotone. A doc
  * enters the top-k only by scoring STRICTLY above the threshold, so a
  * window whose bound is <= it holds no competitive doc and is skipped
  * whole; ties at the threshold are never skipped. The check runs once per
  * window, when a candidate first lands past the last window checked: the
  * threshold only rises, so not re-checking an accepted window merely
  * skips less — never wrongly — and inside it the per-doc cost is one
  * compare. A window without an end (no sub has blocks) is not remembered:
  * with nothing to skip past, re-checking each candidate is what lets a
  * rising threshold end the segment early. A gate without a threshold
  * (`prune` None) accepts every window up front.
  */
final class BlockMaxGate(subs: Array[Scorer], extra: Double, prune: Option[() => Double]) {
  private var winEnd = if (prune.isEmpty) DISI.NO_MORE else -1

  /** `d` if its window may hold a competitive doc, else the first doc past
    * the window (NO_MORE when the window reaches the end). */
  def check(d: Int): Int = {
    if (d <= winEnd || d == DISI.NO_MORE) return d
    var end = DISI.NO_MORE
    var j = 0
    while (j < subs.length) { val e = subs(j).blockEndUpTo(d); if (e < end) end = e; j += 1 }
    if (end != DISI.NO_MORE) winEnd = end
    val theta = prune.get.apply()
    if (theta == Double.NegativeInfinity) return d
    var bound = 0.0
    j = 0
    while (j < subs.length) { bound += subs(j).blockMaxScoreUpTo(d); j += 1 }
    if (bound + extra > theta) d
    else if (end >= Int.MaxValue - 1) DISI.NO_MORE
    else end + 1
  }

  /** First doc from `d` (where `lead` stands) whose window may compete,
    * advancing `lead` past the windows that cannot. */
  def skip(lead: Scorer, d0: Int): Int = {
    var d = d0
    var next = check(d)
    while (next != d) { d = lead.advance(next); next = check(d) }
    d
  }
}

/** Block-max skipping for a ROOT-LEVEL scoring term query — the
  * ImpactsDISI treatment Lucene's TermScorer gets when its score is the
  * collected score (`core/search/impactsdisi.go` role): iteration skips
  * every block whose padded bound cannot beat the collector's threshold,
  * through the one [[BlockMaxGate]].
  */
final class BlockMaxTermScorer(inner: PostingsScorer, minCompetitive: () => Double)
    extends Scorer {
  private val gate = new BlockMaxGate(Array(inner), 0.0, Some(minCompetitive))

  def docId: Int = inner.docId
  def cost: Long = inner.cost
  lazy val maxScore: Double = inner.maxScore
  def score(): Double = inner.score()
  def nextDoc(): Int = gate.skip(inner, inner.nextDoc())
  def advance(target: Int): Int = gate.skip(inner, inner.advance(target))
}

/** Phrase scorer — the PhraseQuery/ExactPhraseMatcher shape Lucene pairs
  * with the prox stream the reference stores
  * (`core/index/freqproxtermswriterperfield.go:96-122`; the two-phase
  * iterator contract of SURVEY §2.4): the APPROXIMATION is a non-scoring
  * [[ConjunctionScorer]] over the terms' postings (the one leapfrog, led by
  * the rarest term), and the CONFIRMATION decodes positions only for docs
  * where all terms co-occur.
  * slop 0 counts occurrences where term i sits at position p+i; slop > 0
  * applies [[SloppyMatch]] (semantics documented on [[PhraseQ]]).
  *
  * Scoring (Lucene PhraseQuery + BM25Similarity): weight = boost * sum of
  * term idfs; freq = phrase occurrence count (fractional sloppy-freq when
  * slop > 0); norm = the doc's field length (identical across the terms'
  * postings of one doc).
  */
final class PhraseScorer(terms: Array[PostingsScorer], weight: Double,
                         cache: Array[Double], scoring: Boolean,
                         slop: Int = 0) extends Scorer {
  require(terms.length >= 2, "phrase needs >= 2 terms (1-term phrases normalize to TermQ)")
  private val approx = new ConjunctionScorer(terms.toArray[Scorer], Array.empty)
  private var curFreq = 0.0
  // slop 0: phraseFreq <= min term freq and g is monotone in freq, so every
  // term's maxG bounds g(phraseFreq, norm) — the min over terms is tightest.
  // slop > 0: each term-0 occurrence anchors at most one match contributing
  // <= 1, so sloppyFreq <= freq(term 0) and only term 0's maxG is a bound
  // (other terms' freqs can be exceeded: one rare occurrence can serve
  // many anchors).
  lazy val maxScore: Double =
    if (!scoring) 0.0
    else if (slop == 0) TermReader.bound(weight, terms.iterator.map(_.reader.maxG).min)
    else TermReader.bound(weight, terms(0).reader.maxG)

  def docId: Int = approx.docId
  def cost: Long = approx.cost

  /** Count positions where terms(0)@p, terms(1)@p+1, ... (all ascending
    * arrays; k-way gallop with primitive cursors, no allocation). */
  private def phraseFreqAt(): Int = {
    val n = terms.length
    val flats = new Array[Array[Int]](n)
    val los = new Array[Int](n)
    val his = new Array[Int](n)
    var t = 0
    while (t < n) {
      val (f, lo, hi) = terms(t).currentPositions
      flats(t) = f; los(t) = lo; his(t) = hi
      t += 1
    }
    var count = 0
    var i0 = los(0)
    var exhausted = false
    while (i0 < his(0) && !exhausted) {
      val p = flats(0)(i0)
      var ok = true
      var u = 1
      while (ok && u < n) {
        // advance term u's cursor to the first position >= p + u
        var c = los(u)
        val want = p + u
        while (c < his(u) && flats(u)(c) < want) c += 1
        los(u) = c
        if (c >= his(u)) { ok = false; exhausted = true }
        else if (flats(u)(c) != want) ok = false
        u += 1
      }
      if (ok) count += 1
      i0 += 1
    }
    count
  }

  /** The first doc from `d` (where the approximation stands) whose
    * positions confirm the phrase (exact) or a window within slop. */
  private def confirm(d0: Int): Int = {
    var d = d0
    while (d != DISI.NO_MORE) {
      val f = if (slop == 0) phraseFreqAt().toDouble else sloppyFreqAt()
      if (f > 0) { curFreq = f; return d }
      d = approx.advance(d + 1)
    }
    d
  }

  /** Sloppy confirmation of the current doc: copy each term's position run
    * and apply the shared [[SloppyMatch]] kernel (runs only on docs where
    * the docs-level conjunction already agreed). */
  private def sloppyFreqAt(): Double = {
    val pos = new Array[Array[Int]](terms.length)
    var t = 0
    while (t < terms.length) {
      val (flat, lo, hi) = terms(t).currentPositions
      pos(t) = java.util.Arrays.copyOfRange(flat, lo, hi)
      t += 1
    }
    SloppyMatch.sloppyFreq(pos, slop)
  }

  def nextDoc(): Int = confirm(approx.nextDoc())
  def advance(target: Int): Int =
    if (approx.docId >= target) approx.docId else confirm(approx.advance(target))

  def score(): Double =
    if (scoring) Bm25.scoreF(weight, curFreq, terms(0).normByte, cache) else 0.0
}

/** MatchAllDocs over a segment's dense local docId range
  * (`core/search/matchalldocsquery.go`). */
final class RangeAllScorer(docCount: Int, boost: Double) extends Scorer {
  private var cur = -1
  def docId: Int = cur
  def nextDoc(): Int = {
    if (cur == DISI.NO_MORE) return cur
    cur = if (cur + 1 >= docCount) DISI.NO_MORE else cur + 1; cur
  }
  def advance(target: Int): Int = {
    if (cur == DISI.NO_MORE) return cur
    cur = if (target >= docCount) DISI.NO_MORE else math.max(target, cur + 1); cur
  }
  def score(): Double = boost
  def cost: Long = docCount.toLong
  def maxScore: Double = boost
}

/** Multiply an inner scorer's score by a positive constant (cross-field
  * clause weights). fp multiplication by a positive constant is monotone,
  * so `inner.maxScore * w` stays a certified upper bound. */
final class ScaledScorer(inner: Scorer, w: Double) extends Scorer {
  def docId: Int = inner.docId
  def nextDoc(): Int = inner.nextDoc()
  def advance(target: Int): Int = inner.advance(target)
  def score(): Double = inner.score() * w
  def cost: Long = inner.cost
  lazy val maxScore: Double = inner.maxScore * w
}

/** Wrap any iterator with a constant score (`core/search/constantscorescorer.go`). */
final class ConstantScoreScorer(inner: Scorer, boost: Double) extends Scorer {
  def docId: Int = inner.docId
  def nextDoc(): Int = inner.nextDoc()
  def advance(target: Int): Int = inner.advance(target)
  def score(): Double = boost
  def cost: Long = inner.cost
  def maxScore: Double = boost
}

/** Leapfrog conjunction led by the min-cost iterator
  * (`core/search/conjunctionscorer.go`, cost ordering
  * `conjunctiondisi.go:23-31`). score = sum of the SCORING subset (FILTER
  * clauses iterate but contribute 0, `core/search/booleanweight.go`).
  *
  * Block-max pruning (the reference's `BlockMaxConjunctionScorer`,
  * `core/search/blockmaxconjunctionscorer.go:24-60,189-260`): when the
  * collector's threshold exceeds the sum of the clauses' CURRENT-block upper
  * bounds, the whole window up to the earliest block boundary is skipped
  * without decoding, through the one [[BlockMaxGate]]. Only enabled
  * (`prune` Some) when this conjunction's score IS the collected score — a
  * pure-MUST/FILTER query — so pruning is provably safe: a skipped doc's
  * score is bounded by the padded block sum, which did not beat the
  * current worst top-k hit.
  */
final class ConjunctionScorer(allSubs: Array[Scorer], scoringSubs: Array[Scorer],
                              prune: Option[() => Double] = None)
    extends Scorer {
  private val subs = allSubs.sortBy(_.cost) // lead = cheapest
  private var cur = -1

  def docId: Int = cur
  def cost: Long = subs.map(_.cost).min
  lazy val maxScore: Double = scoringSubs.map(_.maxScore).sum

  private val gate = new BlockMaxGate(scoringSubs, 0.0, prune)

  private def doNext(target0: Int): Int = {
    var target = target0
    while (target != DISI.NO_MORE) {
      // leapfrog to agreement on `target`
      var advanced = true
      while (advanced && target != DISI.NO_MORE) {
        advanced = false
        var j = 0
        while (j < subs.length && !advanced) {
          val s = subs(j)
          if (s.docId < target) {
            val d = s.advance(target)
            if (d > target) { target = d; advanced = true }
          } else if (s.docId > target) { target = s.docId; advanced = true }
          j += 1
        }
      }
      // a window that cannot compete: re-enter from the lead past it
      val next = gate.check(target)
      if (next == target) { cur = target; return cur }
      target = subs(0).advance(next)
    }
    cur = target
    cur
  }

  def nextDoc(): Int = {
    if (cur == DISI.NO_MORE) return cur
    doNext(subs(0).nextDoc())
  }

  def advance(target: Int): Int = {
    if (cur == DISI.NO_MORE || cur >= target) return cur
    doNext(subs(0).advance(target))
  }

  def score(): Double = {
    var s = 0.0
    var j = 0
    while (j < scoringSubs.length) { s += scoringSubs(j).score(); j += 1 }
    s
  }
}

/** WAND dynamic pruning over a scoring disjunction (Broder et al.; the
  * reference's `WANDScorer` is a stub that panics, `core/search/wandscorer.go`
  * — semantics per the cited papers + Lucene 8.11). Pivot selection uses
  * per-clause global max scores; before evaluating a pivot, a block-max
  * check (Ding & Suel) against per-block impacts skips non-competitive
  * pivots without decoding. Pruning is SAFE: only docs whose score upper
  * bound is <= the collector's current threshold are skipped, so top-k is
  * rank-identical to the exhaustive sum (property-tested). Without a
  * threshold it is the one exhaustive union: every should side, MUST_NOT
  * union and nested disjunction.
  *
  * @param msm   minShouldMatch: a doc matches when at least this many
  *              clauses do (0 counts as 1)
  * @param prune collector feedback: current worst top-k score (docs must
  *              score STRICTLY above it to enter — ties lose on docId asc
  *              and docIds only grow); None = exhaustive
  */
final class WandScorer(subs: Array[Scorer], msm: Int, prune: Option[() => Double])
    extends WandIterationScorer(subs, msm, prune) {
  lazy val maxScore: Double = subs.map(_.maxScore).sum
  // additive bound: any clause subset's sum is bounded by the sum of its
  // per-clause upper bounds (sumUb is accumulated in byDoc order, the same
  // float adds the pre-unification pivot loop performed)
  protected def bound(maxUb: Double, sumUb: Double): Double = sumUb
  /** Sum in ORIGINAL clause order — the canonical float64 addition order
    * shared with the exhaustive oracle (the reference's own disjunction
    * scorer is a stub, so clause order is our spec). */
  protected def scoreAt(doc: Int): Double = {
    var sc = 0.0
    var j = 0
    while (j < subs.length) {
      if (subs(j).docId == doc) sc += subs(j).score()
      j += 1
    }
    sc
  }
}

object WandScorer {
  /** The union of `subs` on the docs at least `msm` of them match (0 counts
    * as 1): None when there are fewer clauses than that, else the lone
    * clause itself or a [[WandScorer]]. */
  def union(subs: Array[Scorer], msm: Int, prune: Option[() => Double]): Option[Scorer] =
    if (subs.length < math.max(msm, 1)) None
    else if (subs.length == 1) Some(subs(0))
    else Some(new WandScorer(subs, msm, prune))
}

/** The WAND iteration skeleton (pivot selection over docId-sorted clauses,
  * block-max re-check, advance bookkeeping) shared by the additive
  * [[WandScorer]] and the dismax [[DisjMaxWandScorer]] — ONE copy of the
  * trickiest loop in the engine, parameterized over (a) the subset upper
  * bound and (b) the exact combiner. `bound(maxUb, sumUb)` must be
  * monotone in prefix extension (adding a clause only grows both args) and
  * must bound `scoreAt` over any clause subset with those statistics —
  * pruning then only skips docs that provably cannot beat theta, keeping
  * top-k rank-identical to the exhaustive path (property-tested for both
  * subclasses).
  *
  * minShouldMatch (Lucene 8.11 `WANDScorer`): the pivot is the first
  * docId-sorted clause at index >= msm - 1 whose prefix bound beats theta.
  * A doc before the msm-th smallest head lies on fewer than msm clauses,
  * and a doc before a later pivot only on clauses of a prefix whose bound
  * did not beat theta; a pivot evaluated has every clause through its own
  * on it, so at least msm.
  */
abstract class WandIterationScorer(subs: Array[Scorer], msm: Int,
                                   prune: Option[() => Double]) extends Scorer {
  require(subs.nonEmpty, "a union needs at least one clause")
  protected var cur = -1
  protected var curScore = 0.0
  def docId: Int = cur
  def cost: Long = subs.map(_.cost).sum

  /** Upper bound of any clause subset whose per-clause upper bounds have
    * maximum `maxUb` and sum `sumUb`. */
  protected def bound(maxUb: Double, sumUb: Double): Double

  /** Exact score of the clauses positioned at `doc`, in original clause
    * order (the fp op order shared with the matching exhaustive scorer). */
  protected def scoreAt(doc: Int): Double

  private val byDoc: Array[Scorer] = subs.clone()
  private val minPivot = math.max(msm, 1) - 1
  // a walk without a threshold evaluates every pivot
  private val exhaustive = prune.isEmpty

  private def sortByDoc(): Unit = {
    // insertion sort: nearly sorted between calls
    var j = 1
    while (j < byDoc.length) {
      val s = byDoc(j)
      var p = j - 1
      while (p >= 0 && byDoc(p).docId > s.docId) { byDoc(p + 1) = byDoc(p); p -= 1 }
      byDoc(p + 1) = s
      j += 1
    }
  }

  /** The block-max bound of the clauses at `pivot`. */
  private def blockBoundAt(pivot: Int): Double = {
    var bMax = 0.0
    var bSum = 0.0
    var j = 0
    while (j < byDoc.length) {
      if (byDoc(j).docId == pivot) {
        val ub = byDoc(j).blockMaxScoreUpTo(pivot)
        if (ub > bMax) bMax = ub
        bSum += ub
      }
      j += 1
    }
    bound(bMax, bSum)
  }

  private def positionAt(target0: Int): Int = {
    var target = target0
    while (true) {
      val theta = if (exhaustive) Double.NegativeInfinity else prune.get.apply()
      sortByDoc()
      // pivot: first prefix of at least msm clauses whose bound can beat
      // theta (monotone in prefix extension: each clause only grows maxUb
      // and sumUb)
      var maxUb = 0.0
      var sumUb = 0.0
      var pi = -1
      var j = 0
      while (j < byDoc.length && pi < 0) {
        val ub = byDoc(j).maxScore
        if (ub > maxUb) maxUb = ub
        sumUb += ub
        if (j >= minPivot && bound(maxUb, sumUb) > theta) pi = j
        j += 1
      }
      if (pi < 0) { cur = DISI.NO_MORE; return cur } // nothing can be competitive
      var pivot = byDoc(pi).docId
      if (pivot == DISI.NO_MORE) { cur = DISI.NO_MORE; return cur }
      if (pivot < target) pivot = target
      if (byDoc(0).docId >= pivot) {
        // all clauses through the pivot's are AT the pivot (sorted order):
        // block-max re-check before full evaluation
        if (exhaustive || blockBoundAt(pivot) > theta) {
          val sc = scoreAt(pivot)
          if (sc > theta) { cur = pivot; curScore = sc; return cur }
        }
        // not competitive: move every clause past this pivot
        j = 0
        while (j < byDoc.length) {
          if (byDoc(j).docId == pivot) byDoc(j).advance(pivot + 1)
          j += 1
        }
        target = pivot + 1
      } else {
        // advance clauses behind the pivot up to it
        j = 0
        while (j < byDoc.length) {
          if (byDoc(j).docId < pivot) byDoc(j).advance(pivot)
          j += 1
        }
      }
    }
    cur // unreachable (the loop exits via return)
  }

  def nextDoc(): Int = if (cur == DISI.NO_MORE) cur else positionAt(cur + 1)
  def advance(target: Int): Int = if (cur == DISI.NO_MORE || cur >= target) cur else positionAt(target)
  def score(): Double = curScore
}

/** required + optional (`core/search/reqoptsumscorer.go:37-124`):
  * iterate required; add optional scores when aligned.
  *
  * Block-max pruning (Lucene's BlockMaxReqOptScorer role): when the
  * collector threshold exceeds the required clause's CURRENT-block padded
  * bound PLUS the optional side's certified global max, no doc in that
  * window can be competitive — the [[BlockMaxGate]] skips to the window end
  * without scoring.
  * Live only when this sum IS the collected score (a `TopScores` root with
  * no minShouldMatch coupling, as buildBool decides); `prune` None keeps
  * the exhaustive walk.
  */
final class ReqOptSumScorer(req: Scorer, opt: Scorer, prune: Option[() => Double])
    extends Scorer {
  def docId: Int = req.docId
  def cost: Long = req.cost
  lazy val maxScore: Double = req.maxScore + opt.maxScore

  // only a postings req has blocks to gate on: a compound req keeps the
  // exhaustive walk
  private val gate = new BlockMaxGate(Array(req), opt.maxScore,
    if (req.isInstanceOf[PostingsScorer]) prune else None)

  def nextDoc(): Int = gate.skip(req, req.nextDoc())
  def advance(target: Int): Int = gate.skip(req, req.advance(target))
  def score(): Double = {
    var s = req.score()
    if (opt.docId < req.docId) opt.advance(req.docId)
    if (opt.docId == req.docId) s += opt.score()
    s
  }
}

/** DISI over a sorted int array — the deleted-docs iterator fed to
  * [[ReqExclScorer]] (live-docs anti-join; the reference applies a live-docs
  * bitset per leaf, `core/search/weight.go:189-236`), and the iterator over
  * a constant-score union's doc-id set ([[ScorerBuilder.docIdSet]]). */
final class IntArrayScorer(docs: Array[Int]) extends Scorer {
  private var i = -1
  def docId: Int = if (i < 0) -1 else if (i >= docs.length) DISI.NO_MORE else docs(i)
  def nextDoc(): Int = { if (i < docs.length) i += 1; docId }
  def advance(target: Int): Int = {
    if (docId >= target) return docId
    var lo = math.max(i, 0)
    var hi = docs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (docs(mid) < target) lo = mid + 1 else hi = mid
    }
    i = lo
    docId
  }
  def score(): Double = 0.0
  def cost: Long = docs.length.toLong
  def maxScore: Double = 0.0
}

/** required filtered by absence in exclusion (`core/search/reqexclscorer.go:12-66`). */
final class ReqExclScorer(req: Scorer, excl: Scorer) extends Scorer {
  private var cur = -1
  def docId: Int = cur
  def cost: Long = req.cost
  lazy val maxScore: Double = req.maxScore

  private def toNonExcluded(): Int = {
    var d = req.docId
    while (d != DISI.NO_MORE) {
      if (excl.docId < d) excl.advance(d)
      if (excl.docId != d) { cur = d; return cur }
      d = req.nextDoc()
    }
    cur = DISI.NO_MORE
    cur
  }

  def nextDoc(): Int = { req.nextDoc(); toNonExcluded() }
  def advance(target: Int): Int = { if (req.docId < target) req.advance(target); toNonExcluded() }
  def score(): Double = req.score()
}

/** WAND-style dynamic pruning for DisjunctionMax — the block-max treatment
  * Lucene gives dismax (its DisjunctionMaxQuery rides WANDScorer too; the
  * reference's dismax file only defines the combiner,
  * `core/search/disjunctionmaxquery.go:5-34`). Identical iteration shape to
  * [[WandScorer]], with the additive prefix bound replaced by the dismax
  * bound: for any clause subset, score = (1-tb)·mx + tb·sum is bounded by
  * (1-tb)·max(ub_j) + tb·Σ(ub_j) (tb ∈ [0,1], mx <= max ub, sum <= Σ ub —
  * both coefficients non-negative). It is also the exhaustive dismax, scoring
  * or not (without a threshold every pivot is evaluated), so pruned and
  * exhaustive runs share one combiner and are rank-identical
  * (property-tested under k=1 pruning pressure).
  */
final class DisjMaxWandScorer(subs: Array[Scorer], tieBreak: Double,
                              prune: Option[() => Double])
    extends WandIterationScorer(subs, 1, prune) {
  lazy val maxScore: Double = {
    val ubs = subs.map(_.maxScore)
    (1.0 - tieBreak) * ubs.max + tieBreak * ubs.sum
  }

  // dismax bound: score = (1-tb)·mx + tb·sum with mx <= maxUb, sum <= sumUb
  // and both coefficients non-negative (tb ∈ [0,1])
  protected def bound(maxUb: Double, sumUb: Double): Double =
    (1.0 - tieBreak) * maxUb + tieBreak * sumUb

  /** Exact dismax score of the clauses positioned at `doc`, in ORIGINAL
    * clause order: max + tieBreak·(sum − max), the oracle's fp op order
    * (`core/search/disjunctionmaxquery.go:5-34`). */
  protected def scoreAt(doc: Int): Double = {
    var mx = Double.NegativeInfinity
    var sum = 0.0
    var j = 0
    while (j < subs.length) {
      if (subs(j).docId == doc) { val s = subs(j).score(); sum += s; if (s > mx) mx = s }
      j += 1
    }
    mx + tieBreak * (sum - mx)
  }
}

/** Cross-collector minimum-score sharing — the reference's
  * `MaxScoreAccumulator` (`core/search/maxscoreaccumulator.go`; Lucene
  * shares `minCompetitiveScore` across concurrent leaf collectors of one
  * query). Our leaves run as Spark tasks; tasks that land in the SAME
  * executor JVM (several per executor on any real cluster, all of them in
  * local mode) share a lock-free cell keyed by the query's run id: each
  * collector publishes its worst-in-top-k as it improves, and every
  * collector prunes with the max of its local threshold and the shared
  * STRICT floor.
  *
  * Safety (rank identity is load-bearing — the bench asserts bit-identical
  * top-k across parallelism levels): a published value g certifies that
  * SOME leaf holds k candidates with score >= g, and since leaf heaps only
  * improve, those k candidates reach the global merge with scores >= g.
  * Any doc with score < g is therefore strictly outranked by >= k docs
  * regardless of docId, so pruning strictly-below-g is exact. Ties at g
  * MUST survive (the global tie-break is docId asc and publish order is
  * racy), hence the floor is `Math.nextDown(g)` — scorers evaluate
  * anything with an upper bound > nextDown(g), i.e. >= g. Sharing only
  * ever RAISES thresholds toward the true global worst-in-top-k, so the
  * returned per-leaf candidate SET may vary run to run while the merged
  * top-k stays bit-identical (asserted by EngineSpec's oracle suite and
  * the bench's cross-level sha).
  *
  * Lifecycle: cells live in a JVM-static map (executors cannot be told
  * when a query ends); run ids are driver-unique (random base + counter),
  * and the map self-clears past a size bound — losing cells only loses
  * pruning power, never correctness.
  */
object MaxScoreAccumulator {
  private val cells =
    new java.util.concurrent.ConcurrentHashMap[Long, java.util.concurrent.atomic.AtomicLong]()
  private val NegInfBits = java.lang.Double.doubleToLongBits(Double.NegativeInfinity)
  private val nextId = new java.util.concurrent.atomic.AtomicLong(
    new java.security.SecureRandom().nextLong())

  /** Driver-side: a fresh run id per (query, search invocation). Always
    * NON-NEGATIVE: negative ids are the collector's sharing-off sentinel,
    * and the random counter base can start negative (masking the sign bit
    * cannot collide within a run — successive ids differ by 1, not 2^63). */
  def newRunId(): Long = nextId.incrementAndGet() & Long.MaxValue

  /** Executor-side: the shared cell of a run (created on first touch). */
  def cell(runId: Long): java.util.concurrent.atomic.AtomicLong = {
    if (cells.size > 65536) cells.clear() // bounded; loses only pruning power
    cells.computeIfAbsent(runId,
      _ => new java.util.concurrent.atomic.AtomicLong(NegInfBits))
  }

  /** Monotonic max-publish (CAS loop; correct for any double ordering). */
  def publish(c: java.util.concurrent.atomic.AtomicLong, score: Double): Unit = {
    var cur = c.get()
    while (java.lang.Double.longBitsToDouble(cur) < score &&
        !c.compareAndSet(cur, java.lang.Double.doubleToLongBits(score))) {
      cur = c.get()
    }
  }

  /** The strictly-below pruning floor: nextDown(published max), so score
    * ties with the published worst-in-top-k always stay competitive. */
  def strictFloor(c: java.util.concurrent.atomic.AtomicLong): Double = {
    val g = java.lang.Double.longBitsToDouble(c.get())
    if (g == Double.NegativeInfinity) g else Math.nextDown(g)
  }
}

/** Bounded top-k heap with the reference's exact tie-break: score desc,
  * docId asc (`core/search/topscoredoccollector.go:84-110`). Feeds
  * `minCompetitiveScore` back to WAND. Supports searchAfter cursors
  * (`PagingTopScoreDocCollector`, `topscoredoccollector.go:243-340`).
  * With `runId >= 0` the collector also shares its threshold through
  * [[MaxScoreAccumulator]] (cross-leaf pruning within each executor JVM).
  */
final class TopKCollector(k: Int, docBase: Long, after: Option[(Double, Long)],
                          hitsThreshold: Long = 0L, runId: Long = -1L) extends LeafCollector {
  // primitive parallel-array min-heap (no per-hit boxing — a batch run
  // creates one collector per (query, segment), so allocation here is hot):
  // root = weakest hit (lowest score; among equal, largest docId)
  private val hScore = new Array[Double](k)
  private val hDoc = new Array[Long](k)
  private var size = 0
  var collected: Long = 0L
  /** true once a finite threshold was handed to a scorer — from then on
    * `collected` is a LOWER bound (pruned docs never reach collect), the
    * reference's TotalHits GREATER_THAN_OR_EQUAL_TO state
    * (`core/search/hitsthresholdchecker.go` semantics). */
  var pruned: Boolean = false
  private val hasAfter = after.isDefined
  private val afterScore = after.map(_._1).getOrElse(0.0)
  private val afterDoc = after.map(_._2).getOrElse(0L)

  private val sharedCell: java.util.concurrent.atomic.AtomicLong =
    if (runId >= 0L) MaxScoreAccumulator.cell(runId) else null
  private var lastPublished = Double.NegativeInfinity
  private var cachedFloor = Double.NegativeInfinity
  private var floorTick = 0

  /** Pruning threshold fed back to WAND / block-max conjunction. Stays
    * -inf until `hitsThreshold` hits have been counted (Lucene's
    * totalHitsThreshold contract: counting is EXACT up to the threshold,
    * a lower bound beyond it). Default threshold 0 = prune ASAP. With a
    * shared cell, the threshold is the max of the local heap root and the
    * strict cross-leaf floor (see [[MaxScoreAccumulator]] safety note). */
  def minCompetitive: Double = {
    // k = 0 keeps no hits, so nothing is ever competitive to prune against:
    // the leaf only counts (searchWithTotal with k = 0 reports an exact total)
    val full = k > 0 && size >= k
    val local =
      if (full && collected >= hitsThreshold) { pruned = true; hScore(0) }
      else Double.NegativeInfinity
    if (sharedCell == null) local
    else {
      if (full && hScore(0) > lastPublished) {
        // publishing is always safe (the root IS an achieved k-th score);
        // refresh the cached floor on the same CAS round-trip
        lastPublished = hScore(0)
        MaxScoreAccumulator.publish(sharedCell, lastPublished)
        cachedFloor = MaxScoreAccumulator.strictFloor(sharedCell)
        floorTick = 1
      } else {
        // throttled refresh: one volatile read on the FIRST call and then
        // per FloorRefreshInterval calls, not per scorer-loop iteration
        // (a stale floor is merely lower = less pruning, never wrong)
        if (floorTick == 0) cachedFloor = MaxScoreAccumulator.strictFloor(sharedCell)
        floorTick += 1
        if (floorTick >= TopKCollector.FloorRefreshInterval) floorTick = 0
      }
      // exact-count contract: the cross-leaf floor may only prune once
      // THIS leaf has counted hitsThreshold hits (same gate as local)
      if (collected >= hitsThreshold && cachedFloor > local) { pruned = true; cachedFloor }
      else local
    }
  }

  private def siftDown(): Unit = TopKCollector.siftDown(hScore, hDoc, size)

  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0) {
      val p = (i - 1) >>> 1
      if (!TopKCollector.worse(hScore(i), hDoc(i), hScore(p), hDoc(p))) return
      val ts = hScore(i); hScore(i) = hScore(p); hScore(p) = ts
      val td = hDoc(i); hDoc(i) = hDoc(p); hDoc(p) = td
      i = p
    }
  }

  def collect(localDoc: Int, score: Double): Unit = {
    collected += 1
    val gid = docBase + localDoc
    if (hasAfter && !(score < afterScore || (score == afterScore && gid > afterDoc))) return
    if (size < k) {
      hScore(size) = score; hDoc(size) = gid; size += 1
      siftUp(size - 1)
    } else if (k > 0 && (score > hScore(0) || (score == hScore(0) && gid < hDoc(0)))) {
      hScore(0) = score; hDoc(0) = gid
      siftDown()
    }
  }

  private[search] def mode: ScoreMode = ScoreMode.TopScores(() => minCompetitive)
  private[search] def collect(doc: Int, s: Scorer): Boolean = { collect(doc, s.score()); true }

  /** Hits ordered score desc, docId asc, as parallel (docIds, scores): a
    * heap sort of a copy of the heap, each weakest root popped to the tail,
    * so no boxed sort key. */
  def sortedHits: (Array[Long], Array[Double]) = {
    val s = java.util.Arrays.copyOf(hScore, size)
    val d = java.util.Arrays.copyOf(hDoc, size)
    var n = size
    while (n > 1) {
      n -= 1
      val ts = s(0); s(0) = s(n); s(n) = ts
      val td = d(0); d(0) = d(n); d(n) = td
      TopKCollector.siftDown(s, d, n)
    }
    (d, s)
  }

  /** Hits ordered score desc, docId asc. */
  def results: Array[(Long, Double)] = { val (d, s) = sortedHits; d.zip(s) }

  /** [[results]] as hits. */
  def hits: Array[ScoredDoc] = { val (d, s) = sortedHits; Array.tabulate(d.length)(i => ScoredDoc(d(i), s(i))) }
}

object TopKCollector {
  /** How many minCompetitive calls between re-reads of the shared
    * cross-leaf cell (Lucene's MaxScoreAccumulator throttles updates for
    * the same reason: the cell's cache line ping-pongs across every
    * thread of the query while thresholds climb). */
  val FloorRefreshInterval = 64

  // a is "worse" than b if lower score, or equal score and larger docId
  @inline private def worse(s1: Double, d1: Long, s2: Double, d2: Long): Boolean =
    s1 < s2 || (s1 == s2 && d1 > d2)

  /** Restore the min-heap (root = weakest hit) over the first `size`
    * entries after its root was replaced. */
  private def siftDown(hScore: Array[Double], hDoc: Array[Long], size: Int): Unit = {
    var i = 0
    while (true) {
      val l = 2 * i + 1
      val r = l + 1
      var m = i
      if (l < size && worse(hScore(l), hDoc(l), hScore(m), hDoc(m))) m = l
      if (r < size && worse(hScore(r), hDoc(r), hScore(m), hDoc(m))) m = r
      if (m == i) return
      val ts = hScore(i); hScore(i) = hScore(m); hScore(m) = ts
      val td = hDoc(i); hDoc(i) = hDoc(m); hDoc(m) = td
      i = m
    }
  }
}
