package graft.analysis

/** A token produced by analysis.
  *
  * Mirrors the reference's attribute bundle (lucene-go
  * `core/util/attribute/`): CharTerm + Offset + PositionIncrement collapsed
  * into one case class (`position` is the absolute token position, i.e. the
  * running sum of position increments, which are always 1 for the standard
  * chain).
  */
final case class Token(term: String, position: Int, startOffset: Int, endOffset: Int)

/** Whitespace-run tokenizer replicating lucene-go's `standard.Tokenizer`.
  *
  * Despite its doc comment, the reference tokenizer is NOT UAX#29: it emits
  * maximal runs of non-whitespace runes, splitting on Go's
  * `unicode.IsSpace` (reference `core/analysis/standard/tokenizer.go:144-180`).
  * Offsets are in Unicode code points (the Go code counts runes).
  */
object GoWhitespace {
  /** Go's `unicode.IsSpace` = the Unicode White_Space property:
    * '\t' '\n' '\v' '\f' '\r' ' ' U+0085 U+00A0, U+1680, U+2000..U+200A,
    * U+2028, U+2029, U+202F, U+205F, U+3000.
    * (Java's `Character.isWhitespace` differs — it excludes U+00A0/U+2007/
    * U+202F — so we hardcode the Go set.)
    */
  def isSpace(cp: Int): Boolean = cp match {
    case 0x09 | 0x0A | 0x0B | 0x0C | 0x0D | 0x20 | 0x85 | 0xA0 => true
    case 0x1680 => true
    case c if c >= 0x2000 && c <= 0x200A => true
    case 0x2028 | 0x2029 | 0x202F | 0x205F | 0x3000 => true
    case _ => false
  }
}

/** Standard analyzer pipeline replicating lucene-go `standard.Analyzer`:
  * Tokenizer (whitespace runs) -> LowerCaseFilter -> StopFilter(stopSet).
  * Reference: `core/analysis/standard/analyzer.go:39-48`.
  *
  * Pure Scala, no Spark dependency; used inside `flatMap`/`mapPartitions`
  * on executors and registered as a UDF for DataFrame use.
  *
  * @param stopSet exact-match stop terms (the reference ships no built-in
  *                English list; the set is a constructor argument,
  *                `core/analysis/stopfilter.go:16-30`)
  */
final class Analyzer(val stopSet: Set[String] = Set.empty) extends Serializable {

  /** Lowercase one code point the way Go's `strings.ToLower` does: per-rune
    * `unicode.ToLower` (no locale special-casing, no 1->N expansions).
    * `Character.toLowerCase(int)` is the JVM equivalent of the per-rune map.
    */
  @inline private def lowerCp(cp: Int): Int = Character.toLowerCase(cp)

  /** Tokenize into terms with positions and code-point offsets.
    * Whitespace-run splitting per `tokenizer.go:144-180`; lowercasing per
    * `lowercasefilter.go:24-39`; stop removal per `stopfilter.go:16-30`.
    * Position increments: stop-removal does NOT leave holes in the
    * reference's standard chain (StopFilter there doesn't adjust
    * posIncr for BM25 purposes; positions are not used by scoring).
    */
  def tokenize(text: String): Vector[Token] = {
    if (text == null || text.isEmpty) return Vector.empty
    val out = Vector.newBuilder[Token]
    val sb = new java.lang.StringBuilder(16)
    var i = 0          // char index
    var cpIndex = 0    // code-point index (Go rune offset)
    var tokStart = -1
    var pos = 0
    val n = text.length
    while (i < n) {
      val cp = text.codePointAt(i)
      if (GoWhitespace.isSpace(cp)) {
        if (tokStart >= 0) {
          val term = sb.toString
          if (!stopSet.contains(term)) { out += Token(term, pos, tokStart, cpIndex); pos += 1 }
          sb.setLength(0); tokStart = -1
        }
      } else {
        if (tokStart < 0) tokStart = cpIndex
        sb.appendCodePoint(lowerCp(cp))
      }
      i += Character.charCount(cp)
      cpIndex += 1
    }
    if (tokStart >= 0) {
      val term = sb.toString
      if (!stopSet.contains(term)) out += Token(term, pos, tokStart, cpIndex)
    }
    out.result()
  }

  /** Terms only (the common indexing path). */
  def terms(text: String): Vector[String] = tokenize(text).map(_.term)

  /** The one streaming token loop of the analysis chain (the reference's
    * `PerField.invert` walk over a TokenStream): splits, lowercases and
    * stop-filters exactly as [[tokenize]], handing each emitted token to
    * `sink` without materializing a Token or a Vector (this runs once per
    * document of the corpus — at 10^12 docs the per-token garbage of
    * [[tokenize]] would dominate build GC). Terms are interned
    * through `intern` when non-null (one shared table per build partition:
    * hot terms allocate their String ONCE per task instead of once per
    * occurrence). Returns the field length (emitted token count).
    */
  def walk(text: String, intern: TermIntern, sink: TokenSink): Int = {
    if (text == null) return 0
    val sb = new java.lang.StringBuilder(16)
    val n = text.length
    var i = 0          // char index
    var cpIndex = 0    // code-point index (Go rune offset)
    var startCp = -1
    var startChar = 0
    var pos = 0
    while (i <= n) {
      // a virtual space at the end flushes the last token
      val cp = if (i < n) text.codePointAt(i) else ' '
      if (GoWhitespace.isSpace(cp)) {
        if (startCp >= 0) {
          val term = if (intern == null) sb.toString else intern.intern(sb)
          if (!stopSet.contains(term)) {
            sink.token(term, pos, startCp, cpIndex, startChar, i)
            pos += 1
          }
          sb.setLength(0); startCp = -1
        }
      } else {
        if (startCp < 0) { startCp = cpIndex; startChar = i }
        sb.appendCodePoint(lowerCp(cp))
      }
      i += Character.charCount(cp)
      cpIndex += 1
    }
    pos
  }

  /** Per-document term frequencies plus the field length (norm).
    * Norm = token count after the full chain = `invertState.Length`
    * (standard chain has no overlaps, so `Length - NumOverlap = Length`;
    * reference `core/index/defaultindexingchain.go:845-865`,
    * `core/search/similaritybm25.go:111-123`).
    */
  def termFreqCounts(text: String): (java.util.HashMap[String, Int], Int) =
    termFreqCounts(text, null)

  /** As [[termFreqCounts]], interning term strings through `intern` when
    * non-null. */
  def termFreqCounts(text: String, intern: TermIntern): (java.util.HashMap[String, Int], Int) = {
    val m = new java.util.HashMap[String, Int]()
    val len = walk(text, intern, new TokenSink {
      def token(term: String, position: Int, startCp: Int, endCp: Int,
                startChar: Int, endChar: Int): Unit = m.merge(term, 1, (a, b) => a + b)
    })
    (m, len)
  }

  /** Scala-collection view of [[termFreqCounts]] (tests / non-hot callers). */
  def termFreqs(text: String): (collection.Map[String, Int], Int) = {
    val (m, len) = termFreqCounts(text)
    (scala.jdk.CollectionConverters.MapHasAsScala(m).asScala, len)
  }
}

/** Receives each token of [[Analyzer.walk]] in order: the lowercased
  * `term`, its `position` among emitted tokens, its code-point offsets
  * `[startCp, endCp)` and the char range `[startChar, endChar)` of its
  * original surface form in the text. Primitive arguments, so nothing is
  * boxed per token. */
abstract class TokenSink {
  def token(term: String, position: Int, startCp: Int, endCp: Int, startChar: Int, endChar: Int): Unit
}

object Analyzer {
  val standard: Analyzer = new Analyzer(Set.empty)
}

/** Open-addressing string intern table keyed by a StringBuilder's content —
  * the allocation-free lookup the reference's byte-pool TermsHash performs
  * (`core/index/termshashperfield.go`: terms live once in a shared pool).
  * Zipf-distributed corpora re-tokenize the same hot terms in every doc;
  * without interning, stage 1 allocates a fresh String per token occurrence
  * (memory-bandwidth + GC pressure in the build's dominant stage). A miss
  * allocates exactly one String; a hit allocates nothing.
  */
final class TermIntern(initialPow2: Int = 1 << 12, maxSize: Int = 1 << 20) {
  private var keys = new Array[String](initialPow2)
  private var size = 0

  @inline private def hashOf(sb: java.lang.StringBuilder): Int = {
    var h = 0
    var i = 0
    val n = sb.length
    while (i < n) { h = h * 31 + sb.charAt(i); i += 1 }
    h
  }

  @inline private def eq(s: String, sb: java.lang.StringBuilder): Boolean = {
    val n = sb.length
    if (s.length != n) return false
    var i = 0
    while (i < n) { if (s.charAt(i) != sb.charAt(i)) return false; i += 1 }
    true
  }

  def intern(sb: java.lang.StringBuilder): String = {
    val mask = keys.length - 1
    var i = hashOf(sb) & mask
    while (true) {
      val k = keys(i)
      if (k == null) {
        val s = sb.toString
        // beyond maxSize (pathological vocab) stop caching: still correct,
        // just no reuse — the table never grows unbounded
        if (size < maxSize) {
          keys(i) = s
          size += 1
          if (size * 2 > keys.length) grow()
        }
        return s
      }
      if (eq(k, sb)) return k
      i = (i + 1) & mask
    }
    throw new IllegalStateException("unreachable")
  }

  private def grow(): Unit = {
    val old = keys
    keys = new Array[String](old.length << 1)
    val mask = keys.length - 1
    var j = 0
    while (j < old.length) {
      val s = old(j)
      if (s != null) {
        var i = s.hashCode & mask
        while (keys(i) != null) i = (i + 1) & mask
        keys(i) = s
      }
      j += 1
    }
  }
}
