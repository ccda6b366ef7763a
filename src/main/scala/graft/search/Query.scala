package graft.search

/** Query ADT (SURVEY.md §7 module 5). Mirrors the reference's query surface:
  * TermQuery, BooleanQuery (MUST/SHOULD/FILTER/MUST_NOT + minimumShouldMatch,
  * `core/search/booleanquery.go:22-26`), BoostQuery, ConstantScoreQuery,
  * MatchAll/MatchNoDocs, TermInSetQuery, DisjunctionMaxQuery, PrefixQuery
  * (stub in the reference — Lucene semantics: rewrite to a constant-score
  * disjunction over matching dictionary terms).
  *
  * This is OUR tree, not a Catalyst LogicalPlan — the normalize pass below is
  * a plain Scala rewrite (reference fixed-point loop,
  * `core/search/indexsearcher.go:412-429`).
  */
sealed trait Query {
  /** The directly nested queries: Bool clauses, the Boost/Const body, the
    * DisjMax disjuncts — the one tree walk every traversal shares. */
  private[search] def children: Seq[Query] = this match {
    case BoolQ(m, s, f, n, _) => m ++ s ++ f ++ n
    case BoostQ(q, _)         => Seq(q)
    case ConstQ(q, _)         => Seq(q)
    case DisjMaxQ(qs, _)      => qs
    case _                    => Nil
  }

  /** Whether `p` holds for this query or any query nested in it. */
  private[search] def exists(p: Query => Boolean): Boolean = p(this) || children.exists(_.exists(p))

  /** All dictionary terms the query touches (for the stats lookup + the
    * posting-list pushdown filter). */
  def terms: Set[String] = this match {
    case TermQ(t)       => Set(t)
    case TermInSetQ(ts) => ts
    case PhraseQ(ts, _) => ts.toSet
    case _              => children.flatMap(_.terms).toSet
  }

  /** All term-dictionary predicates the query carries (distributed
    * multi-term rewrites) — unioned into the posting-scan pushdown. */
  def termPreds: Set[TermPredicate] = this match {
    case MultiTermQ(p) => Set(p)
    case _             => children.flatMap(_.termPreds).toSet
  }
}

final case class TermQ(term: String) extends Query
final case class BoolQ(
    must: Seq[Query] = Nil,
    should: Seq[Query] = Nil,
    filter: Seq[Query] = Nil,
    mustNot: Seq[Query] = Nil,
    minShouldMatch: Int = 0) extends Query
final case class BoostQ(q: Query, boost: Double) extends Query
/** Every match scores `boost` (filter context), `core/search/constantscorequery.go`. */
final case class ConstQ(q: Query, boost: Double = 1.0) extends Query
case object MatchAllQ extends Query
case object MatchNoneQ extends Query
/** Constant-score disjunction over many terms, `core/search/terminsetquery.go`. */
final case class TermInSetQ(ts: Set[String]) extends Query
/** max(sub scores) + tieBreak * (sum - max), `core/search/disjunctionmaxquery.go`. */
final case class DisjMaxQ(qs: Seq[Query], tieBreak: Double) extends Query
/** Rewritten against the term dictionary before scoring (MultiTermQuery
  * CONSTANT_SCORE rewrite; the reference's PrefixQuery is an empty stub,
  * `core/search/prefixquery.go:3`, so Lucene 8.11 semantics apply). */
final case class PrefixQ(prefix: String) extends Query
/** AutomatonQuery analogue (`core/search/automatonquery.go:26-126`): full
  * regex match against the term dictionary, rewritten to a constant-score
  * TermInSet (MultiTermQuery CONSTANT_SCORE rewrite). */
final case class RegexpQ(pattern: String) extends Query
/** TermRangeQuery (stub in the reference, `core/search/termrangequery.go:3`;
  * Lucene 8.11 semantics): byte-order term range over the dictionary,
  * constant score. `None` bound = open. */
final case class TermRangeQ(lo: Option[String], hi: Option[String],
                            includeLo: Boolean = true, includeHi: Boolean = true) extends Query
/** Phrase query. slop 0 = exact: `terms(i)` must occur at consecutive
  * positions. Requires a positions-enabled index
  * (BuildConfig.storePositions; the reference stores the prox stream per
  * IndexOptions DOCS_AND_FREQS_AND_POSITIONS,
  * `core/document/indexoptions.go:3-29`,
  * `core/index/freqproxtermswriterperfield.go:96-122`). Lucene PhraseQuery
  * scoring: weight = boost * SUM of the terms' idfs, freq = number of
  * phrase occurrences in the doc. Evaluated two-phase: the docs-level
  * conjunction approximates, the positions check confirms.
  *
  * slop > 0 = sloppy phrase. The reference reserves the spans surface
  * without implementing it (`core/search/spans/spans.go`), so the
  * enumeration rule is OUR spec (documented, oracle-replicable, reducing
  * to the exact semantics at slop 0): with adjusted positions
  * `adj_i = pos_i - i`, each occurrence p0 of the FIRST term anchors at
  * most one match whose width is the MINIMUM over choices x_i of
  * `max(adj values, p0) - min(adj values, p0)`; the anchor matches when
  * that minimal width is <= slop, and contributes Lucene's sloppy-freq
  * increment `1 / (1 + width)` (SloppyPhraseScorer's 1/(1+matchLength)
  * weighting with a deterministic per-anchor minimal-width enumeration in
  * place of Lucene's greedy queue — Lucene 8.11's exact enumeration order
  * is tied to its PhrasePositions machinery and is not part of the
  * reference's surface). At slop 0 the only admissible width is 0, so
  * freq = exact phrase count.
  *
  * REPEATED-TERM note (deliberate, pinned by PhraseSpec): when the same
  * term occupies several phrase slots, slots choose their occurrence
  * INDEPENDENTLY — two slots may reuse one token. E.g. `PhraseQ(["a","a"],
  * slop >= 1)` matches a doc containing a single "a" (slot 1's adjusted
  * position p-1 yields width 1). Java Lucene's sloppy matcher forbids
  * same-position reuse for repeated terms; our rule keeps the minimal-width
  * optimum exactly solvable (the threshold form above) and SQL-replicable
  * (the q59 oracle), and reduces to Lucene's semantics at slop 0 where
  * reuse is impossible. */
final case class PhraseQ(phraseTerms: Seq[String], slop: Int = 0) extends Query

/** WildcardQuery sugar (the automaton package's wildcard role,
  * `core/util/automaton/` + `core/search/automatonquery.go:26`; Lucene
  * wildcard syntax): `*` = any run of characters (including empty), `?` =
  * exactly one character; every other character is literal. Rewritten to
  * the equivalent anchored [[RegexpQ]] (metacharacters escaped), which
  * then rides the distributed MultiTermQ machinery — including the
  * literal-prefix scan pushdown for patterns with a literal head
  * (`jo*` skips row groups like a PrefixQ). */
final case class WildcardQ(pattern: String) extends Query

object WildcardQ {
  /** The wildcard pattern as an anchored-regex source string. */
  def toRegex(pattern: String): String = {
    val sb = new StringBuilder(pattern.length + 8)
    pattern.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append('.')
      case c if ".?*+()[]{}|^$\\".indexOf(c.toInt) >= 0 => sb.append('\\').append(c)
      case c => sb.append(c)
    }
    sb.result()
  }
}

/** FuzzyQuery (Lucene 8.11 surface; ABSENT in the reference — no fuzzy file
  * exists — so Lucene semantics with our multi-term machinery): matches
  * docs containing >= 1 dictionary term within `maxEdits` classic
  * Levenshtein edits of `term`. Rewritten like Prefix/Regexp to a
  * DISTRIBUTED constant-score [[MultiTermQ]] ([[FuzzyPred]]) — the
  * dictionary is never expanded on the driver. Constant score (the
  * CONSTANT_SCORE multi-term rewrite); classic Levenshtein (no
  * transpositions), the same metric Spark's and DuckDB's `levenshtein`
  * compute, so the scan filter, the kernel re-check, and the oracle agree
  * by construction. */
final case class FuzzyQ(term: String, maxEdits: Int = 2) extends Query

/** A term-dictionary predicate that travels WITH the query to the executors
  * instead of being expanded on the driver. Each variant has two faces:
  * [[matches]] (exact kernel-side semantics) and a Catalyst translation in
  * `IndexSearcher.predColumn` (scan pushdown). This keeps multi-term rewrites
  * fully distributed — a `PrefixQ("a")` over a billion-term dictionary never
  * collects terms to the driver (the driver-collect + isin path was the
  * round-1 scale hazard).
  */
sealed trait TermPredicate extends Serializable {
  def matches(term: String): Boolean
}
final case class PrefixPred(prefix: String) extends TermPredicate {
  def matches(t: String): Boolean = t.startsWith(prefix)
}
final case class RangePred(lo: Option[String], hi: Option[String],
                           includeLo: Boolean, includeHi: Boolean) extends TermPredicate {
  def matches(t: String): Boolean = {
    val okLo = lo.forall(v => if (includeLo) t >= v else t > v)
    val okHi = hi.forall(v => if (includeHi) t <= v else t < v)
    okLo && okHi
  }
}
final case class FuzzyPred(term: String, maxEdits: Int) extends TermPredicate {
  // the query term's CODE POINTS, computed once (the closure ships the
  // string; each task materializes this lazily)
  @transient private lazy val termCps: Array[Int] = FuzzyPred.codePoints(term)

  /** Banded two-row Levenshtein over CODE POINTS with per-row early exit:
    * O(|a|·|b|) worst case but abandons a candidate as soon as every cell
    * of a row exceeds maxEdits — the cheap scalar stand-in for Lucene's
    * Levenshtein automaton (which intersects the FST; our dictionary is a
    * parquet column, so the scan-side filter is Spark's codegen'd
    * `levenshtein` and this is the kernel-side exact re-check). Code
    * points, not UTF-16 units: Spark's levenshtein, DuckDB's, and Lucene's
    * all count code points, and the three must agree on every term —
    * including supplementary-plane ones. */
  def matches(t: String): Boolean = {
    val a = termCps
    val b = FuzzyPred.codePoints(t)
    if (math.abs(a.length - b.length) > maxEdits) return false
    if (a.length == 0) return b.length <= maxEdits
    var prev = Array.tabulate(b.length + 1)(identity)
    var curr = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      curr(0) = i
      var rowMin = curr(0)
      var j = 1
      while (j <= b.length) {
        val cost = if (a(i - 1) == b(j - 1)) 0 else 1
        var v = prev(j - 1) + cost
        if (prev(j) + 1 < v) v = prev(j) + 1
        if (curr(j - 1) + 1 < v) v = curr(j - 1) + 1
        curr(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin > maxEdits) return false
      val tmp = prev; prev = curr; curr = tmp
      i += 1
    }
    prev(b.length) <= maxEdits
  }
}

object FuzzyPred {
  private[search] def codePoints(s: String): Array[Int] = {
    val out = new Array[Int](s.codePointCount(0, s.length))
    var i = 0
    var w = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      out(w) = cp
      w += 1
      i += Character.charCount(cp)
    }
    out
  }
}

final case class RegexPred(pattern: String) extends TermPredicate {
  // compiled once per task (the closure ships only the string)
  @transient private lazy val re = java.util.regex.Pattern.compile(pattern)
  def matches(t: String): Boolean = re.matcher(t).matches()
  /** Longest literal prefix GUARANTEED present in every match — pushed to
    * the scan as a startsWith so the term-sorted parquet skips row groups
    * even for regexes. Soundness rules (an unsound prefix would silently
    * drop matching terms from the scan):
    *  - a top-level alternation ("abc|xyz") makes any prefix optional => ""
    *  - a quantifier that can take the last literal to zero occurrences
    *    ('*', '?', '{' — conservatively any brace) unbinds it => drop it
    */
  def literalPrefix: String = {
    // top-level '|' check (class- and escape-aware; group-internal '|'
    // after the prefix is fine — the prefix chars are already consumed)
    var depth = 0
    var inClass = false
    var i = 0
    while (i < pattern.length) {
      pattern.charAt(i) match {
        case '\\' => i += 1 // skip escaped char
        case '[' if !inClass => inClass = true
        case ']' if inClass => inClass = false
        case '(' if !inClass => depth += 1
        case ')' if !inClass => depth -= 1
        case '|' if !inClass && depth == 0 => return ""
        case _ =>
      }
      i += 1
    }
    val meta = ".?*+()[]{}|^$\\"
    val lit = pattern.takeWhile(c => meta.indexOf(c.toInt) < 0)
    if (lit.isEmpty) ""
    else if (lit.length < pattern.length) {
      val next = pattern.charAt(lit.length)
      // '*' / '?' / '{m,n}' can erase the char they bind to; '+' cannot
      if (next == '*' || next == '?' || next == '{') lit.dropRight(1) else lit
    } else lit
  }
}

/** The rewritten form of PrefixQ/RegexpQ/TermRangeQ (MultiTermQuery
  * CONSTANT_SCORE rewrite, Lucene 8.11 semantics — the reference's stubs,
  * `core/search/prefixquery.go:3`, `core/search/termrangequery.go:3`):
  * matches every doc containing >= 1 dictionary term satisfying `pred`,
  * constant score. Like Lucene's bitset rewrite it has NO clause cap —
  * and unlike a TermInSet expansion it is evaluated distributed, so there
  * is nothing to cap. */
final case class MultiTermQ(pred: TermPredicate) extends Query

object Query {
  /** Reference clause cap (`core/search/booleanquery.go:22-26` maxClauseCount). */
  val MaxClauseCount = 1024

  final class TooManyClauses(n: Int) extends IllegalArgumentException(
    s"BooleanQuery has $n clauses, more than the $MaxClauseCount allowed")

  private def clauseCount(q: Query): Int =
    (if (q.isInstanceOf[BoolQ]) q.children.size else 0) + q.children.map(clauseCount).sum

  /** Fixed-point normalization replicating the BooleanQuery rewrites
    * (`core/search/booleanquery.go:75-160` + SURVEY.md §4.1):
    *  - 1-clause unwrap (single MUST, or single SHOULD with msm<=1)
    *  - pure-negative => MatchNoDocs
    *  - clause both required and excluded => MatchNoDocs
    *  - dedup FILTER / MUST_NOT clauses
    *  - MatchNone in MUST/FILTER => MatchNone; drop MatchNone SHOULD/MUST_NOT
    *  - msm > |should| => MatchNone
    */
  def normalize(q: Query): Query = {
    val n = clauseCount(q)
    if (n > MaxClauseCount) throw new TooManyClauses(n)
    var cur = q
    var prev: Query = null
    var iter = 0
    while (cur != prev && iter < 16) { prev = cur; cur = rewriteOnce(cur); iter += 1 }
    cur
  }

  private def rewriteOnce(q: Query): Query = q match {
    case BoostQ(sub, b) =>
      rewriteOnce(sub) match {
        case MatchNoneQ => MatchNoneQ
        case BoostQ(s2, b2) => BoostQ(s2, b * b2)
        case s => if (b == 1.0) s else BoostQ(s, b)
      }
    case ConstQ(sub, b) =>
      rewriteOnce(sub) match {
        case MatchNoneQ => MatchNoneQ
        case s => ConstQ(s, b)
      }
    case DisjMaxQ(qs, tb) =>
      val subs = qs.map(rewriteOnce).filterNot(_ == MatchNoneQ)
      if (subs.isEmpty) MatchNoneQ
      else if (subs.size == 1) subs.head
      else DisjMaxQ(subs, tb)
    case TermInSetQ(ts) if ts.isEmpty => MatchNoneQ
    case PhraseQ(ts, _) if ts.isEmpty => MatchNoneQ
    case PhraseQ(ts, _) if ts.size == 1 => TermQ(ts.head) // Lucene 1-term phrase == TermQuery
    case b: BoolQ => rewriteBool(b)
    case other => other
  }

  private def rewriteBool(b0: BoolQ): Query = {
    val must = b0.must.map(rewriteOnce)
    val should = b0.should.map(rewriteOnce).filterNot(_ == MatchNoneQ)
    val filter = b0.filter.map(rewriteOnce).distinct
    val mustNot = b0.mustNot.map(rewriteOnce).filterNot(_ == MatchNoneQ).distinct

    if (must.contains(MatchNoneQ) || filter.contains(MatchNoneQ)) return MatchNoneQ
    // a clause both required and excluded matches nothing
    if ((must ++ filter).exists(mustNot.contains)) return MatchNoneQ
    if (mustNot.contains(MatchAllQ)) return MatchNoneQ
    val msm = b0.minShouldMatch
    if (msm > should.size && b0.should.nonEmpty) return MatchNoneQ
    if (must.isEmpty && filter.isEmpty && should.isEmpty) return MatchNoneQ // pure negative or empty

    // 1-clause unwrap
    if (must.size == 1 && should.isEmpty && filter.isEmpty && mustNot.isEmpty) return must.head
    if (should.size == 1 && must.isEmpty && filter.isEmpty && mustNot.isEmpty && msm <= 1)
      return should.head
    BoolQ(must, should, filter, mustNot, msm)
  }
}
