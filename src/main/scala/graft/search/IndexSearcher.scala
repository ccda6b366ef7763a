package graft.search

import scala.collection.mutable.ArrayBuilder
import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.bm25.Bm25
import graft.index.{BuiltIndex, DeleteRow, SegmentMeta, TermPostings}

/** Query-wide constants resolved ONCE on the driver (≙ Weight creation,
  * `core/search/termquery.go:220-276`: CollectionStatistics + TermStatistics
  * + idf/avgdl baked in) and shipped to executors in the task closure
  * (broadcast-variable scale: a few doubles per query term).
  */
final case class QueryContext(
    idf: Map[String, Double],     // per query term
    cache: Array[Double],         // norm cache, shared across terms
    fieldDocCount: Long) extends Serializable

final case class ScoredDoc(docId: Long, score: Double)

/** Total hit count with its accuracy relation — the reference's
  * `TotalHits` (`core/search/indexsearcher.go:14-16`): EQUAL_TO when every
  * match was counted, GREATER_THAN_OR_EQUAL_TO once dynamic pruning began
  * skipping non-competitive docs (counting stays exact up to the
  * hits-threshold knob, Lucene's totalHitsThreshold). */
final case class TotalHits(value: Long, relation: String)
object TotalHits {
  val EQ = "EQUAL_TO"
  val GTE = "GREATER_THAN_OR_EQUAL_TO"
}

/** The top-k of a run of queries, flat: query `queries(j)`'s hits are
  * `docIds(h)`/`scores(h)` for h in [offsets(j), offsets(j + 1)), score desc,
  * docId asc; `collected(j)` counts its matches and `pruned(j)` says whether
  * pruning made that count a lower bound. Queries ascend. A kernel task
  * emits one leaf block per merge partition; [[IndexSearcher.mergeTopK]]
  * merges blocks into one that holds each of their queries once. */
final case class HitBlock(queries: Array[Int], offsets: Array[Int], docIds: Array[Long],
                          scores: Array[Double], collected: Array[Long], pruned: Array[Boolean]) {
  /** Every hit in block order, as `f(query, docId, score)`. */
  def rows[T](f: (Int, Long, Double) => T): Iterator[T] =
    queries.indices.iterator.flatMap(j =>
      (offsets(j) until offsets(j + 1)).iterator.map(h => f(queries(j), docIds(h), scores(h))))
}

object HitBlock {
  /** Appends queries in ascending order, each after its hits. */
  private[search] final class Builder {
    private val queries = new ArrayBuilder.ofInt
    private val offsets = new ArrayBuilder.ofInt
    private val docIds = new ArrayBuilder.ofLong
    private val scores = new ArrayBuilder.ofDouble
    private val collected = new ArrayBuilder.ofLong
    private val pruned = new ArrayBuilder.ofBoolean
    offsets.addOne(0)

    def nonEmpty: Boolean = queries.length > 0

    def hit(docId: Long, score: Double): Unit = { docIds.addOne(docId); scores.addOne(score) }

    /** Close query `q` over the hits added since the previous query. */
    def query(q: Int, count: Long, wasPruned: Boolean): Unit = {
      queries.addOne(q); offsets.addOne(docIds.length); collected.addOne(count); pruned.addOne(wasPruned)
    }

    /** Query `q`'s leaf: its collector's hits and counts. */
    def leaf(q: Int, c: TopKCollector): Unit = {
      val (d, s) = c.sortedHits
      docIds.addAll(d); scores.addAll(s)
      query(q, c.collected, c.pruned)
    }

    def result(): HitBlock = HitBlock(queries.result(), offsets.result(), docIds.result(),
      scores.result(), collected.result(), pruned.result())
  }
}

/** One hit of a batch multi-query run (see [[IndexSearcher.searchMany]]). */
final case class QueryHit(queryId: String, docId: Long, score: Double)

/** Builds the scorer tree for one segment — the Boolean2ScorerSupplier
  * decision tree (`core/search/boolean2scorersupplier.go:74-135`):
  * pure conjunction => req(); pure disjunction => opt(); mixed =>
  * ReqOptSum(req, opt); MUST_NOT via ReqExcl. Every union of two or more
  * scorers (should, MUST_NOT, dismax) is one WAND walk, pruned only where
  * its score is the collected score; a constant-score multi-term union is
  * a doc-id set.
  */
object ScorerBuilder {

  /** `q`'s scorer tree under `mode`: only a `TopScores` site whose score is
    * the collected score hands the threshold on (the root term, a lone
    * scoring MUST, a pure conjunction, a should union without required
    * clauses, ReqOpt and dismax); other clauses get `mode.nested`, and
    * ConstQ, FILTER and MUST_NOT subtrees `Matches`.
    * @return None when the query matches nothing in this segment
    */
  def build(q: Query, postings: Map[String, TermReader], segDocCount: Int,
            ctx: QueryContext, boost: Double, mode: ScoreMode): Option[Scorer] = q match {
    case MatchNoneQ => None
    case MatchAllQ => Some(new RangeAllScorer(segDocCount, if (mode.scores) boost else 0.0))
    case TermQ(t) =>
      postings.get(t).map { rd =>
        val ps = new PostingsScorer(rd, boost * ctx.idf.getOrElse(t, 0.0), ctx.cache, mode.scores)
        // the ImpactsDISI treatment: skip whole blocks the collector
        // threshold already beats
        mode match {
          case ScoreMode.TopScores(minCompetitive) => new BlockMaxTermScorer(ps, minCompetitive)
          case _ => ps
        }
      }
    case BoostQ(sub, b) => build(sub, postings, segDocCount, ctx, boost * b, mode)
    case ConstQ(sub, b) =>
      build(sub, postings, segDocCount, ctx, 1.0, ScoreMode.Matches)
        .map(inner => new ConstantScoreScorer(inner, if (mode.scores) boost * b else 0.0))
    case TermInSetQ(ts) =>
      constUnion(ts.toArray.flatMap(t => postings.get(t)), segDocCount, ctx, boost, mode)
    case MultiTermQ(pred) =>
      // the co-grouped rows were already scan-filtered by this predicate;
      // the exact re-check here only drops rows pulled in by OTHER clauses
      constUnion(postings.iterator.collect { case (t, rd) if pred.matches(t) => rd }.toArray,
        segDocCount, ctx, boost, mode)
    case DisjMaxQ(qs, tb) =>
      val subs = qs.flatMap(build(_, postings, segDocCount, ctx, boost, mode.nested)).toArray
      if (subs.isEmpty) None
      else if (subs.length == 1) Some(subs(0))
      else
        // one WAND walk (Lucene gives DisjunctionMaxQuery the WAND
        // treatment too), pruned when this dismax's score is the collected
        // score
        Some(new DisjMaxWandScorer(subs, tb, mode.prune))
    case PhraseQ(ts, slop) =>
      // every phrase term must have postings in this segment (conjunction);
      // weight = boost * sum of the terms' idfs (Lucene PhraseQuery+BM25)
      val readers = ts.map(postings.get)
      if (readers.exists(_.isEmpty)) None
      else {
        val subs = readers.map(r => new PostingsScorer(r.get, 0.0, ctx.cache, scoring = true)).toArray
        val w = boost * ts.map(t => ctx.idf.getOrElse(t, 0.0)).sum
        Some(new PhraseScorer(subs, w, ctx.cache, mode.scores, slop))
      }
    case _: PrefixQ | _: RegexpQ | _: TermRangeQ | _: FuzzyQ | _: WildcardQ =>
      throw new IllegalStateException("multi-term queries must be rewritten to MultiTermQ before scoring")
    case b: BoolQ => buildBool(b, postings, segDocCount, ctx, boost, mode)
  }

  /** Constant-score union over term readers (TermInSet / MultiTerm body):
    * only docs are read, since the score is the constant. */
  private def constUnion(rds: Array[TermReader], segDocCount: Int, ctx: QueryContext,
                         boost: Double, mode: ScoreMode): Option[Scorer] =
    if (rds.isEmpty) None
    else Some(new ConstantScoreScorer(
      docIdSet(rds.map(rd => new PostingsScorer(rd, 0.0, ctx.cache, scoring = false)), segDocCount),
      if (mode.scores) boost else 0.0))

  /** The docs of a union of `subs`, each posting read once: every sub's
    * docs are ORed into a bitset of the segment, whose set bits are then
    * iterated — Lucene 8.11's `DocIdSetBuilder` path for
    * `MultiTermQueryConstantScoreWrapper` and `TermInSetQuery`. */
  def docIdSet(subs: Array[_ <: Scorer], segDocCount: Int): Scorer = {
    val bits = new java.util.BitSet(segDocCount)
    subs.foreach { s =>
      var d = s.nextDoc()
      while (d != DISI.NO_MORE) { bits.set(d); d = s.nextDoc() }
    }
    new IntArrayScorer(bits.stream().toArray)
  }

  private def buildBool(b: BoolQ, postings: Map[String, TermReader], segDocCount: Int,
                        ctx: QueryContext, boost: Double, mode: ScoreMode): Option[Scorer] = {
    // required clauses: every MUST/FILTER must produce a scorer. A LONE
    // MUST with no FILTER/SHOULD clauses IS the collected score (MUST_NOT
    // only removes matches), so it is built under this query's own mode
    val mustMode = if (b.must.size == 1 && b.filter.isEmpty && b.should.isEmpty) mode else mode.nested
    val mustS = b.must.map(q => build(q, postings, segDocCount, ctx, boost, mustMode))
    val filtS = b.filter.map(q => build(q, postings, segDocCount, ctx, 1.0, ScoreMode.Matches))
    if ((mustS ++ filtS).exists(_.isEmpty)) return None
    val must = mustS.flatten.toArray
    val filt = filtS.flatten.toArray
    // a conjunction's score IS the collected score only when no SHOULD
    // clause adds to it (MUST_NOT and FILTER never score)
    val req: Option[Scorer] = (must ++ filt) match {
      case Array() => None
      case Array(one) if must.length <= 1 => Some(one) // incl. the lone MUST built above
      case all => Some(new ConjunctionScorer(all, must, if (b.should.isEmpty) mode.prune else None))
    }

    val msm = math.max(b.minShouldMatch, if (req.isEmpty) 1 else 0)
    val shouldS = b.should.flatMap(q => build(q, postings, segDocCount, ctx, boost, mode.nested)).toArray
    // the union's score IS the collected score only without required clauses
    val opt = WandScorer.union(shouldS, msm, if (req.isEmpty) mode.prune else None)

    // combine req/opt (Boolean2ScorerSupplier.getInternal)
    val positive: Option[Scorer] = (req, opt) match {
      case (None, None) => None
      case (None, o @ Some(_)) => o
      case (r @ Some(_), None) =>
        if (b.should.nonEmpty && b.minShouldMatch > 0) None // required shoulds matched nothing here
        else r
      case (Some(r), Some(o)) =>
        if (b.minShouldMatch > 0) Some(new ConjunctionScorer(Array(r, o), Array(r, o)))
        // req+opt sum IS the collected score here (MUST_NOT only removes
        // matches)
        else Some(new ReqOptSumScorer(r, o, mode.prune))
    }

    positive.map { pos =>
      val exclS = b.mustNot.flatMap(q => build(q, postings, segDocCount, ctx, 1.0, ScoreMode.Matches))
      WandScorer.union(exclS.toArray, 1, None).fold(pos)(new ReqExclScorer(pos, _))
    }
  }
}

/** One segment's match sink, fed by [[SegmentKernel.run]] — the role of
  * Lucene's LeafCollector. Its [[mode]] builds the scorer tree: a top-k
  * collector's `TopScores` prunes by its own threshold feedback; a
  * `Matches` one gets the constant-score, exhaustive tree (no freq
  * decode, no BM25 math). */
private[search] trait LeafCollector {
  private[search] def mode: ScoreMode
  /** Position the scorer on its first candidate (a cursor skips ahead). */
  private[search] def first(s: Scorer): Int = s.nextDoc()
  /** Take the match `doc` the scorer is on; false ends the segment early. */
  private[search] def collect(doc: Int, s: Scorer): Boolean
}

/** First `k` matches of a segment in ASCENDING docId order, then STOP — the
  * early-termination leaf collector for sorted indexes (Lucene's
  * TopFieldCollector leaf early-exit when the index sort matches the query
  * sort): on a `buildSorted` index docId order == sort order by
  * construction, so the first k matching docIds ARE the segment's sorted
  * top-k. No scoring work.
  *
  * `afterDoc` is the paging cursor (the PagingFieldCollector role on a
  * sorted index, `core/search/topfieldcollector.go` + Lucene's
  * searchAfter(FieldDoc)): docId order == sort order, so "after the last hit
  * of the previous page" is a plain docId lower bound — segments wholly
  * before it skip via one advance() into the skip structure, never a scan.
  */
private[search] final class FirstKCollector(k: Int, seg: SegmentMeta, afterDoc: Long)
    extends LeafCollector {
  val hits = new scala.collection.mutable.ArrayBuffer[ScoredDoc](k)
  def mode: ScoreMode = ScoreMode.Matches
  override def first(s: Scorer): Int =
    if (k <= 0 || afterDoc >= seg.docBase + seg.docCount) DISI.NO_MORE // page is past this whole segment
    else if (afterDoc >= seg.docBase) s.advance((afterDoc - seg.docBase).toInt + 1)
    else s.nextDoc()
  def collect(doc: Int, s: Scorer): Boolean = { hits += ScoredDoc(seg.docBase + doc, 0.0); hits.size < k }
}

/** A segment's match count (no scoring work). */
private[search] final class CountCollector extends LeafCollector {
  var n = 0L
  def mode: ScoreMode = ScoreMode.Matches
  def collect(doc: Int, s: Scorer): Boolean = { n += 1; true }
}

/** Per-segment search kernel: runs the scorer tree over one segment's
  * posting lists into a [[LeafCollector]] (≙ one leaf in
  * `IndexSearcher.SearchLeaves`, `core/search/indexsearcher.go:376-392`).
  */
object SegmentKernel {

  /** The segment's scorer tree with its live docs applied: tombstoned local
    * ids are excluded via a ReqExcl anti-join (`core/search/weight.go:189-236`
    * live-docs semantics — scores of surviving docs are untouched). None
    * when the query matches nothing in this segment. */
  private def scorer(q: Query, postings: Map[String, TermReader], seg: SegmentMeta,
                     ctx: QueryContext, deleted: Array[Int], mode: ScoreMode): Option[Scorer] =
    ScorerBuilder.build(q, postings, seg.docCount.toInt, ctx, 1.0, mode)
      .map(s => if (deleted.isEmpty) s else new ReqExclScorer(s, new IntArrayScorer(deleted)))

  /** The one push loop: every collecting path (top-k, top-k + total,
    * first-k, count, the cross-field kernels) drives a segment through it. */
  private[search] def run(s: Scorer, c: LeafCollector): Unit = {
    var d = c.first(s)
    while (d != DISI.NO_MORE && c.collect(d, s)) d = s.nextDoc()
  }

  /** Build `q`'s tree under the collector's mode and run the segment
    * through it. */
  private[search] def run(q: Query, postings: Map[String, TermReader], seg: SegmentMeta,
                          ctx: QueryContext, deleted: Array[Int], c: LeafCollector): Unit =
    scorer(q, postings, seg, ctx, deleted, c.mode).foreach(run(_, c))

  /** The one top-k leaf: `q` over one segment into a fresh [[TopKCollector]]
    * (its hits, count and pruning flag). runId >= 0 joins the leaf to the
    * query's cross-leaf threshold cell (the MaxScoreAccumulator role):
    * leaves sharing an executor JVM raise each other's pruning floor —
    * exact by the strict-floor argument. */
  private[search] def leaf(q: Query, postings: Map[String, TermReader], seg: SegmentMeta,
                           ctx: QueryContext, k: Int, after: Option[(Double, Long)],
                           deleted: Array[Int], runId: Long, hitsThreshold: Long): TopKCollector = {
    val collector = new TopKCollector(k, seg.docBase, after, hitsThreshold, runId)
    run(q, postings, seg, ctx, deleted, collector)
    collector
  }

  def topK(q: Query, postings: Map[String, TermReader], seg: SegmentMeta,
           ctx: QueryContext, k: Int, after: Option[(Double, Long)],
           deleted: Array[Int] = Array.emptyIntArray,
           runId: Long = -1L): Iterator[ScoredDoc] =
    leaf(q, postings, seg, ctx, k, after, deleted, runId, 0L).hits.iterator

  /** All matching docs with scores (exhaustive; for oracles & set ops) — the
    * one PULL path: a segment's whole match set streams lazily, never
    * buffered. */
  def scoreAll(q: Query, postings: Map[String, TermReader], seg: SegmentMeta,
               ctx: QueryContext, deleted: Array[Int] = Array.emptyIntArray,
               mode: ScoreMode = ScoreMode.Complete): Iterator[ScoredDoc] =
    scorer(q, postings, seg, ctx, deleted, mode) match {
      case None => Iterator.empty
      case Some(s) =>
        Iterator.continually {
          val d = s.nextDoc()
          if (d == DISI.NO_MORE) null else ScoredDoc(seg.docBase + d, if (mode.scores) s.score() else 0.0)
        }.takeWhile(_ != null)
    }
}

/** Driver-side searcher (SURVEY.md §3.2 Spark shape):
  * rewrite + weight on the driver (tiny stats lookup with term pushdown),
  * scorer tree per partition via cogroup over segments, leaf top-k heaps,
  * then the per-query merge ≡ `MergeTopDocs`: `orderBy(score desc, docId
  * asc).limit(k)` for [[IndexSearcher.search]], [[mergeTopK]] for the
  * batch and single-query top-k runs.
  */
object IndexSearcher {
  /** Stats-memo LRU bound (entries are a term + two longs — ~100 B each,
    * so the bound caps the memo near 100 MB of driver heap). */
  val StatsCacheMaxEntries: Int = 1 << 20

  /** Driver-merge bound of the single-query top-k runs (searchWithTotal,
    * searchLocal): when segments × k (the worst-case pre-merge hit count)
    * is at most this, the leaf blocks are collected and merged on the
    * driver (~16 B/hit, so the bound caps the collect near 16 MB); larger
    * runs merge in the exchange first. It also bounds the term-stats
    * collect. */
  val DriverMergeMaxRows: Long = 1L << 20

  /** The accumulator every top-k leaf adds its kernel time to, in ns. */
  val KernelNanos = "graft-batch-kernel-nanos"

  /** The one top-k merge (≡ MergeTopDocs, `core/search/topdocs.go:33-110`):
    * blocks → one block holding each of their queries once, in ascending
    * order, with its first k hits by score desc, docId asc (global docIds
    * encode (segment asc, localDoc asc), so the tie-break is Lucene's) and
    * its counts summed. A k-way merge over the blocks' runs of each query,
    * which are already in that order; it runs on the driver and inside the
    * exchange alike. */
  private[search] def mergeTopK(k: Int)(blocks: Array[HitBlock]): HitBlock = {
    val out = new HitBlock.Builder
    val next = new Array[Int](blocks.length) // each block's next query slot
    val pos = new Array[Int](blocks.length)  // each block's run of the query
    val end = new Array[Int](blocks.length)  // being merged: pos until end
    // the lowest query a block has left; Int.MaxValue once none has
    def nextQuery(): Int = {
      var q = Int.MaxValue
      var b = 0
      while (b < blocks.length) {
        if (next(b) < blocks(b).queries.length) q = math.min(q, blocks(b).queries(next(b)))
        b += 1
      }
      q
    }
    // block b's next hit ranks before block c's: score desc, docId asc
    def before(b: Int, c: Int): Boolean = {
      val sb = blocks(b).scores(pos(b))
      val sc = blocks(c).scores(pos(c))
      sb > sc || (sb == sc && blocks(b).docIds(pos(b)) < blocks(c).docIds(pos(c)))
    }
    var q = nextQuery()
    while (q != Int.MaxValue) {
      var collected = 0L
      var pruned = false
      var b = 0
      while (b < blocks.length) {
        val bl = blocks(b)
        val j = next(b)
        if (j < bl.queries.length && bl.queries(j) == q) {
          pos(b) = bl.offsets(j); end(b) = bl.offsets(j + 1)
          collected += bl.collected(j); pruned ||= bl.pruned(j)
          next(b) = j + 1
        } else { pos(b) = 0; end(b) = 0 }
        b += 1
      }
      var taken = 0
      var best = 0
      while (taken < k && best >= 0) {
        best = -1
        b = 0
        while (b < blocks.length) {
          if (pos(b) < end(b) && (best < 0 || before(b, best))) best = b
          b += 1
        }
        if (best >= 0) {
          out.hit(blocks(best).docIds(pos(best)), blocks(best).scores(pos(best)))
          pos(best) += 1
          taken += 1
        }
      }
      out.query(q, collected, pruned)
      q = nextQuery()
    }
    out.result()
  }

  /** The merge exchange: the leaf blocks routed by the merge partition they
    * are keyed by (an Int key below `parts` hashes to itself) in the same
    * lineage as the segment run, so a top-k run stays one job with no
    * adaptive map stage, and each merge task's blocks merged into one. */
  private[search] def mergeExchange(leaves: RDD[(Int, HitBlock)], parts: Int, k: Int): RDD[HitBlock] =
    leaves.partitionBy(new org.apache.spark.HashPartitioner(parts))
      .mapPartitions(it => Iterator.single(mergeTopK(k)(it.map(_._2).toArray)))

  /** Access-order LRU bounded at `max` entries: at the bound each insert
    * evicts only the least-recently-used entry (never the whole map). */
  private[graft] def lruCache[K, V](max: Int): java.util.Map[K, V] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[K, V](1024, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
          size() > max
      })
}

final class IndexSearcher(val index: BuiltIndex) extends Serializable {

  /** One decoded reader per term (executor-side: a task's queries share it). */
  private def readers(rows: IterableOnce[TermPostings], ctx: QueryContext): Map[String, TermReader] =
    rows.iterator.map(tp => tp.term -> new TermReader(tp, ctx.cache)).toMap

  /** Resolve the query: normalize, then rewrite PrefixQ/RegexpQ/TermRangeQ
    * into DISTRIBUTED constant-score [[MultiTermQ]]s (Lucene's
    * CONSTANT_SCORE multi-term rewrite, evaluated against the term
    * dictionary ON the executors — the driver never sees the expansion;
    * round-1 collected matching terms to the driver, an unbounded collect
    * on a billion-term dictionary).
    */
  def rewrite(spark: SparkSession, q0: Query): Query = {
    val q1 = Query.normalize(q0)
    val q = Query.normalize(toMultiTerm(q1))
    if (!index.manifest.hasPositions && q.exists { case PhraseQ(ts, _) => ts.size >= 2; case _ => false })
      throw new IllegalStateException(
        "phrase query over an index without a positions stream — rebuild with BuildConfig.storePositions=true")
    q
  }

  private def toMultiTerm(q: Query): Query = q match {
    case PrefixQ(p) => ConstQ(MultiTermQ(PrefixPred(p)), 1.0)
    case RegexpQ(p) =>
      // anchored full-match, as Lucene's RegexpQuery automaton semantics
      // (RegexPred.matches uses Matcher.matches — whole-string — so the
      // raw pattern needs no explicit anchors)
      ConstQ(MultiTermQ(RegexPred(p)), 1.0)
    case TermRangeQ(lo, hi, incLo, incHi) =>
      ConstQ(MultiTermQ(RangePred(lo, hi, incLo, incHi)), 1.0)
    case FuzzyQ(t, e) => ConstQ(MultiTermQ(FuzzyPred(t, e)), 1.0)
    case WildcardQ(p) =>
      // wildcard = the escaped-regex automaton (Lucene WildcardQuery is an
      // AutomatonQuery); rides RegexPred incl. its literal-prefix pushdown
      ConstQ(MultiTermQ(RegexPred(WildcardQ.toRegex(p))), 1.0)
    case BoolQ(m, s, f, n, msm) =>
      BoolQ(m.map(toMultiTerm), s.map(toMultiTerm), f.map(toMultiTerm), n.map(toMultiTerm), msm)
    case BoostQ(sub, b) => BoostQ(toMultiTerm(sub), b)
    case ConstQ(sub, b) => ConstQ(toMultiTerm(sub), b)
    case DisjMaxQ(qs, tb) => DisjMaxQ(qs.map(toMultiTerm), tb)
    case other => other
  }

  /** Catalyst translation of a [[TermPredicate]] for the posting-scan
    * pushdown. Prefix/range push to parquet row-group stats directly; a
    * regex pushes its literal prefix (row-group skip) and evaluates the
    * full anchored match post-scan — kernel-side `matches` re-checks
    * exactly either way.
    */
  private def predColumn(p: TermPredicate): org.apache.spark.sql.Column = p match {
    case PrefixPred(pre) => col("term").startsWith(pre)
    case RangePred(lo, hi, incLo, incHi) =>
      val loP = lo.map(v => if (incLo) col("term") >= v else col("term") > v)
      val hiP = hi.map(v => if (incHi) col("term") <= v else col("term") < v)
      (loP.toSeq ++ hiP.toSeq).reduceOption(_ && _).getOrElse(lit(true))
    case r @ RegexPred(pat) =>
      val full = col("term").rlike(s"^(?:$pat)$$")
      val pre = r.literalPrefix
      if (pre.nonEmpty) col("term").startsWith(pre) && full else full
    case FuzzyPred(t, e) =>
      // no sound term prefix/range exists (the first character may be
      // edited), but the LENGTH window is sound — and the builder stores
      // each term's code-point length as its own `termLen` column exactly so
      // this window becomes a PLAIN COMPARISON that pushes to the parquet
      // row-group stats (the sub-linear candidate-generation hook a
      // billion-term dictionary needs; Lucene gets it from the FST walk —
      // a `length(term)` expression would evaluate post-scan on every row).
      // The levenshtein then runs only on the surviving slice: Spark's
      // codegen'd levenshtein is the SAME code-point metric the kernel's
      // banded DP re-checks (and DuckDB's oracle computes), so the filter
      // is exact, not merely a superset.
      val cpLen = t.codePointCount(0, t.length)
      col("termLen").between(cpLen - e, cpLen + e) &&
        org.apache.spark.sql.functions.levenshtein(col("term"), lit(t)) <= e
  }

  /** Fetch stored fields for hits — the `IndexReader.Document(docID)`
    * analogue (`core/search/indexsearcher.go:80-89`): the input table IS the
    * stored-fields file (SURVEY.md §1.4); a broadcast-sized hit set joins
    * back by docId (Catalyst picks a broadcast hash join for k rows).
    */
  def fetchDocs(spark: SparkSession, hits: Dataset[ScoredDoc], docs: DataFrame,
                docIdCol: String): DataFrame = {
    val h = hits.toDF("doc_id", "score")
    if (docIdCol == "doc_id")
      h.join(docs, Seq("doc_id")).orderBy(col("score").desc, col("doc_id").asc)
    else
      h.join(docs, h("doc_id") === docs(docIdCol)).orderBy(col("score").desc, h("doc_id").asc)
  }

  /** Sort-by-field top-k — the TopFieldCollector/FieldValueHitQueue analogue
    * (`core/search/topfieldcollector.go:14-50`): every match joined to a
    * field table (the "doc values"), then `orderBy(sortCols).limit(k)` —
    * Catalyst's TakeOrderedAndProject IS the bounded field-value heap.
    * `fields` must carry a `doc_id` column; numeric/range predicates on it
    * get parquet pushdown (the PointRangeQuery ≡ `between` mapping of
    * SURVEY.md §2.4).
    *
    * Score contract (r6): when no sort column references `score`, the
    * match kernel runs NON-scoring (Lucene's TopFieldCollector does not
    * score either) and the returned `score` column is a constant 0.0 —
    * field-sorted callers wanting real scores must put `score` among
    * `sortCols` or use [[search]].
    */
  def searchSortBy(spark: SparkSession, q0: Query, fields: DataFrame,
                   sortCols: Seq[org.apache.spark.sql.Column], k: Int): DataFrame = {
    // field sort needs scores only when a sort column references the score
    // column; otherwise run the NON-scoring match kernel (constant-score: no
    // freq decode, no norm/idf math — the same fast path searchSortByAfter
    // takes). The returned frame still carries a `score` column for schema
    // stability; it is 0.0 on the non-scoring path.
    // case-INSENSITIVE match (Spark resolves column names case-insensitively
    // by default, so col("SCORE") must also keep the scoring path); a missed
    // reference fails loud, not wrong — the non-scoring frame carries no
    // score column before the limit, so an undetected score sort is an
    // AnalysisException, never a silent constant sort
    val needScore = sortCols.exists(c =>
      org.apache.spark.sql.graft.ColumnRefs.referencedNames(c)
        .exists(_.equalsIgnoreCase("score")))
    if (needScore) {
      val matches = scoreAll(spark, q0).toDF("doc_id", "score")
      matches.join(fields, "doc_id").orderBy(sortCols: _*).limit(k)
    } else {
      // project the (constant) score away BEFORE the match-set/fields join
      // — it would otherwise ride the join exchange once per match — and
      // re-attach it to the k surviving rows for schema stability
      val matches = matchingDocs(spark, q0).toDF("doc_id", "z").select("doc_id")
      matches.join(fields, "doc_id").orderBy(sortCols: _*).limit(k)
        .select(Seq(col("doc_id"), lit(0.0).as("score")) ++
          fields.columns.filterNot(_ == "doc_id").map(col): _*)
    }
  }

  /** Field-sorted searchAfter — the PagingFieldCollector role
    * (`core/search/topfieldcollector.go:14-50`; Lucene's
    * searchAfter(FieldDoc)): page k rows of (sortField asc/desc, doc_id asc)
    * strictly AFTER the cursor `(lastSortValue, lastDocId)`. The cursor
    * predicate (`field < v OR (field = v AND doc_id > d)` for desc) is a
    * plain comparison, so it pushes to the fields table's parquet stats —
    * deep pages prune the field scan instead of re-reading k+page rows.
    * `fields` must carry `doc_id` + `sortField`; pass `after = None` for
    * page 1. Tie-break is always doc_id asc (the Lucene FieldDoc contract).
    */
  def searchSortByAfter(spark: SparkSession, q0: Query, fields: DataFrame,
                        sortField: String, ascending: Boolean, k: Int,
                        after: Option[(Any, Long)]): DataFrame = {
    // field order discards scores entirely, so run the NON-scoring match
    // kernel (constant-score: no freq decode, no norm/idf math) — every
    // page of a deep-paging session repeats this kernel
    val matches = matchingDocs(spark, q0).toDF("doc_id", "z").select("doc_id")
    val f = col(sortField)
    val paged = after match {
      case None => fields
      case Some((v, d)) =>
        val beyond = if (ascending) f > lit(v) else f < lit(v)
        fields.where(beyond || (f === lit(v) && col("doc_id") > d))
    }
    val order = Seq(if (ascending) f.asc else f.desc, col("doc_id").asc)
    matches.join(paged, "doc_id").orderBy(order: _*).limit(k)
  }

  /** Early-terminating top-k over a SORTED index (built with
    * [[graft.index.IndexBuilder.buildSorted]], which makes docId order ==
    * index-sort order; the manifest records the sort): each segment's
    * kernel emits only its FIRST k matches in docId order and stops — it
    * never scores nor visits the rest of its matches — and the global
    * merge keeps the k smallest docIds. Equivalent to
    * [[searchSortBy]]-with-the-index-sort, which scores and sorts EVERY
    * match (rank-identity tested); this is Lucene's
    * TopFieldCollector-on-index-sort early termination, the entire point
    * of index sorting. Returns (docId, 0.0) rows, docId ascending.
    */
  def searchSortedTopK(spark: SparkSession, q0: Query, k: Int,
                       after: Option[Long] = None): Dataset[ScoredDoc] = {
    import spark.implicits._
    require(index.manifest.indexSort.nonEmpty,
      s"index at ${index.indexDir} has no index sort (build with IndexBuilder.buildSorted; " +
        "appends clear it — the appended docIds cannot interleave into the sort order)")
    val (Seq(q), _, ctx) = prepare(spark, Seq(q0), scoring = false, k)
    val afterDoc = after.getOrElse(-1L)
    leaves(spark, Seq(q), ctx) { (seg, rds, del, _) =>
      val c = new FirstKCollector(k, seg, afterDoc)
      SegmentKernel.run(q, rds, seg, ctx, del, c)
      c.hits.iterator
    }.orderBy($"docId".asc).limit(k).as[ScoredDoc]
  }

  /** Global term statistics for the query terms: sum over segments, pushed
    * down to the term-sorted parquet (`indexsearcher.go:438-496` analogue).
    * Stats are immutable for a committed index generation, so they are
    * memoized per searcher — repeated-term workloads (interactive sessions,
    * query logs, repeated batches) skip the stats job entirely. Terms
    * absent from the index are cached as (0, 0).
    */
  // Bounded LRU (access-order LinkedHashMap): at the size bound only the
  // LEAST-recently-used entry is evicted per insert, so a long-lived
  // searcher at the boundary keeps its hot working set instead of
  // thrashing between full and cold (the old clear-all did the latter).
  // Driver-side only; synchronized access is not on any hot loop.
  // @transient: the searcher rides every task closure (kernel lambdas call
  // its methods), and a populated memo must not be re-serialized into each
  // task — executors lazily get an empty map they never touch.
  @transient private lazy val statsCache =
    IndexSearcher.lruCache[String, (Long, Long)](IndexSearcher.StatsCacheMaxEntries)

  def termStats(spark: SparkSession, terms: Set[String]): Map[String, (Long, Long)] = {
    if (terms.isEmpty) return Map.empty
    // snapshot cache hits FIRST: inserts below may evict LRU entries, and
    // the result must not depend on entries surviving them
    val hits = terms.iterator
      .flatMap(t => Option(statsCache.get(t)).map(t -> _)).toMap
    val missing = terms -- hits.keySet
    val fetched =
      if (missing.isEmpty) Map.empty[String, (Long, Long)]
      else scanStats(spark, missing, IndexSearcher.DriverMergeMaxRows)
    missing.foreach(t => statsCache.put(t, fetched.getOrElse(t, (0L, 0L))))
    (hits ++ fetched).filter(_._2._1 > 0)
  }

  /** Summed (docFreq, totalTermFreq) of `terms` over every segment, read
    * off a column-pruned scan with term pushdown (the blocks column, the
    * index's bulk, never leaves the reader). At most |terms| x |segments|
    * stat rows exist: within `maxDriverRows` they are collected and summed
    * on the driver — ONE stage, no exchange; for a cold interactive query
    * that stage is half its latency — and above it a groupBy sums them
    * distributed, so the collect stays |terms| rows. Long sums are exact
    * and order-independent: both branches return the same map. */
  private[search] def scanStats(spark: SparkSession, terms: Set[String],
                                maxDriverRows: Long): Map[String, (Long, Long)] = {
    val rows = index.postings(spark).where(col("term").isin(terms.toSeq: _*))
    if (terms.size.toLong * math.max(1, index.manifest.segments.size) <= maxDriverRows)
      rows.select(col("term"), col("docFreq"), col("totalTermFreq")).collect()
        .groupMapReduce(_.getString(0))(r => (r.getInt(1).toLong, r.getLong(2))) {
          case ((df0, ttf0), (df1, ttf1)) => (df0 + df1, ttf0 + ttf1)
        }
    else
      rows.groupBy("term").agg(sum("docFreq"), sum("totalTermFreq")).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
  }

  def queryContext(spark: SparkSession, q: Query): QueryContext =
    queryContextFor(termStats(spark, q.terms))

  private def queryContextFor(stats: Map[String, (Long, Long)]): QueryContext = {
    val n = index.stats.fieldDocCount
    val idf = stats.map { case (t, (df, _)) => t -> Bm25.idf(df, n) }
    QueryContext(idf,
      Bm25.buildCacheFor(index.manifest.normMode, index.stats.avgdl), n)
  }

  /** Every entry point's preparation pass: rewrite the queries, then one
    * [[QueryContext]] from the memoized [[termStats]] of all their terms (≙
    * Weight creation). A non-scoring caller skips the stats entirely: idf
    * is never read without scoring, and the norm cache needs only avgdl.
    * The top-k entry points pass their k, checked here before any job:
    * k = 0 keeps no hits, k < 0 is rejected. */
  private def prepare(spark: SparkSession, qs0: Seq[Query], scoring: Boolean, k: Int = 0)
      : (Seq[Query], Map[String, (Long, Long)], QueryContext) = {
    require(k >= 0, s"k must be >= 0, got $k")
    val qs = qs0.map(rewrite(spark, _))
    val stats =
      if (scoring) termStats(spark, qs.flatMap(_.terms).toSet) else Map.empty[String, (Long, Long)]
    (qs, stats, queryContextFor(stats))
  }

  /** Fuzzy top-k via the [[FuzzyNgrams]] sidecar: candidate terms come
    * from gram SEEKS (In(gram) row-group pushdown — IO ∝ the query's gram
    * postings, not the dictionary), then the query rewrites to the same
    * constant-score term set the scan-filter path would match, so the
    * posting scan gets full term-seek pushdown too. Falls back to the
    * [[FuzzyPred]] scan path when the count threshold cannot prune (short
    * terms) or the candidate set exceeds `maxExpansions` (audited cap,
    * logged — never silently truncated: a capped expansion would change
    * results vs the exhaustive path).
    */
  def searchFuzzySeek(spark: SparkSession, q: FuzzyQ, k: Int, ngrams: FuzzyNgrams,
                      maxExpansions: Int = 4096): Dataset[ScoredDoc] = {
    require(ngrams.generation == index.manifest.generation,
      s"fuzzy sidecar generation ${ngrams.generation} != index generation " +
        s"${index.manifest.generation} — rebuild via FuzzyNgrams.buildOrLoad")
    ngrams.candidates(spark, q.term, q.maxEdits) match {
      case None => search(spark, q, k) // short term: threshold can't prune
      case Some(cand) =>
        val terms = cand.limit(maxExpansions + 1).collect().map(_.getString(0))
        if (terms.length > maxExpansions) {
          System.err.println(s"[graft] WARNING: fuzzy '${q.term}'~${q.maxEdits}: " +
            s"candidates exceed maxExpansions=$maxExpansions — falling back to the scan path")
          search(spark, q, k)
        } else search(spark, ConstQ(TermInSetQ(terms.toSet), 1.0), k)
    }
  }

  /** Top-k search: (docId, score) rows ordered by score desc, docId asc,
    * limited to k. Lazy: the leaves are the top-k runner's
    * ([[segmentLeaves]]), the merge is Catalyst's `orderBy.limit`
    * (TakeOrderedAndProject ≡ MergeTopDocs), so nothing runs until the
    * Dataset is evaluated — and `search(q, 0)` never runs a job.
    */
  def search(spark: SparkSession, q0: Query, k: Int,
             after: Option[(Double, Long)] = None): Dataset[ScoredDoc] = {
    import spark.implicits._
    val (qs, _, ctx) = prepare(spark, Seq(q0), scoring = true, k)
    val leavesOf = segmentLeaves(spark, qs, ctx, k, after, 0L, shards = 1, parts = 1,
      spark.sparkContext.longAccumulator(IndexSearcher.KernelNanos))
    leaves(spark, qs, ctx)((seg, rds, del, shard) =>
      leavesOf(seg, rds, del, shard).flatMap(_._2.rows((_, d, s) => ScoredDoc(d, s))))
      .orderBy($"score".desc, $"docId".asc).limit(k)
  }

  /** Top-k + [[TotalHits]] with the reference's hits-threshold contract
    * (`core/search/indexsearcher.go:14-16`, `hitsthresholdchecker.go`):
    * hit counting is EXACT until `hitsThreshold` hits have been seen in a
    * leaf; beyond it, dynamic pruning may skip non-competitive docs and the
    * reported total becomes a GREATER_THAN_OR_EQUAL_TO lower bound. Pass
    * hitsThreshold = Long.MaxValue for always-exact totals (pruning off).
    * With k = 0 no hit is kept and the total is exact.
    */
  def searchWithTotal(spark: SparkSession, q0: Query, k: Int,
                      hitsThreshold: Long = 1000L): (Array[ScoredDoc], TotalHits) =
    runTopK(spark, q0, k, hitsThreshold)

  /** In-process top-k for SELECTIVE queries — the reference's embedded
    * library mode (Lucene runs in-process; ours normally pays 2 Spark jobs
    * per query). When [[place]] finds the query terms' total posting count
    * (known from TermStatistics before touching any posting data) within
    * `maxLocalPostings`, the posting rows are fetched to the driver via the
    * same pushed-down scan and the SAME leaves run locally — millisecond
    * latency, rank-identical by construction. Other queries run
    * distributed, so this is safe at any corpus size.
    */
  def searchLocal(spark: SparkSession, q0: Query, k: Int,
                  maxLocalPostings: Long = 5000000L): Array[ScoredDoc] =
    runTopK(spark, q0, k, localBudget = Some(maxLocalPostings))._1

  /** Batch execution of a whole query set in ONE distributed job — the
    * throughput shape for cluster-scale workloads: postings for the union
    * of all query terms are read once, every segment scores every query
    * inside one pass, and the per-query merge sees numSegments * k rows per
    * query. Per-query Spark job scheduling overhead is paid once for the
    * set; term statistics come from the searcher's memo, so a repeated
    * batch runs no stats job. The job has three stages: the posting scan,
    * the kernel, whose tasks hand one flat [[HitBlock]] per merge partition
    * to the exchange, and the merge, whose tasks each own an ascending range
    * of the batch. Rows come in batch order, each query's hits score desc,
    * docId asc.
    *
    * Lazy, like [[search]]: the term stats are read in the call, and each
    * action on the Dataset runs the job again (Spark skips the stages whose
    * shuffle output an earlier action left, so a repeat may rerun only the
    * merge).
    *
    * Rank-identity: same leaves, same tie-break (score desc, global docId
    * asc) as [[search]].
    */
  def searchMany(spark: SparkSession, queries: Seq[(String, Query)], k: Int): Dataset[QueryHit] = {
    import spark.implicits._
    val (qs, stats, ctx) = prepare(spark, queries.map(_._2), scoring = true, k)
    if (qs.isEmpty || index.manifest.segments.isEmpty) return spark.emptyDataset[QueryHit]
    val shards = place(spark, qs, stats, k, localBudget = None).shards
    val parts = math.min(qs.size, spark.sparkContext.defaultParallelism)
    val leavesOf = segmentLeaves(spark, qs, ctx, k, None, 0L, shards, parts,
      spark.sparkContext.longAccumulator(IndexSearcher.KernelNanos))
    val ids = spark.sparkContext.broadcast(queries.map(_._1).toArray)
    spark.createDataset(IndexSearcher.mergeExchange(leafRdd(spark, qs, ctx, shards)(leavesOf), parts, k)
      .mapPartitions { merged =>
        val id = ids.value
        merged.flatMap(_.rows((q, d, s) => QueryHit(id(q), d, s)))
      })
  }

  /** Where a top-k run executes, as [[place]] decides it. */
  private case class Placement(local: Boolean, shards: Int, driverMerge: Boolean)

  /** Replicated-posting budget for query-sharded runs: sharding duplicates
    * the matched posting rows per shard, so it only engages when shards ×
    * matched postings stays under this (selective batches — the query-log
    * norm; a whole-vocabulary batch keeps one task per segment). */
  private val ShardedPostingsBudget = 32000000L

  /** The one placement gate of the top-k runs, decided from the term
    * stats before any posting is read:
    *  - In process only when the caller offers a posting budget
    *    (searchLocal) and the queries' total posting count fits it.
    *    Multi-term queries (expanded volume unknown before the scan),
    *    tombstoned indexes (deletes would need a live-docs fetch) and a
    *    MatchAll over more docs than the budget stay distributed.
    *  - Query shards: one task per segment gives |segments| tasks — on a
    *    cluster whose core count approaches the segment count that is 1-2
    *    waves, and within-wave stragglers stop amortizing. Selective batches
    *    shard the queries instead: each (segment, shard) task scores
    *    1/shards of them, never splitting a posting list. ~4 tasks per core
    *    (8 was measured net-negative: +10% Σ kernel from replicated decode
    *    for no wall win), within the replicated-posting budget, never more
    *    shards than queries (a shard without a query only idles), and one
    *    shard for multi-term queries.
    *  - Merge side: when even the pre-merge row bound (queries × segments ×
    *    k) is within [[IndexSearcher.DriverMergeMaxRows]], the leaves are
    *    collected and merged on the driver, skipping the exchange and its
    *    stage; larger runs merge in the exchange first. Only the
    *    single-query runs read it: searchMany always merges in the exchange.
    */
  private def place(spark: SparkSession, qs: Seq[Query], stats: Map[String, (Long, Long)],
                    k: Int, localBudget: Option[Long]): Placement = {
    val postings = stats.values.map(_._1).sum
    val multiTerm = qs.exists(_.termPreds.nonEmpty)
    val local = localBudget.exists(budget =>
      !multiTerm && index.manifest.deletedCount == 0L && postings <= budget &&
        !(qs.exists(_.exists(_ == MatchAllQ)) && index.stats.docCount > budget))
    val nSegs = index.manifest.segments.size
    val shardsWanted = math.max(1, math.min(8, 4 * spark.sparkContext.defaultParallelism / math.max(1, nSegs)))
    val shards =
      if (local || multiTerm) 1
      else Seq(shardsWanted, math.max(1L, ShardedPostingsBudget / math.max(1L, postings)).toInt,
        math.max(1, qs.size)).min
    Placement(local, shards, local || qs.size.toLong * nSegs * k <= IndexSearcher.DriverMergeMaxRows)
  }

  /** The leaves of one (segment, shard): a [[SegmentKernel.leaf]] for each
    * query of the shard (query i runs in shard i % shards), handed over as
    * one [[HitBlock]] per merge partition that has any, keyed by it: query
    * i merges in partition i * parts / |qs|, so each partition owns an
    * ascending range of queries. A leaf that neither counted a match nor
    * pruned adds nothing to its query's merge and is left out.
    *
    * The queries and their [[MaxScoreAccumulator]] run ids ship once per
    * call in one broadcast, not in each task's closure. All leaves of query
    * i share its run id, so leaves in one executor JVM, or the sequential
    * in-process ones, raise each other's pruning floor. The broadcast is
    * not destroyed here, since a lazy Dataset may run the leaves again; the
    * ContextCleaner frees it once it is unreachable. Each call adds its
    * kernel time (posting decode plus scoring) to `kernelNanos`. */
  private[search] def segmentLeaves(spark: SparkSession, qs: Seq[Query], ctx: QueryContext, k: Int,
                                    after: Option[(Double, Long)], hitsThreshold: Long, shards: Int,
                                    parts: Int, kernelNanos: LongAccumulator)
      : (SegmentMeta, Map[String, TermReader], Array[Int], Int) => Iterator[(Int, HitBlock)] = {
    val batch = spark.sparkContext.broadcast((qs.toArray, Array.fill(qs.size)(MaxScoreAccumulator.newRunId())))
    val n = qs.size
    (seg, rds, del, shard) => {
      val t0 = System.nanoTime()
      val (queries, runIds) = batch.value
      val blocks = Array.fill(parts)(new HitBlock.Builder)
      for (qi <- shard until n by shards) {
        val c = SegmentKernel.leaf(queries(qi), rds, seg, ctx, k, after, del, runIds(qi), hitsThreshold)
        if (c.collected > 0 || c.pruned) blocks((qi.toLong * parts / n).toInt).leaf(qi, c)
      }
      kernelNanos.add(System.nanoTime() - t0)
      blocks.indices.iterator.collect { case p if blocks(p).nonEmpty => p -> blocks(p).result() }
    }
  }

  /** The one eager top-k runner behind searchWithTotal and searchLocal:
    * [[prepare]], [[place]], the [[segmentLeaves]] of the query in process
    * or through [[runSegments]], then [[IndexSearcher.mergeTopK]] on the
    * driver — over the leaf blocks, or over-bound over the block the
    * exchange merged. The query's hits and total. */
  private def runTopK(spark: SparkSession, q0: Query, k: Int, hitsThreshold: Long = 0L,
                      localBudget: Option[Long] = None): (Array[ScoredDoc], TotalHits) = {
    val (qs, stats, ctx) = prepare(spark, Seq(q0), scoring = true, k)
    val p = place(spark, qs, stats, k, localBudget)
    val leavesOf = segmentLeaves(spark, qs, ctx, k, None, hitsThreshold, p.shards, parts = 1,
      spark.sparkContext.longAccumulator(IndexSearcher.KernelNanos))
    val blocks: Array[HitBlock] =
      if (p.local) {
        val rows = postingRows(spark, qs).collect().groupBy(_.segmentId)
        index.manifest.segments.toArray.flatMap { seg =>
          leavesOf(seg, readers(rows.getOrElse(seg.segmentId, Array.empty).iterator, ctx), Array.emptyIntArray, 0)
            .map(_._2)
        }
      } else if (index.manifest.segments.isEmpty) Array.empty
      else if (p.driverMerge) leafRdd(spark, qs, ctx, p.shards)(leavesOf).values.collect()
      else IndexSearcher.mergeExchange(leafRdd(spark, qs, ctx, p.shards)(leavesOf), 1, k).collect()
    // a query without leaves (no match in any segment) merges to no hits
    val top = IndexSearcher.mergeTopK(k)(blocks)
    val hits = top.rows((_, d, s) => ScoredDoc(d, s)).toArray
    if (top.queries.isEmpty) (hits, TotalHits(0L, TotalHits.EQ))
    else (hits, TotalHits(top.collected(0), if (top.pruned(0)) TotalHits.GTE else TotalHits.EQ))
  }

  /** Exhaustive (doc, score) stream for every match — oracle/verify path. */
  def scoreAll(spark: SparkSession, q0: Query): Dataset[ScoredDoc] = matches(spark, q0, ScoreMode.Complete)

  /** Matching docIds only (no scoring work) — the delete-by-query feed. */
  def matchingDocs(spark: SparkSession, q0: Query): Dataset[ScoredDoc] =
    matches(spark, q0, ScoreMode.Matches)

  private def matches(spark: SparkSession, q0: Query, mode: ScoreMode): Dataset[ScoredDoc] = {
    import spark.implicits._
    val (Seq(q), _, ctx) = prepare(spark, Seq(q0), mode.scores)
    leaves(spark, Seq(q), ctx)((seg, rds, del, _) =>
      SegmentKernel.scoreAll(q, rds, seg, ctx, del, mode))
  }

  /** SORTED_SET doc-values faceting (`core/document/docvaluestype.go:3-30`
    * SORTED_SET; Lucene's SSDV facet counts): top-k terms by the number of
    * MATCHING docs containing them.
    *
    * Served from the FORWARD structure when the index has one — the
    * term-vectors tree is exactly the doc->terms map Lucene's SSDV column
    * plays (the builder writes it docId-sorted) — so cost is
    * proportional to the MATCHING docs' term sets, not to index size:
    *  - selective queries (<= `maxPushdownIds` matches) push the matched
    *    docIds into the TV scan (parquet In/min-max pushdown on the
    *    docId-sorted files: non-matching row groups are skipped);
    *  - hot queries broadcast-join the match set against a (docId, term)
    *    column-pruned scan — no shuffle of the TV tree, no postings decode.
    *
    * Indexes without term vectors fall back to the postings sweep (one
    * (term, docId) row per posting joined to the match set) — correct at
    * any selectivity but ∝ index size; build with storeTermVectors when
    * facets are part of the workload.
    */
  def facetTopTerms(spark: SparkSession, q0: Query, k: Int,
                    maxPushdownIds: Int = 8192): DataFrame = {
    // the match kernel must run ONCE: facetAgg consumes `matches` twice (the
    // pushdown sample probe, then — for hot queries — the join), and
    // uncached the join branch RECOMPUTES the full distributed search inside
    // its own stages. persist() is bounded (the frame is (doc_id) only);
    // the aggregation is materialized while the cache is live (<= k rows by
    // construction) and the cache dropped before returning.
    val matches = matchingDocs(spark, q0).toDF("doc_id", "z").select("doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val out = facetAgg(spark, matches, k, maxPushdownIds)
      spark.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally matches.unpersist(blocking = false)
  }

  /** The lazy facet aggregation over an already-persisted match set —
    * exposed for plan assertions (the public [[facetTopTerms]] materializes
    * while its cache is live). `matches` must be a cached (doc_id) frame. */
  private[graft] def facetAgg(spark: SparkSession, matches: DataFrame, k: Int,
                              maxPushdownIds: Int): DataFrame = {
    import spark.implicits._
    val pairs: DataFrame =
      if (index.manifest.hasTermVectors) {
        val tv = index.termVectorsDf(spark).select(col("docId").as("doc_id"), col("term"))
        val sample = matches.limit(maxPushdownIds + 1).collect().map(_.getLong(0))
        if (sample.length <= maxPushdownIds)
          tv.where(col("doc_id").isin(sample.toIndexedSeq.map(Long.box): _*))
        else
          // hot query: UNHINTED join — the match set is unbounded (MatchAll
          // on 10^12 docs), so Catalyst must stay free to pick a shuffle
          // join; a broadcast hint would collect the whole match set to the
          // driver and hit the broadcast hard limit exactly on the queries
          // this branch exists for. Still never decodes postings.
          tv.join(matches, "doc_id")
      } else {
        val segSize = index.segmentSize
        index.postings(spark).as[TermPostings]
          .flatMap { tp =>
            val base = tp.segmentId.toLong * segSize
            tp.blocks.iterator.flatMap(b =>
              graft.codec.MonotonicBlock.decode(b.docBytes).iterator.map(l => (tp.term, base + l)))
          }
          .toDF("term", "doc_id")
          .join(matches, "doc_id")
      }
    pairs.groupBy("term")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc)
      .limit(k)
  }

  /** Hit count with the reference's O(1) shortcuts
    * (`core/search/indexsearcher.go:91-133`). Stats-derived shortcuts are
    * only valid for an index with no tombstones (docFreq is NOT adjusted on
    * delete, Lucene parity) — with deletes, term counts go through the
    * kernel; MatchAll stays O(1) because deletedCount is exact (tombstones
    * are deduplicated at write).
    */
  def count(spark: SparkSession, q0: Query): Long = {
    import spark.implicits._
    val (Seq(q), _, ctx) = prepare(spark, Seq(q0), scoring = false)
    val hasDeletes = index.manifest.deletedCount > 0L
    q match {
      case MatchAllQ => index.stats.docCount - index.manifest.deletedCount
      case TermQ(t) if !hasDeletes => termStats(spark, Set(t)).get(t).map(_._1).getOrElse(0L)
      case MatchNoneQ => 0L
      case _ =>
        leaves(spark, Seq(q), ctx) { (seg, rds, del, _) =>
          val c = new CountCollector
          SegmentKernel.run(q, rds, seg, ctx, del, c)
          Iterator.single(c.n)
        }.collect().sum
    }
  }

  /** Query posting rows: only the queries' terms' (and multi-term
    * predicates') rows leave the parquet scan (term pushdown), so the
    * shuffle is |matching terms| x |segments| rows regardless of corpus
    * size. Predicates stay distributed end to end — never collected.
    */
  private def postingRows(spark: SparkSession, qs: Seq[Query]): Dataset[TermPostings] = {
    import spark.implicits._
    val terms = qs.flatMap(_.terms).toSet
    val clauses =
      (if (terms.isEmpty) Nil else Seq(col("term").isin(terms.toSeq: _*))) ++
        qs.flatMap(_.termPreds).toSet.toSeq.map(predColumn)
    clauses.reduceOption(_ || _) match {
      case None => spark.emptyDataset[TermPostings]
      case Some(where) => index.postings(spark).where(where).as[TermPostings]
    }
  }

  /** The leaf pass of every single-index entry point: the queries' posting
    * rows through [[runSegments]], each (segment, shard) kernel over one
    * decoded reader per term. */
  private def leafRdd[T: ClassTag](spark: SparkSession, qs: Seq[Query], ctx: QueryContext, shards: Int = 1)(
      kernel: (SegmentMeta, Map[String, TermReader], Array[Int], Int) => Iterator[T]): RDD[T] =
    runSegments(spark, postingRows(spark, qs).rdd.map(tp => tp.segmentId -> tp), shards) {
      (seg, rows, del, shard) => kernel(seg, readers(rows, ctx), del, shard)
    }

  /** [[leafRdd]] as a Dataset; an index without segments runs no job. */
  private def leaves[T: Encoder : ClassTag](spark: SparkSession, qs: Seq[Query], ctx: QueryContext)(
      kernel: (SegmentMeta, Map[String, TermReader], Array[Int], Int) => Iterator[T]): Dataset[T] =
    if (index.manifest.segments.isEmpty) spark.emptyDataset[T]
    else spark.createDataset(leafRdd(spark, qs, ctx)(kernel))

  /** The one segment runner: a per-(segment, queryShard) kernel over the
    * `rows` keyed by segmentId, with EXACTLY one (segment, shard) per task.
    * Rows and tombstones are keyed by their partition index, slot(segment)
    * × shards + shard over the dense slots of the manifest's segments, and
    * an identity partitioner routes them (a hash cogroup of S segment
    * groups into S partitions is a balls-in-bins collision — some tasks get
    * 3-4 segments while others idle, capping scaling at ~1/maxLoad). Each
    * task reads its (segment, shard) off its partition index, so it runs
    * the kernel even when no row reaches it (MatchAllDocs must still match
    * there). Segment metadata is tiny and rides in the closure. With
    * shards > 1 the rows and tombstones are replicated per shard ([[place]]
    * gates on volume) so each shard-task is self-contained — query-sharded
    * top-k runs use that to keep task count well above the core count on
    * selective batches. Row payloads are opaque: [[MultiFieldSearcher]]
    * runs its (field, postings) rows through here over the segment
    * geometry all its fields share. An index without segments (every doc
    * deleted, then merged) yields an RDD without partitions.
    */
  private[search] def runSegments[P <: AnyRef, T: ClassTag](
      spark: SparkSession, rows: RDD[(Int, P)], shards: Int = 1)(
      kernel: (SegmentMeta, Iterable[P], Array[Int], Int) => Iterator[T]): RDD[T] = {
    val segs = index.manifest.segments.toArray
    if (segs.isEmpty) return spark.sparkContext.emptyRDD[T]
    val slot = segs.iterator.map(_.segmentId).zipWithIndex.toMap
    val nParts = segs.length * shards
    val byIndex = new org.apache.spark.Partitioner {
      def numPartitions: Int = nParts
      def getPartition(key: Any): Int = key.asInstanceOf[Int]
    }
    val keyed = (sid: Int, p: AnyRef) => {
      val base = slot(sid) * shards
      (0 until shards).iterator.map(sh => (base + sh, p))
    }
    val postingRows = rows.flatMap { case (sid, p) => keyed(sid, p) }
    // tombstones ride the SAME shuffle as the rows: each shard-task sees its
    // segment's live-docs without any driver round-trip. Without deletes
    // there is nothing to read, and planning the empty scan would cost
    // every call
    val parted = (if (index.manifest.deletedCount == 0L) postingRows
      else postingRows.union(index.deleteRows(spark).rdd.flatMap(dr => keyed(dr.segmentId, dr))))
      .partitionBy(byIndex)
    parted.mapPartitionsWithIndex { (part, it) =>
      val post = scala.collection.mutable.ArrayBuffer.empty[P]
      val dels = Array.newBuilder[Int]
      it.foreach {
        case (_, dr: DeleteRow) => dels += dr.localDoc
        case (_, p) => post += p.asInstanceOf[P]
      }
      val d = dels.result()
      java.util.Arrays.sort(d)
      kernel(segs(part / shards), post, d, part % shards)
    }
  }
}
