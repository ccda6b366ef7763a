package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** One term of one document's term vector — the reference's per-document
  * mini-index (`codecs/simpletext/termvectorswriter.go`,
  * `termvectorsreader.go`: per doc, per field, the term list with freq,
  * positions, and char offsets). Positions are emitted-token ranks (same
  * space as the postings prox stream); offsets are code-point ranges
  * (`core/analysis/standard/tokenizer.go` counts runes).
  */
final case class TermVectorRow(
    docId: Long,
    term: String,
    freq: Int,
    positions: Array[Int],
    startOffsets: Array[Int],
    endOffsets: Array[Int])

/** Term-vector store: a per-doc inverted view written as its own parquet
  * tree under `indexDir/termvectors/gen=N` (Lucene stores term vectors in
  * their own per-segment files for the same reason — they are read by
  * docId, postings by term). Stage 1's walk fills each doc's vector as it
  * inverts the doc (`Inverter.vector`), the doc's staged row carries it,
  * and the builder writes the rows in docId order within each file, so a
  * `docId = k` lookup is answered via parquet min/max pushdown — the TVX
  * seek analogue.
  *
  * Consumers: highlighting (offsets), more-like-this (term weights), and
  * any per-doc feature extraction that would otherwise re-tokenize.
  */
object TermVectors {

  /** All committed term-vector rows of `index` (gen-visibility filtered). */
  def readAll(spark: SparkSession, index: BuiltIndex): Dataset[TermVectorRow] = {
    import spark.implicits._
    require(index.manifest.hasTermVectors,
      s"index at ${index.indexDir} was built without term vectors (BuildConfig.storeTermVectors)")
    index.termVectorsDf(spark)
      .select($"docId", $"term", $"freq", $"positions", $"startOffsets", $"endOffsets")
      .as[TermVectorRow]
  }

  /** One document's term vector — docId parquet pushdown, k rows back
    * (the reference's TermVectorsReader.Get analogue). */
  def ofStoredDoc(spark: SparkSession, index: BuiltIndex, docId: Long): Array[TermVectorRow] =
    readAll(spark, index).where(col("docId") === docId).collect()
}

/** More-like-this (Lucene's MoreLikeThis over term vectors): select the
  * document's `maxTerms` highest-weight terms (weight = freq * idf with the
  * engine's BM25 idf; ties broken term asc — deterministic), then run a
  * SHOULD disjunction of them. The term vector supplies freq without
  * re-tokenizing; df comes from the normal stats pushdown.
  */
object MoreLikeThis {

  /** The selected (term, weight) seeds, highest weight first. */
  def selectTerms(spark: SparkSession, searcher: graft.search.IndexSearcher,
                  docId: Long, maxTerms: Int): Seq[(String, Double)] = {
    val tv = TermVectors.ofStoredDoc(spark, searcher.index, docId)
    if (tv.isEmpty) return Nil
    val stats = searcher.termStats(spark, tv.map(_.term).toSet)
    val n = searcher.index.stats.fieldDocCount
    tv.iterator.flatMap { r =>
      stats.get(r.term).map { case (df, _) =>
        (r.term, r.freq.toDouble * graft.bm25.Bm25.idf(df, n))
      }
    }.toSeq.sortBy { case (t, w) => (-w, t) }.take(maxTerms)
  }

  /** Top-k docs similar to `docId` (the seed doc itself excluded). Rows
    * ordered by ROUNDED (6dp) score desc then docId — rounding-first keeps
    * the rank stable across summation orders (ours vs an oracle's).
    *
    * Seed exclusion is correct for BOTH cases of a k+1 fetch: if the seed is
    * in the top k+1, filtering leaves exactly the k best non-seed docs; if
    * it is NOT (other docs repeat its terms more heavily), the fetched k+1
    * are already all non-seed and their first k are the true top-k
    * (TermVectorsSpec covers the seed-outside-top-k+1 edge). */
  def search(spark: SparkSession, searcher: graft.search.IndexSearcher,
             docId: Long, maxTerms: Int, k: Int): DataFrame = {
    import spark.implicits._
    import graft.search._
    val seeds = selectTerms(spark, searcher, docId, maxTerms)
    val hits: Seq[(Long, Double)] =
      if (seeds.isEmpty) Nil
      else {
        val q = BoolQ(should = seeds.map { case (t, _) => TermQ(t) })
        searcher.search(spark, q, k + 1).collect()
          .filter(_.docId != docId)
          .map(h => (h.docId, BigDecimal(h.score).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
          .sortBy { case (id, s) => (-s, id) }
          .take(k).toSeq
      }
    hits.toDF("doc_id", "score")
  }
}

/** One per-occurrence payload read back from the postings payload stream. */
final case class PayloadRow(docId: Long, term: String, position: Int, payload: Array[Byte])

/** Reader of the per-position PAYLOAD stream (an index built with
  * `BuildConfig.storePayloads`) — the consumer surface of the reference's
  * per-position payload slot (`core/index/freqproxtermswriterperfield.go:
  * 96-122` reserves `posDelta<<1 | hasPayload` + length + bytes; payload
  * users in Lucene: custom span scoring, per-occurrence term metadata).
  * Distributed: the scan pushes down to the requested terms' posting rows
  * (term min/max + dictionary pushdown), blocks decode lazily per the doc
  * predicate — no other term's payloads are touched.
  */
object Payloads {

  /** Every (doc, position, payload) of `terms` over docs passing `docPred`,
    * positions ascending within a doc. Tombstones are NOT applied (payload
    * reads follow hits, like stored-field fetch). */
  def forTerms(spark: SparkSession, index: BuiltIndex, terms: Set[String],
               docPred: Long => Boolean): Dataset[PayloadRow] = {
    import spark.implicits._
    require(index.manifest.hasPayloads,
      s"index at ${index.indexDir} was built without payloads (BuildConfig.storePayloads)")
    occurrences(spark, index, terms, docPred)((rd, bi) => (rd.positionsOf(bi), rd.payloadsOf(bi))) {
      case (doc, term, ((pflat, pstarts), (occ, ystarts)), i) =>
        (pstarts(i) until pstarts(i + 1)).iterator.map { w =>
          PayloadRow(doc, term, pflat(w), occ(ystarts(i) + (w - pstarts(i))))
        }
    }
  }

  /** The one per-occurrence walk of the postings streams: the scan pushed
    * down to `terms`' posting rows (term min/max + dictionary pushdown, no
    * other term's blocks are decoded), one reader per row, blocks with no
    * doc passing `docPred` skipped before `decode` runs (the common case
    * for a point read), then `emit(docId, term, decoded block, i)` for
    * each passing doc, i its index in the block. */
  private[index] def occurrences[B, T: Encoder](spark: SparkSession, index: BuiltIndex,
                                                terms: Set[String], docPred: Long => Boolean)(
      decode: (graft.search.TermReader, Int) => B)(emit: (Long, String, B, Int) => Iterator[T]): Dataset[T] = {
    import spark.implicits._
    if (terms.isEmpty) return spark.emptyDataset[T]
    val segSize = index.manifest.segmentSize
    index.postings(spark).where(col("term").isin(terms.toSeq: _*)).as[TermPostings].flatMap { tp =>
      val rd = new graft.search.TermReader(tp, new Array[Double](256))
      val base = tp.segmentId.toLong * segSize
      tp.blocks.indices.iterator.flatMap { bi =>
        val docs = rd.docsOf(bi)
        if (!docs.exists(d => docPred(base + d))) Iterator.empty
        else {
          val block = decode(rd, bi)
          docs.indices.iterator.filter(i => docPred(base + docs(i)))
            .flatMap(i => emit(base + docs(i), tp.term, block, i))
        }
      }
    }
  }
}

/** Query-term highlighter over term-vector offsets (the consumer Lucene
  * pairs with term vectors): finds match offsets WITHOUT re-analysis and
  * returns the best window of the original text with matches wrapped in
  * markers. Pure driver-side string work on one fetched doc — the
  * distributed part (locating the doc's vector) is a pushdown point read.
  */
object Highlighter {

  final case class Snippet(text: String, matchCount: Int)

  /** Per-(doc, term) occurrence data (freq, positions, offsets) read from
    * the POSTINGS offsets stream (an index built with
    * `BuildConfig.storeOffsets`) — highlighting WITHOUT a term-vectors copy
    * of per-doc term data, exactly what IndexOptions ..._AND_OFFSETS buys
    * in Lucene. The scan is pushed down to the query terms' posting rows
    * (term min/max + dictionary pushdown); no other term's blocks are
    * decoded. Tombstones are NOT applied (the caller already has a hit). */
  def offsetsFromPostings(spark: SparkSession, index: BuiltIndex, terms: Set[String],
                          docPred: Long => Boolean): Dataset[TermVectorRow] = {
    import spark.implicits._
    require(index.manifest.hasOffsets,
      s"index at ${index.indexDir} was built without postings offsets (BuildConfig.storeOffsets)")
    Payloads.occurrences(spark, index, terms, docPred)((rd, bi) => (rd.positionsOf(bi), rd.offsetsOf(bi))) {
      case (doc, term, ((pflat, pstarts), (os, oe, ostarts)), i) =>
        Iterator.single(TermVectorRow(doc, term, pstarts(i + 1) - pstarts(i),
          java.util.Arrays.copyOfRange(pflat, pstarts(i), pstarts(i + 1)),
          java.util.Arrays.copyOfRange(os, ostarts(i), ostarts(i + 1)),
          java.util.Arrays.copyOfRange(oe, ostarts(i), ostarts(i + 1))))
    }
  }

  /** [[highlight]] fed from the postings offsets stream instead of term
    * vectors — parity-tested against the TV path. */
  def highlightFromPostings(spark: SparkSession, index: BuiltIndex, docId: Long,
                            text: String, queryTerms: Set[String],
                            windowCp: Int = 160, pre: String = "<b>",
                            post: String = "</b>"): Snippet = {
    val tv = offsetsFromPostings(spark, index, queryTerms, _ == docId).collect().toSeq
    highlight(text, tv, queryTerms, windowCp, pre, post)
  }

  /** Best window of <= `windowCp` code points covering the most query-term
    * occurrences; each occurrence wrapped in `pre`/`post`. Offsets are code
    * points (tokenizer semantics) — converted to char indices here.
    */
  def highlight(text: String, tv: Seq[TermVectorRow], queryTerms: Set[String],
                windowCp: Int = 160, pre: String = "<b>", post: String = "</b>"): Snippet = {
    val matches = tv.filter(r => queryTerms.contains(r.term))
      .flatMap(r => r.startOffsets.zip(r.endOffsets))
      .sortBy(_._1)
    if (matches.isEmpty) return Snippet(text.take(windowCp), 0)
    // best window: two-pointer over match starts (lo never passes hi, so a
    // single match longer than the window still yields a 1-match window)
    var best = (0, 0) // (count, startIdx)
    var lo = 0
    matches.indices.foreach { hi =>
      while (lo < hi && matches(hi)._2 - matches(lo)._1 > windowCp) lo += 1
      val cnt = hi - lo + 1
      if (cnt > best._1) best = (cnt, lo)
    }
    val inWin = matches.slice(best._2, best._2 + best._1)
    val winStartCp = math.max(0, inWin.head._1 - 10)
    val winEndCp = inWin.last._2
    def cpToChar(cp: Int): Int = text.offsetByCodePoints(0, math.min(cp, text.codePointCount(0, text.length)))
    val sb = new StringBuilder
    var cur = winStartCp
    inWin.foreach { case (s, e) =>
      sb.append(text.substring(cpToChar(cur), cpToChar(s)))
      sb.append(pre).append(text.substring(cpToChar(s), cpToChar(e))).append(post)
      cur = e
    }
    sb.append(text.substring(cpToChar(cur), cpToChar(math.min(winEndCp + 10, text.codePointCount(0, text.length)))))
    Snippet(sb.toString, inWin.size)
  }
}
