package graft.index

/** Engine-internal schemas (SURVEY.md §7 module 2, FIXTURES.md §2).
  *
  * Postings are stored per segment, sorted by term, in parquet. A posting
  * block packs up to [[PostingBlock.Size]] docs: docId deltas FOR-packed,
  * freqs FOR-packed, and the norm byte of each doc (the `fieldLength & 0xFF`
  * that BM25 needs — carrying it inline makes scoring self-contained per
  * posting list, so the query kernel never random-accesses a norms file; at
  * 10^12 docs a broadcast norms table would be impossible).
  */
object PostingBlock {
  /** Docs per block. The reference simpletext codec uses 8
    * (`codecs/simpletext/skipwriter.go:13-17`); Lucene's default codec and
    * ours use 128 — block size is a tunable, not a semantic (BASELINE.md).
    */
  val Size = 128
}

/** One compressed posting block.
  * @param maxDoc   largest local docId in the block (the skip key; `Advance`
  *                 binary-searches these, mirroring multi-level skip lists,
  *                 `core/index/multilevelskiplistwriter.go`)
  * @param count    number of postings in the block
  * @param docBytes FOR/varint-encoded local docIds (absolute, min-offset FOR
  *                 makes them deltas-from-min; monotonic)
  * @param freqBytes FOR-encoded term frequencies
  * @param norms    one byte per posting: `fieldLength & 0xFF` of that doc
  * @param impactFreqs/impactNorms pareto-max competitive (freq, norm) pairs
  *                 for block-max WAND (`core/index/competitiveimpactaccumulator.go:40-84`)
  * @param posBytes OPTIONAL positions stream (null when the index was built
  *                 without positions): for each posting i in block order,
  *                 freq_i token positions as varint deltas (first absolute,
  *                 then gaps) — the reference's prox stream
  *                 (`core/index/freqproxtermswriterperfield.go:96-122`,
  *                 IndexOptions DOCS_AND_FREQS_AND_POSITIONS,
  *                 `core/document/indexoptions.go:3-29`). Decoding walks the
  *                 freqs, so the stream needs no per-posting offsets.
  * @param offBytes OPTIONAL character-offsets stream (IndexOptions
  *                 ..._AND_OFFSETS, `core/document/indexoptions.go:3-29`;
  *                 the reference writes startOffset deltas + lengths into
  *                 the same per-field stream,
  *                 `core/index/freqproxtermswriterperfield.go:96-122`):
  *                 for each posting i, freq_i occurrences as
  *                 varint(start - prevStart) [prevStart resets to 0 per
  *                 posting] + varint(end - start). Offsets are code points
  *                 (the tokenizer counts runes). Lets highlighting run from
  *                 postings alone — no term-vectors copy of per-doc term
  *                 data needed.
  * @param payBytes OPTIONAL per-position payload stream — the last
  *                 IndexOptions dimension (the reference's in-RAM posting
  *                 encoding reserves a per-position payload bit,
  *                 `core/index/freqproxtermswriterperfield.go:96-122`
  *                 `posDelta<<1 | hasPayload`, then payload length + bytes):
  *                 for each posting i, freq_i occurrences as
  *                 varint(payloadLen) + payloadLen raw bytes, aligned with
  *                 the positions stream. Payload users (custom span scoring,
  *                 per-occurrence term metadata) read them back through
  *                 [[graft.codec.ProxStreams.decodePayloads]].
  */
final case class PostingBlock(
    maxDoc: Int,
    count: Int,
    docBytes: Array[Byte],
    freqBytes: Array[Byte],
    norms: Array[Byte],
    impactFreqs: Array[Int],
    impactNorms: Array[Int],
    posBytes: Array[Byte] = null,
    offBytes: Array[Byte] = null,
    payBytes: Array[Byte] = null
)

/** The posting list of one term within one segment.
  * Parquet layout: partitioned by `segmentId`, files sorted by `term` so
  * parquet min/max column stats give term-seek data skipping (the FST term
  * dictionary's role, SURVEY.md §1.4).
  */
final case class TermPostings(
    segmentId: Int,
    term: String,
    docFreq: Int,
    totalTermFreq: Long,
    blocks: Array[PostingBlock],
    // code-point length of `term`, stored as its own column so length-window
    // predicates (FuzzyQuery's edit-distance prefilter) PUSH DOWN to the
    // parquet scan as a plain comparison instead of evaluating length(term)
    // per row post-scan — the sub-linear candidate-generation hook a
    // billion-term dictionary needs (Lucene gets this from the FST walk)
    termLen: Int
)

/** Per-segment metadata + build metrics (north rule: per-partition lineage
  * and metrics persisted alongside each segment).
  * docBase: global docId = docBase + localDocId (Lucene docID remap,
  * `core/index/segmentmerger.go` semantics).
  */
final case class SegmentMeta(
    segmentId: Int,
    docBase: Long,
    docCount: Long,
    fieldDocCount: Long, // docs with >= 1 token (CollectionStatistics.docCount)
    sumTotalTermFreq: Long,
    sumDocFreq: Long,
    termCount: Long,
    postingCount: Long,
    bytesWritten: Long,
    lineageSha: String
)

/** Global index statistics = sum over segments
  * (`core/search/indexsearcher.go:438-496` re-aggregates per query; we
  * aggregate once at build and store in the manifest).
  */
final case class IndexStats(
    docCount: Long,        // total docs (maxDoc analogue)
    fieldDocCount: Long,   // docs with the field non-empty -> BM25 N
    sumTotalTermFreq: Long,
    sumDocFreq: Long
) {
  def avgdl: Double = sumTotalTermFreq.toDouble / fieldDocCount.toDouble
}

object IndexStats {
  /** The global stats of a manifest's segments (their sums). */
  def of(segs: Seq[SegmentMeta]): IndexStats = IndexStats(
    docCount = segs.map(_.docCount).sum,
    fieldDocCount = segs.map(_.fieldDocCount).sum,
    sumTotalTermFreq = segs.map(_.sumTotalTermFreq).sum,
    sumDocFreq = segs.map(_.sumDocFreq).sum)
}

/** `segments_N` analogue (`core/index/segmentinfos.go:39-46`): JSON manifest
  * written atomically after all segment parquet is durable. Like
  * `segments_N`, it lists what a reader opens: the data generations
  * (`liveGens`) and the tombstone generations (`deleteGens`).
  */
final case class Manifest(
    // the counter that numbers data generations: the highest one ever
    // committed (a build, append or merge writes gen=generation+1). The
    // fuzzy sidecar is keyed by it.
    generation: Long,
    // the data generations readers open, ascending: postings, docmeta and
    // term vectors under gen=N for each listed N, and nothing else. A build
    // or append adds its generation; a merge replaces the generations it
    // rewrote by its own, so the superseded dirs are invisible the instant
    // its manifest commits (they are deleted after). A gen dir on disk that
    // is not listed is garbage of a crash: above `generation` an
    // uncommitted write, at or below it a superseded one.
    liveGens: Seq[Long] = Nil,
    numSegments: Int,
    segmentSize: Long, // contiguous docId range per segment; docBase = segmentId * segmentSize
    stats: IndexStats,
    segments: Seq[SegmentMeta],
    corpusSha: String,
    postingsBytes: Long = 0L, // on-disk size of the postings parquet (north-rule metric)
    docmetaBytes: Long = 0L,
    // ---- deletes (IndexWriter.DeleteDocuments / UpdateDocument analogue,
    // `core/index/indexwriter.go:416`, `codecs/simpletext/livedocsformat.go`):
    // tombstone parquet generations under deletes/gen=K, numbered by their
    // own counter (the highest K committed; 0 once a merge leaves none).
    // Collection/term statistics are NOT adjusted for deleted docs, exactly
    // like Lucene before segments merge away their tombstones.
    deleteGen: Long = 0L,
    // the tombstone generations readers open, ascending: a delete adds its
    // K; a merge replaces them all by the one it consolidates the
    // surviving tombstones into (their pre-remap docIds of merged segments
    // can never leak into readers). An orphan dir from a crashed delete is
    // not listed (fail-closed) and overwritten on retry.
    deleteGens: Seq[Long] = Nil,
    deletedCount: Long = 0L,
    // non-empty when the index was built with IndexBuilder.buildSorted
    // (IndexWriterConfig.setIndexSort role): a descriptor of the sort whose
    // rank order IS the docId order. Searches whose sort equals the index
    // sort may early-terminate per segment (IndexSearcher.searchSortedTopK)
    // — the entire point of index sorting.
    indexSort: String = "",
    // highest Structured-Streaming micro-batch id committed into this index
    // (-1 = none): foreachBatch replays after a failure re-deliver the same
    // batchId, and the streaming indexer skips batches <= this watermark —
    // the manifest write IS the exactly-once commit point.
    lastStreamBatch: Long = -1L,
    // whether posting blocks carry the positions stream (IndexOptions
    // DOCS_AND_FREQS_AND_POSITIONS, `core/document/indexoptions.go:3-29`).
    // Appends must match the committed value — a mixed index would make
    // phrase queries fail on some generations only.
    hasPositions: Boolean = false,
    // whether per-doc term vectors were written alongside
    // (`codecs/simpletext/termvectorswriter.go` role); same append-match
    // rule as hasPositions.
    hasTermVectors: Boolean = false,
    // whether posting blocks carry the character-offsets stream
    // (IndexOptions ..._AND_OFFSETS, `core/document/indexoptions.go:3-29`);
    // implies hasPositions; same append-match rule.
    hasOffsets: Boolean = false,
    // whether posting blocks carry the per-position payload stream (the
    // reference's per-position payload bit,
    // `core/index/freqproxtermswriterperfield.go:96-122`); implies
    // hasPositions; same append-match rule.
    hasPayloads: Boolean = false,
    // norm encoding of this index (NormMode.Mod256 = lucene-go's raw
    // `fieldLength & 0xFF` quirk, the default/oracle parity mode;
    // NormMode.JavaLucene = SmallFloat.intToByte4 — Java Lucene's lossy
    // 4-bit-mantissa length encoding, SURVEY §2.4 Q1). Readers build the
    // BM25 norm cache from this; appends must match.
    normMode: String = graft.bm25.NormMode.Mod256,
    // on-disk codec version of the posting blocks (the `segments_N` codec
    // id in the reference): readers REFUSE manifests whose codec they do
    // not speak (fail closed — decoding v1 FOR docBytes with the v2
    // monotonic codec would return garbage, not an error). Bump on any
    // byte-layout change.
    codecVersion: Int = Manifest.CurrentCodecVersion
) {
  /** First docId of the next empty segment — the id base of appended
    * documents; 0 for an index with no segments left. */
  def nextDocBase: Long = segments.map(_.segmentId + 1L).maxOption.getOrElse(0L) * segmentSize

  /** The generation numbers above the oldest live one that are not live:
    * the generations merges retired since then. */
  def deadGens: Seq[Long] = liveGens.minOption.toSeq.flatMap(lo => (lo to generation).filterNot(liveGens.toSet))
}

object Manifest {
  /** v2 = MonotonicBlock docIds (+ optional positions stream);
    * v3 = optional offsets stream column in posting blocks;
    * v4 = termLen column in TermPostings + optional payloads stream column
    * in posting blocks + manifest normMode (older readers would fail on the
    * new struct fields — fail closed both ways). */
  val CurrentCodecVersion: Int = 4
}

/** One tombstone: a deleted doc addressed segment-locally (the live-docs
  * bitset analogue, applied at query time as a ReqExcl anti-join). */
final case class DeleteRow(segmentId: Int, localDoc: Int)
