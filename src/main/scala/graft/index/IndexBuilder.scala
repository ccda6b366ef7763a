package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StaticRows
import org.apache.spark.storage.StorageLevel

import graft.analysis.Analyzer

/** One row of the stage-1 output (the per-chunk in-RAM segment flush,
  * ≙ a DWPT flush, `core/index/documentswriterperthread.go:167-226`).
  * Postings rows: `term != null`, blocks carry ≤ chunkDocs FOR-compressed
  * postings of one (segment, term, salt). Doc-sentinel rows (one per doc,
  * emitted even for empty docs): `term == null`, `norm` = field length,
  * `sha` = sha256(content) (per-row invariant, BASELINE.json input_hint).
  * `firstDoc` (postings rows) = first localDoc of the row's postings: the
  * stage-2 tiebreak that keeps concatenation in docId order when ONE chunk
  * was split across input partitions (assumeContiguous path — partial
  * chunks share (segment, term, salt) but cover disjoint ascending ranges).
  * `vector` (doc rows of a `storeTermVectors` build, else null) = the doc's
  * term-vector rows, filled by the same walk that inverts it.
  */
final case class Stage1Row(
    segmentId: Int, term: String, salt: Int,
    docFreq: Int, totalTermFreq: Long, blocks: Array[PostingBlock],
    localDoc: Int, norm: Int, sha: String, firstDoc: Int,
    vector: Array[TermVectorRow])

final case class DocMeta(segmentId: Int, docId: Long, norm: Int, sha: String)

/** The doc-id column's count, min and max: they fix a build's segment
  * geometry (min and max are unused when count is 0). */
final case class Geometry(count: Long, minId: Long, maxId: Long)

/** Rows of [[IndexBuilder.assignDenseIds]]: `df` with the dense ids
  * `base until base + count` in its `__doc_id` column. */
final case class DenseIds(df: DataFrame, base: Long, count: Long) {
  def geometry: Geometry = Geometry(count, base, base + count - 1L)
}

/** @param numSegments   S: index segments = contiguous docId ranges. Each
  *                      segment is the unit of independent query execution
  *                      (Lucene leaf ≙ Spark partition). Choose S so a
  *                      segment's postings fit comfortably in one task.
  * @param chunkDocs     DWPT granularity AND salt: postings are first built
  *                      per docId-chunk of this size, so (a) stage-1 tasks
  *                      need memory for only one chunk at a time, (b) every
  *                      stage-2 shuffle group holds ≤ segSize/chunkDocs
  *                      block-rows even for stop-word-grade hot terms (north
  *                      rule skew handling). Must be a multiple of
  *                      PostingBlock.Size. Stage-1 parallelism ≈
  *                      totalDocs/chunkDocs — keep it well above the core
  *                      count of the cluster.
  * @param outputPartitions shuffle width (defaults to
  *                      spark.sql.shuffle.partitions)
  * @param stageCheckpoint write the stage-1 chunk dataset to parquet under
  *                      the index dir instead of caching — the resumable
  *                      path for large corpora (re-runs restart from the
  *                      flushed chunks, not from raw text)
  * @param stopWords     analyzer stop set (reference default: empty)
  * @param assumeContiguous ZERO-SHUFFLE stage 1: the caller asserts the
  *                      input files are docId-range-partitioned (each file
  *                      a sorted, contiguous docId range, ranges pairwise
  *                      disjoint — the natural layout of an ingested
  *                      corpus). Stage 1 then inverts each partition in
  *                      place — a narrow map, no raw-text shuffle (at
  *                      100 TB the stage-1 shuffle is the single largest
  *                      data movement of the default path). The reader may
  *                      bin-pack several files per partition in any order;
  *                      chunk pieces are re-ordered in stage 2 by firstDoc,
  *                      and the merge ASSERTS the ascending-range invariant
  *                      — a violated contract fails the build rather than
  *                      corrupting it.
  */
final case class BuildConfig(
    numSegments: Int = 8,
    chunkDocs: Int = 1 << 13,
    outputPartitions: Option[Int] = None,
    stageCheckpoint: Boolean = false,
    stopWords: Set[String] = Set.empty,
    assumeContiguous: Boolean = false,
    /** store the positions stream in posting blocks (IndexOptions
      * DOCS_AND_FREQS_AND_POSITIONS, `core/document/indexoptions.go:3-29`) —
      * required for [[graft.search.PhraseQ]]; appends must match the
      * committed index's setting */
    storePositions: Boolean = false,
    /** write per-doc term vectors (freq + positions + offsets per term,
      * `codecs/simpletext/termvectorswriter.go` role) for highlighting /
      * more-like-this; appends must match the committed setting */
    storeTermVectors: Boolean = false,
    /** store character offsets in the postings stream (IndexOptions
      * ..._AND_OFFSETS, `core/document/indexoptions.go:3-29`) — lets
      * highlighting run from postings WITHOUT a term-vectors copy of
      * per-doc term data; implies storePositions; appends must match */
    storeOffsets: Boolean = false,
    /** store per-position PAYLOADS in the postings stream — the last
      * IndexOptions dimension (the reference's in-RAM posting encoding
      * reserves a per-position payload bit,
      * `core/index/freqproxtermswriterperfield.go:96-122`). The built-in
      * payload producer stores each occurrence's ORIGINAL (pre-lowercase)
      * token text as UTF-8 bytes (see [[Inverter]]); implies
      * storePositions; appends must match */
    storePayloads: Boolean = false,
    /** norm (field-length) byte encoding — [[graft.bm25.NormMode.Mod256]]
      * (lucene-go's raw `len & 0xFF` quirk; default, oracle parity) or
      * [[graft.bm25.NormMode.JavaLucene]] (SmallFloat.intToByte4, Java
      * Lucene comparability; SURVEY §2.4 Q1). Recorded in the manifest;
      * appends must match */
    normMode: String = graft.bm25.NormMode.Mod256)

/** Spark-native inverted-index builder (SURVEY.md §7 modules 3-4).
  *
  * Shape (scale-first; each arrow is where the reference has a thread or
  * file boundary, SURVEY.md §3.1):
  *
  *   Dataset[(docId, content)]
  *     -> repartition by docId-chunk + sortWithinPartitions(docId)
  *        (co-locates each contiguous chunk; the ONLY shuffle that moves
  *        raw text)
  *     -> mapPartitions: analyze + in-memory invert per chunk, flush
  *        FOR/varint posting blocks  (≙ DWPT + FreqProxTermsWriter flush;
  *        everything downstream moves compressed blocks, not token rows)
  *     -> repartition(segmentId, term) + sortWithinPartitions(seg, term,
  *        salt) + ordered concat of chunk blocks   (≙ SegmentMerger, stub in
  *        the reference; salt asc == docId asc, so concatenation preserves
  *        the Lucene merge invariant; the salted pre-aggregation bounds
  *        every shuffle group for hot terms)
  *     -> parquet, files term-sorted within (parquet row-group min/max stats
  *        on `term` play the FST term dictionary's role for query pushdown)
  *
  * No collect() anywhere; the driver only sees per-segment stats.
  */
object IndexBuilder {

  def indexFingerprint(inputPath: String, docCount: Long): String =
    sha256Hex(s"graft-index:$inputPath:$docCount")

  /** Wall-clock of each phase of the LAST build in this JVM (driver-side
    * diagnosis hook — the bench uses it to report per-stage scaling). */
  val lastPhases: scala.collection.mutable.LinkedHashMap[String, Double] =
    scala.collection.mutable.LinkedHashMap.empty

  // sha256 runs once PER DOCUMENT: reuse the digest per thread (getInstance
  // is a contended provider lookup) and hex-encode via a char table (a
  // per-byte "%02x".format would allocate a Formatter 32x per doc)
  private val tlMd = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("SHA-256"))
  private val HEX = "0123456789abcdef".toCharArray

  /** Raw sha256 bytes (thread-local digest; one call per doc/token). */
  def sha256Digest(s: String): Array[Byte] =
    tlMd.get().digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Hex sha256 of raw bytes (thread-local digest + char-table encode). */
  def bytesSha256Hex(bytes: Array[Byte]): String = hex(tlMd.get().digest(bytes))

  def sha256Hex(s: String): String = hex(sha256Digest(s))

  private def hex(d: Array[Byte]): String = {
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = HEX((d(i) >> 4) & 0xF)
      out(2 * i + 1) = HEX(d(i) & 0xF)
      i += 1
    }
    new String(out)
  }

  /** Build (or load, if a manifest with a matching corpus fingerprint is
    * already committed — the `segments_N` resumability analogue) an index.
    *
    * @param docs   input with a dense non-negative Long id column and a
    *               String content column
    */
  def buildOrLoad(spark: SparkSession, docs: DataFrame, docIdCol: String,
                  contentCol: String, indexDir: String,
                  cfg: BuildConfig = BuildConfig(),
                  inputPath: String = ""): BuiltIndex = {
    IndexIO.readManifest(spark, indexDir) match {
      case Some(m) if inputPath.nonEmpty && m.corpusSha == indexFingerprint(inputPath, m.stats.docCount) =>
        // feature flags: reuse when the committed index can SERVE the
        // request (committed features ⊇ requested). Reusing a positions-less
        // index for a storePositions=true request would report success here
        // and throw at phrase-query time, and a norm-mode mismatch would
        // silently score wrong — those rebuild, loudly (mirroring the
        // append-match requires). But a RICHER committed index serves a
        // plainer request correctly; destructively rebuilding on a subset
        // request would strip positions/TV/offsets/payloads that other
        // consumers of the same index dir rely on (and two callers with
        // different configs would thrash full rebuilds forever).
        val (committed, requested) = (Streams.of(m), Streams.of(cfg))
        if (committed.serves(requested) && (m.hasTermVectors || !cfg.storeTermVectors))
          new BuiltIndex(indexDir, m)
        else {
          System.err.println(s"[graft-build] index at $indexDir matches the corpus but not the " +
            s"requested features (committed $committed storeTermVectors=${m.hasTermVectors}; " +
            s"requested $requested storeTermVectors=${cfg.storeTermVectors}) — rebuilding")
          build(spark, docs, docIdCol, contentCol, indexDir, cfg, inputPath)
        }
      case _ => build(spark, docs, docIdCol, contentCol, indexDir, cfg, inputPath)
    }
  }

  def build(spark: SparkSession, docs: DataFrame, docIdCol: String,
            contentCol: String, indexDir: String,
            cfg: BuildConfig = BuildConfig(),
            inputPath: String = "",
            streamBatch: Long = -1L): BuiltIndex =
    buildInternal(spark, docs, docIdCol, contentCol, indexDir, cfg, inputPath, prev = None,
      streamBatch = streamBatch)

  /** Index sorting (Lucene's IndexWriterConfig.setIndexSort — docs laid out
    * in sort-field order at flush; SURVEY §2.3 "Index sorting"): docIds are
    * assigned as the DENSE RANK of `sortCols` order, so docId order == sort
    * order and early-termination-by-docId equals early-termination-by-sort.
    * Distributed: range-partition by the sort key + sort within partitions
    * + per-partition id offsets (no single-task window); the ranked
    * partitions are then contiguous ascending docId runs, which is exactly the
    * `assumeContiguous` contract — the build itself is the ZERO-SHUFFLE
    * path. `sortCols` must define a total order (add a unique tiebreak
    * column) for deterministic ids under replay.
    */
  def buildSorted(spark: SparkSession, docs: DataFrame, sortCols: Seq[org.apache.spark.sql.Column],
                  contentCol: String, indexDir: String,
                  cfg: BuildConfig = BuildConfig(),
                  inputPath: String = ""): BuiltIndex = {
    val ids = assignDenseIds(spark, docs, sortCols, base = 0L)
    buildInternal(spark, ids.df, "__doc_id", contentCol, indexDir,
      cfg.copy(assumeContiguous = true), inputPath, prev = None,
      indexSort = sortCols.map(_.toString).mkString(", "), geometry = Some(ids.geometry))
  }

  /** Distributed dense-id assignment: ids = `base` + rank of `sortCols`
    * order, appended as `__doc_id`. Range-partition + in-partition sort +
    * one job that counts the rows of every partition (after the range
    * partitioning's sample job) — never a single-partition window, so a
    * burst input cannot serialize/OOM one task. The counts give each partition's first id and the total, so the
    * ids' count, min and max are known without another job. The output
    * partitions are contiguous ascending id runs (the `assumeContiguous`
    * contract). `sortCols` must define a total order for deterministic ids
    * under replay. Shared by [[buildSorted]] and the streaming indexer's
    * per-batch id assignment.
    */
  def assignDenseIds(spark: SparkSession, df: DataFrame,
                     sortCols: Seq[org.apache.spark.sql.Column], base: Long): DenseIds = {
    val parts = math.max(1, math.min(StaticRows.of(df).getNumPartitions,
      spark.sparkContext.defaultParallelism))
    val sorted = df.repartitionByRange(parts, sortCols: _*).sortWithinPartitions(sortCols: _*)
    val schema = sorted.schema.add("__doc_id", org.apache.spark.sql.types.LongType)
    // statically planned: the range exchange runs inside the count job
    // (after its sample job), not as a job of its own, and the build's jobs
    // reuse its shuffle output
    val rows = StaticRows.of(sorted)
    // one count per partition: the collect holds at most defaultParallelism longs
    val counts = rows.mapPartitions(it => Iterator.single(it.size.toLong)).collect()
    val firstIds = counts.scanLeft(base)(_ + _)
    val ranked = rows.mapPartitionsWithIndex { (p, it) =>
      val first = firstIds(p)
      it.zipWithIndex.map { case (row, i) => org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (first + i)) }
    }
    DenseIds(spark.createDataFrame(ranked, schema), base, counts.sum)
  }

  /** Incremental append — the IndexWriter.AddDocument+Commit lifecycle
    * (`core/index/indexwriter.go:399,493`): index new docs as ADDITIONAL
    * segments of a committed index; existing segments are never rewritten
    * (Lucene's segment model). The new docs' ids must be >= the index's
    * [[BuiltIndex.nextDocBase]] (the next empty segment boundary — segment
    * geometry is fixed at first build). Commits a new manifest generation
    * whose stats cover all generations; a reader re-opening the manifest
    * sees the appended docs (the reference's NRT-reopen analogue). An
    * append of no documents commits nothing and returns the committed index.
    */
  def append(spark: SparkSession, docs: DataFrame, docIdCol: String,
             contentCol: String, indexDir: String,
             cfg: BuildConfig = BuildConfig(),
             inputPath: String = "",
             streamBatch: Long = -1L): BuiltIndex =
    buildInternal(spark, docs, docIdCol, contentCol, indexDir, cfg, inputPath,
      Some(IndexIO.committed(spark, indexDir)), streamBatch = streamBatch)

  /** A build (`prev` = None) or an append onto the committed manifest `prev`.
    * A caller that knows the ids' [[Geometry]] (dense ids) passes it, and the
    * build skips the job that would count them. */
  private[graft] def buildInternal(spark: SparkSession, docs: DataFrame, docIdCol: String,
            contentCol: String, indexDir: String,
            cfg: BuildConfig,
            inputPath: String,
            prev: Option[Manifest],
            streamBatch: Long = -1L,
            indexSort: String = "",
            geometry: Option[Geometry] = None): BuiltIndex = {
    import spark.implicits._
    val streams = Streams.of(cfg)
    require(cfg.chunkDocs % PostingBlock.Size == 0, "chunkDocs must be a multiple of block size")
    require(!streams.offsets || streams.positions,
      "storeOffsets implies storePositions (IndexOptions ..._AND_OFFSETS extends ..._AND_POSITIONS)")
    require(!streams.payloads || streams.positions,
      "storePayloads implies storePositions (payloads are per-position metadata)")
    graft.bm25.NormMode.lengthTable(streams.normMode) // fail fast on an unknown mode
    // a mixed index would break phrase queries, postings highlighting,
    // payload or term-vector readers on some generations only, or score the
    // same length two ways; checked before any data of the append is written
    prev.foreach { m =>
      require(Streams.of(m) == streams && m.hasTermVectors == cfg.storeTermVectors,
        s"append must match the committed index: committed ${Streams.of(m)} " +
          s"storeTermVectors=${m.hasTermVectors}; requested $streams " +
          s"storeTermVectors=${cfg.storeTermVectors}")
    }

    val input: Dataset[(Long, String)] =
      docs.select(col(docIdCol).cast("long").as("_1"), col(contentCol).cast("string").as("_2"))
        .as[(Long, String)]

    lastPhases.clear()
    var t0 = System.nanoTime()
    def phase(name: String): Unit = {
      val t1 = System.nanoTime()
      lastPhases.put(name, (t1 - t0) / 1e9)
      t0 = t1
    }

    // unless given, one tiny agg fixes the segment geometry (driver-side
    // scalars only; reads only the id column — column pruning keeps text
    // out of this scan); statically planned, so it is one job
    val Geometry(docCount, minIdRow, maxIdRow) = geometry.getOrElse {
      val g = StaticRows.of(input.agg(count(lit(1)), min($"_1"), max($"_1"))).collect().head
      // no docs: min and max are null
      if (g.getLong(0) == 0L) Geometry(0L, 0L, -1L) else Geometry(g.getLong(0), g.getLong(1), g.getLong(2))
    }
    // an append of nothing commits nothing; a build of nothing fails before
    // it retracts the committed index
    if (docCount == 0L) return prev.map(new BuiltIndex(indexDir, _)).getOrElse(
      throw new IllegalArgumentException(s"no documents to build an index from at $indexDir"))
    // segment size rounded UP to a chunk multiple, so a chunk never crosses
    // a segment boundary and chunkId == (segment, salt) 1:1; appends inherit
    // the committed geometry and must start at the next segment boundary
    val segSize: Long = prev match {
      case Some(m) =>
        require(m.segmentSize % cfg.chunkDocs == 0,
          s"append chunkDocs ${cfg.chunkDocs} must divide committed segmentSize ${m.segmentSize}")
        require(minIdRow >= m.nextDocBase,
          s"append docIds must be >= nextDocBase ${m.nextDocBase} (got min $minIdRow)")
        m.segmentSize
      case None =>
        val segSize0 = math.max(1L, (maxIdRow + cfg.numSegments) / cfg.numSegments)
        ((segSize0 + cfg.chunkDocs - 1) / cfg.chunkDocs) * cfg.chunkDocs
    }
    require(segSize <= Int.MaxValue, "segment size must fit in Int (raise numSegments)")
    val generation = prev.map(_.generation + 1)
      .orElse(IndexIO.readManifest(spark, indexDir).map(_.generation + 1)).getOrElse(1L)
    // generation subdirectories: appends add files without touching committed
    // generations, and a failed append retries cleanly by rewriting only its
    // own gen dir. A full build FIRST retracts the manifest (readers fail
    // closed — a crash between the data-dir wipe and the new commit must not
    // leave a valid-looking manifest pointing at deleted data), then wipes
    // the data dirs plus any stale staged chunks from prior generations.
    if (prev.isEmpty) {
      IndexIO.delete(spark, IndexIO.manifestPath(indexDir))
      IndexIO.delete(spark, s"$indexDir/postings")
      IndexIO.delete(spark, s"$indexDir/docmeta")
      IndexIO.delete(spark, s"$indexDir/deletes")
      IndexIO.delete(spark, s"$indexDir/termvectors")
      // staging is NOT wiped here: a same-fingerprint stageCheckpoint
      // re-build resumes from it (the reuse check validates the fp)
    }
    val postingsDir = s"$indexDir/postings/gen=$generation"
    val docmetaDir = s"$indexDir/docmeta/gen=$generation"
    phase("geometry")

    val analyzer = new Analyzer(cfg.stopWords)
    val chunkDocs = cfg.chunkDocs
    val segSizeL = segSize
    val tv = cfg.storeTermVectors
    val outParts = cfg.outputPartitions.getOrElse(spark.sessionState.conf.numShufflePartitions)

    // ---- stage 1: per-chunk invert + block encode (≙ DWPT flush) --------
    // Chunk never crosses a segment boundary (segSize is a chunk multiple),
    // so partitioning by chunkId keeps every (segment, salt) group whole —
    // a chunk split across tasks would emit two same-salt block rows whose
    // merge order is nondeterministic, breaking the ascending-docId
    // invariant. A MODULO partitioner (not hash) spreads the equal-sized
    // chunks perfectly evenly — hash partitioning of ~3 chunks/partition
    // gives binomial imbalance and stragglers. RDD drop-down is deliberate:
    // repartitionAndSortWithinPartitions is the spillable shuffle-sort this
    // stage needs (the survey's sanctioned per-partition imperative escape).
    val numChunks = (maxIdRow / chunkDocs) + 1 // upper bound on distinct chunk ids
    val stage1Parts = math.min(outParts.toLong, math.max(1L, numChunks)).toInt
    val chunkedRdd =
      if (cfg.assumeContiguous) {
        // zero-shuffle path: each input partition is a concatenation of
        // sorted, pairwise-disjoint docId runs (range-partitioned files,
        // possibly bin-packed by the reader) — invert in place. Chunks
        // split across runs/partitions yield partial rows; stage 2
        // re-orders them by firstDoc and asserts their ranges don't
        // interleave, so a violated layout contract FAILS the build.
        input.rdd.mapPartitions(invertChunks(_, analyzer, segSizeL, chunkDocs, streams, tv))
      } else {
        val partitioner = new org.apache.spark.Partitioner {
          def numPartitions: Int = stage1Parts
          def getPartition(key: Any): Int =
            ((key.asInstanceOf[Long] / chunkDocs) % stage1Parts).toInt
        }
        input.rdd
          .repartitionAndSortWithinPartitions(partitioner)
          .mapPartitions(invertChunks(_, analyzer, segSizeL, chunkDocs, streams, tv))
      }
    val chunked: Dataset[Stage1Row] = spark.createDataset(chunkedRdd)

    // With stageCheckpoint the flushed chunks are durable and fingerprinted:
    // a re-run after a mid-build failure resumes from the staged blocks
    // (skipping re-analysis of the whole corpus — the expensive stage), the
    // Spark-checkpoint resumability of the north rule.
    val staged: Dataset[Stage1Row] =
      if (cfg.stageCheckpoint) {
        val stagingDir = s"$indexDir/staging/gen=$generation"
        val fpPath = s"$indexDir/staging-gen$generation.fp"
        // staged doc rows carry term vectors only when the build stores them
        val fp = sha256Hex(s"${indexFingerprint(inputPath, docCount)}:$segSize:${cfg.chunkDocs}:" +
          streams.productIterator.mkString(":") + s":tv=$tv")
        val reusable = inputPath.nonEmpty &&
          IndexIO.readText(spark, fpPath).contains(fp) &&
          IndexIO.exists(spark, s"$stagingDir/_SUCCESS")
        if (!reusable) {
          chunked.write.mode("overwrite").parquet(stagingDir)
          IndexIO.writeText(spark, fpPath, fp)
        } else {
          System.err.println(s"[graft-build] resuming from staged chunks at $stagingDir")
        }
        spark.read.parquet(stagingDir).as[Stage1Row]
      } else chunked.persist(StorageLevel.MEMORY_AND_DISK)

    // the writing tasks of docmeta and stage 2 sum the segment stats (both
    // maps run in their write job's result stage)
    val segStats = new SegmentStats
    spark.sparkContext.register(segStats)

    // ---- doc metadata (norms + sha256 invariant), docId-sorted files ----
    val docRows = staged.where($"term".isNull)
    docRows
      .map { r =>
        segStats.addDoc(r.segmentId, r.norm)
        DocMeta(r.segmentId, r.segmentId.toLong * segSizeL + r.localDoc, r.norm, r.sha)
      }
      .write.mode("overwrite").parquet(docmetaDir)
    // term vectors: the doc rows' vectors in their own files (Lucene keeps
    // TV in separate per-segment files too — read by docId, not by term);
    // an assumeContiguous partition may hold its runs out of order
    if (tv)
      docRows.sortWithinPartitions($"segmentId", $"localDoc").flatMap(_.vector.iterator)
        .write.mode("overwrite").parquet(s"$indexDir/termvectors/gen=$generation")
    phase("stage1+docmeta")

    // ---- stage 2: salted sort-merge of chunk blocks (≙ SegmentMerger) ---
    // (salt asc, firstDoc asc) == docId asc: firstDoc only differs for
    // partial chunks of the assumeContiguous path, which share a salt.
    // Statically planned, the exchange is a stage of the postings write job.
    val merged = StaticRows.of(staged.where($"term".isNotNull)
      .repartition(outParts, $"segmentId", $"term")
      .sortWithinPartitions($"segmentId", $"term", $"salt", $"firstDoc"))
      .mapPartitions(mergeChunks(_, segStats))
    spark.createDataset(merged).write.mode("overwrite").parquet(postingsDir)
    phase("stage2-merge")

    // ---- stats + manifest: the written rows' sums, no job ----------------
    if (!cfg.stageCheckpoint) staged.unpersist(blocking = false)
    // a build starts from a fresh manifest; an append commits a copy of the
    // committed one, so what it does not own (tombstones, the generations
    // it adds its own to, the features the match rule checked) carries
    // over. An append's docIds start past the existing range, so its rows
    // CANNOT interleave into the committed sort order: the global
    // docId-order == sort-order invariant no longer holds and its
    // indexSort is cleared.
    val base = prev.map(_.copy(indexSort = "")).getOrElse(Manifest(generation = generation,
      numSegments = 0, segmentSize = segSize, stats = IndexStats.of(Nil),
      segments = Nil, corpusSha = "", hasPositions = streams.positions,
      hasTermVectors = cfg.storeTermVectors, hasOffsets = streams.offsets,
      hasPayloads = streams.payloads, normMode = streams.normMode, indexSort = indexSort))
    val segs = base.segments ++ segStats.metas(segSize)
    phase("stats")
    val fp = indexFingerprint(inputPath, docCount)
    val built = IndexIO.commit(spark, indexDir, base.copy(generation = generation,
      liveGens = base.liveGens :+ generation,
      numSegments = segs.size, stats = IndexStats.of(segs), segments = segs,
      corpusSha = prev.fold(fp)(m => sha256Hex(s"${m.corpusSha}+$fp")),
      lastStreamBatch = if (streamBatch >= 0L) streamBatch else base.lastStreamBatch))
    // drop STALE staged generations (this one stays reusable for a
    // same-fingerprint re-build; prior gens would otherwise accumulate
    // without bound across repeated checkpointed builds into one dir)
    if (cfg.stageCheckpoint) IndexIO.deleteStaging(spark, indexDir, keepGen = generation)
    phase("manifest")
    built
  }

  /** Streaming per-chunk invert: input iterator sorted by docId; one
    * [[Inverter]] per (segment, salt) chunk (≙ the DWPT's TermsHash,
    * `core/index/termshashperfield.go:245-267`), flushed as FOR-compressed
    * blocks when the chunk boundary passes. Memory is bounded by one
    * chunk's postings regardless of corpus size.
    */
  private def invertChunks(it: Iterator[(Long, String)], analyzer: Analyzer, segSize: Long,
                           chunkDocs: Int, streams: Streams, tv: Boolean): Iterator[Stage1Row] = {
    new Iterator[Stage1Row] {
      private val in = it.buffered
      private var out: Iterator[Stage1Row] = Iterator.empty
      // one intern table per TASK: hot terms (the Zipf mass of any real
      // corpus) allocate their String once per task, not once per
      // occurrence — stage 1 is memory-bandwidth-bound, and token-string
      // garbage was its largest allocation source
      private val intern = new graft.analysis.TermIntern()

      private def flushChunk(): Iterator[Stage1Row] = {
        // consume the chunk that starts at the head's (seg, salt), flushing
        // ALSO at any backward docId (a "run boundary": the parquet reader
        // bin-packs several sorted files into one partition in arbitrary
        // order, so a partition is a concatenation of sorted runs). Each
        // run piece becomes its own partial row; stage 2 re-orders pieces
        // by firstDoc and ASSERTS their ranges don't interleave, so any
        // genuinely illegal layout fails the build instead of corrupting it.
        val headId = in.head._1
        val seg = (headId / segSize).toInt
        val salt = ((headId - seg.toLong * segSize) / chunkDocs).toInt
        val inverter = new Inverter(analyzer, streams, intern, tv)
        val docRows = Vector.newBuilder[Stage1Row]
        var continue = true
        var lastLocal = -1
        while (continue && in.hasNext) {
          val (docId, content) = in.head
          val s = (docId / segSize).toInt
          val local = (docId - s.toLong * segSize).toInt
          if (s != seg || local / chunkDocs != salt || local <= lastLocal) continue = false
          else {
            lastLocal = local
            in.next()
            val len = inverter.invert(local, content)
            docRows += Stage1Row(seg, null, salt, 0, 0L, null, local, len,
              sha256Hex(if (content == null) "" else content), firstDoc = local,
              vector = if (tv) inverter.vector(docId) else null)
          }
        }
        val postRows = new scala.collection.mutable.ArrayBuffer[Stage1Row](inverter.terms.size)
        inverter.terms.forEach { (t, b) =>
          postRows += Stage1Row(seg, t, salt, b.n, b.totalTermFreq, inverter.withNorms(b).blocks(),
            -1, 0, null, firstDoc = b.docs(0), vector = null)
        }
        postRows.iterator ++ docRows.result().iterator
      }

      def hasNext: Boolean = out.hasNext || in.hasNext
      def next(): Stage1Row = {
        if (!out.hasNext) out = flushChunk()
        out.next()
      }
    }
  }

  /** Pack sorted postings (no per-occurrence streams) into fixed-size FOR
    * blocks with impacts — [[PostingsBuffer.blocks]] over the given arrays. */
  def buildBlocks(docs: Array[Int], freqs: Array[Int], norms: Array[Byte]): Array[PostingBlock] = {
    val b = new PostingsBuffer(Streams.plain)
    b.docs = docs; b.freqs = freqs; b.norms = norms; b.n = docs.length
    b.blocks()
  }

  /** Streaming merge: chunk rows sorted by (seg, term, salt, firstDoc);
    * (salt, firstDoc) order == docId order (salt = localDoc / chunkDocs;
    * firstDoc orders partial chunks of the assumeContiguous path), so
    * concatenating block arrays preserves ascending docIds — the Lucene
    * merge invariant. The ascending invariant is ASSERTED here: overlapping
    * input partitions (a violated assumeContiguous contract) fail the build
    * instead of committing a corrupt index. Each merged row is added to
    * `stats`.
    */
  private def mergeChunks(it: Iterator[Stage1Row], stats: SegmentStats): Iterator[TermPostings] = {
    new Iterator[TermPostings] {
      private val buf = it.buffered
      def hasNext: Boolean = buf.hasNext
      def next(): TermPostings = {
        val h = buf.head
        val (seg, term) = (h.segmentId, h.term)
        var df = 0
        var ttf = 0L
        var lastMax = -1
        val blocks = Array.newBuilder[PostingBlock]
        while (buf.hasNext && buf.head.segmentId == seg && buf.head.term == term) {
          val c = buf.next()
          require(c.firstDoc > lastMax,
            s"posting merge invariant violated for term '$term' seg $seg: " +
              s"chunk first doc ${c.firstDoc} <= previous max $lastMax " +
              "(overlapping input partitions under assumeContiguous?)")
          df += c.docFreq; ttf += c.totalTermFreq; blocks ++= c.blocks
          lastMax = c.blocks(c.blocks.length - 1).maxDoc
        }
        val tp = TermPostings(seg, term, df, ttf, blocks.result(),
          termLen = term.codePointCount(0, term.length))
        stats.addPostings(tp)
        tp
      }
    }
  }
}

/** Competitive impacts: pareto-max set of (freq, norm) pairs per block
  * (reference `core/index/competitiveimpactaccumulator.go:40-84`). Sorted by
  * norm asc with strictly increasing freq; dominated pairs dropped.
  * Note: smaller normByte => shorter effective length => higher BM25 score,
  * so the frontier keeps, per norm, the max freq.
  */
object Impacts {
  def pareto(freqs: Array[Int], norms: Array[Byte], from: Int, until: Int): (Array[Int], Array[Int]) = {
    val maxFreqPerNorm = new Array[Int](256)
    var i = from
    while (i < until) {
      val n = norms(i) & 0xFF
      if (freqs(i) > maxFreqPerNorm(n)) maxFreqPerNorm(n) = freqs(i)
      i += 1
    }
    val outF = Array.newBuilder[Int]
    val outN = Array.newBuilder[Int]
    var best = 0
    var n = 0
    while (n < 256) {
      if (maxFreqPerNorm(n) > best) { outF += maxFreqPerNorm(n); outN += n; best = maxFreqPerNorm(n) }
      n += 1
    }
    (outF.result(), outN.result())
  }
}
