package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.search.{IndexSearcher, Query, TermQ}

/** Mutating index operations on a committed index — the
  * IndexWriter.DeleteDocuments / UpdateDocument lifecycle
  * (`/root/reference/core/index/indexwriter.go:416`: update =
  * delete-by-term + add). Spark mapping:
  *
  *  - a delete runs the query DISTRIBUTED through the normal kernels (with
  *    existing tombstones applied, so re-deleting is a no-op), writes the
  *    matching (segmentId, localDoc) pairs as a NEW tombstone generation
  *    under `deletes/gen=K`, then commits a manifest that lists K in its
  *    deleteGens — readers open only listed generations (live-docs
  *    analogue, `codecs/simpletext/livedocsformat.go`)
  *  - an update appends the replacement docs as new segments (Lucene's
  *    updated docs get new docIDs; old ones are tombstoned)
  *  - statistics are NOT adjusted for deleted docs until a full rebuild —
  *    exactly Lucene's behavior before merges reclaim tombstones
  */
object IndexOps {

  /** Tombstone every doc matching `q`. Returns the index handle for the new
    * committed generation (the same handle if nothing new matched). */
  def deleteByQuery(spark: SparkSession, indexDir: String, q: Query): BuiltIndex = {
    import spark.implicits._
    val m = IndexIO.committed(spark, indexDir)
    val idx = new BuiltIndex(indexDir, m)
    val searcher = new IndexSearcher(idx)
    val segSize = m.segmentSize
    // tombstone dirs have their own counter: a delete writes no postings,
    // so it must not bump `generation`, which keys the fuzzy sidecar of
    // the dictionary (a bump would only force a rebuild of the same one)
    val dgen = m.deleteGen + 1
    // matchingDocs applies current tombstones — only NEW deletions are
    // written, keeping deletedCount exact (and MatchAll count O(1))
    val n = IndexIO.writeCounted(spark, searcher.matchingDocs(spark, q)
      .map(sd => DeleteRow((sd.docId / segSize).toInt, (sd.docId % segSize).toInt)),
      s"$indexDir/deletes/gen=$dgen")
    if (n > 0L) IndexIO.commit(spark, indexDir,
      m.copy(deleteGen = dgen, deleteGens = m.deleteGens :+ dgen, deletedCount = m.deletedCount + n))
    else {
      // nothing new matched: no commit, and no tombstone dir is left (with
      // no committed tombstones, the whole tree holds none)
      IndexIO.delete(spark, if (m.deleteGens.isEmpty) s"$indexDir/deletes" else s"$indexDir/deletes/gen=$dgen")
      idx
    }
  }

  def deleteByTerm(spark: SparkSession, indexDir: String, term: String): BuiltIndex =
    deleteByQuery(spark, indexDir, TermQ(term))

  /** Tiered merge policy — the TieredMergePolicy role
    * (`core/index/mergepolicy.go:303-335`): generations whose postings tree
    * is under `smallGenBytes` are merge candidates; a merge runs only when
    * at least `minMerge` candidates exist (merging one gen into one gen is
    * a no-op rewrite).
    */
  final case class MergePolicy(smallGenBytes: Long = 64L << 20, minMerge: Int = 2)

  /** Incremental (tiered) compaction: [[merge]] ONLY the small generations
    * into one new generation, leaving big ones alone — the remedy for a day
    * of streaming micro-batches (thousands of tiny `gen=N` dirs) that does
    * NOT pay forceMerge's full-index rewrite. Returns the same handle when
    * no merge was warranted. Repeated calls converge: merged output counts
    * as one (possibly big) generation.
    */
  def maybeMerge(spark: SparkSession, indexDir: String,
                 policy: MergePolicy = MergePolicy()): BuiltIndex = {
    val m = IndexIO.committed(spark, indexDir)
    val candidates =
      m.liveGens.filter(g => IndexIO.dirBytes(spark, s"$indexDir/postings/gen=$g") < policy.smallGenBytes)
    if (candidates.isEmpty || candidates.size < policy.minMerge) new BuiltIndex(indexDir, m)
    else merge(spark, indexDir, m, candidates, "tiered")
  }

  /** forceMerge(1): [[merge]] ALL live generations into ONE — the
    * MergePolicy/SegmentMerger lifecycle (`core/index/mergepolicy.go:303-335`,
    * `core/index/segmentmerger.go`). Every tombstone is reclaimed, so the
    * compacted index equals a fresh build over the live docs (oracle row
    * q53). A no-op on an index with one live generation and no tombstones.
    */
  def forceMerge(spark: SparkSession, indexDir: String): BuiltIndex = {
    val m = IndexIO.committed(spark, indexDir)
    if (m.deletedCount == 0L && m.liveGens.size == 1) new BuiltIndex(indexDir, m) // already compact
    else merge(spark, indexDir, m, m.liveGens, "merged")
  }

  /** The one merge behind [[maybeMerge]] and [[forceMerge]]: rewrite the
    * generations `gens` (postings + docmeta + term vectors) into ONE new
    * generation, dropping the tombstoned docs of their segments.
    *
    * DocID remap (SegmentMerger semantics): surviving docs keep their
    * segment but compact to dense locals, newLocal = oldLocal − (# deleted
    * locals ≤ oldLocal) — a closed form from the segment's sorted tombstone
    * array, so the remap needs no lookup table and no extra shuffle. The
    * remap is monotone: surviving docs keep their relative docId order.
    * Like Lucene, docIDs are NOT stable across merges; the doc's identity
    * is its stored fields (docmeta sha).
    *
    * The merged segments' statistics are the sums of the rows the rewrite
    * writes (docFreq/ttf per term, per-segment doc counts): BM25 no longer
    * sees their ghost docs, exactly as in Lucene after tombstones are
    * reclaimed; segments whose docs were ALL deleted leave the manifest.
    * Tombstones of untouched segments survive, consolidated into one fresh
    * deletes generation that replaces every listed one, so the superseded
    * pre-remap dirs can never be read again.
    *
    * Commit is the usual atomic manifest flip: the new generation replaces
    * `gens` in the listed ones, and every gen dir the new manifest does
    * not list at or below its counters is deleted only after the commit is
    * durable (a crash before that leaves the OLD view fully intact; a later
    * merge reclaims what it left).
    */
  private def merge(spark: SparkSession, indexDir: String, m: Manifest, gens: Seq[Long],
                    tag: String): BuiltIndex = {
    val gen = m.generation + 1
    // the input generations through the schema-given readers of a view in
    // which only `gens` are visible
    val input = new BuiltIndex(indexDir, m.copy(liveGens = gens))
    val allDels = input.deleteRows(spark) // every committed tombstone
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val stats = Compaction.rewriteGeneration(spark, indexDir, gen, m, input,
        allDels.rdd.map(d => (d.segmentId, d.localDoc)))
      // builds and appends write whole segments into one gen dir, so a
      // segment the rewrite read must have ALL its docs in `gens`
      val read = stats.docsRead
      val segById = m.segments.map(s => s.segmentId -> s).toMap
      read.foreach { case (sid, n) =>
        require(segById.get(sid).exists(_.docCount == n),
          s"segment $sid spans merged and unmerged generations — gen-per-segment invariant violated")
      }
      val segs = (m.segments.filterNot(s => read.contains(s.segmentId)) ++
        stats.metas(m.segmentSize, s"$tag$gen")).sortBy(_.segmentId)

      // ---- consolidate surviving tombstones into one new generation -------
      // (written to deletes/gen=deleteGen+1 and counted as they are written;
      // with none, the reclaim below removes the tree after the commit)
      val mergedSegs = read.keySet
      val kept = m.segments.map(_.segmentId).filterNot(mergedSegs)
      val nSurv = if (m.deletedCount == 0L || kept.isEmpty) 0L else {
        // one file per segment, in localDoc order: the bytes written must not
        // depend on how the scan packed the tombstone files it read (files
        // of equal length come in directory-listing order)
        import spark.implicits._
        val slot = kept.zipWithIndex.toMap
        val bySegment = new org.apache.spark.Partitioner {
          def numPartitions: Int = kept.size
          def getPartition(key: Any): Int = slot(key.asInstanceOf[(Int, Int)]._1)
        }
        IndexIO.writeCounted(spark, spark.createDataset(allDels.rdd.filter(d => !mergedSegs(d.segmentId))
            .map(d => ((d.segmentId, d.localDoc), ())).repartitionAndSortWithinPartitions(bySegment)
            .keys.map { case (sid, local) => DeleteRow(sid, local) }),
          s"$indexDir/deletes/gen=${m.deleteGen + 1}")
      }
      val newDeleteGen = if (nSurv > 0L) m.deleteGen + 1 else 0L

      val out = IndexIO.commit(spark, indexDir, m.copy(
        generation = gen, liveGens = m.liveGens.diff(gens) :+ gen,
        numSegments = segs.size, stats = IndexStats.of(segs), segments = segs,
        corpusSha = IndexBuilder.sha256Hex(s"${m.corpusSha}#$tag:$gen"),
        deleteGen = newDeleteGen, deleteGens = Seq(newDeleteGen).filter(_ > 0L), deletedCount = nSurv))
      // reclaim superseded dirs only after the commit is durable
      IndexIO.unlisted(spark, indexDir, out.manifest)
        .foreach(u => u.superseded.foreach(g => IndexIO.delete(spark, s"$indexDir/${u.tree}/gen=$g")))
      if (nSurv == 0L) IndexIO.delete(spark, s"$indexDir/deletes")
      out
    } finally allDels.unpersist(blocking = false)
  }

  /** UpdateDocument: tombstone every doc matching `term`, then append the
    * replacement docs as new segments. The replacements' ids must be >=
    * the index's nextDocBase (fresh docIDs, the Lucene update contract).
    */
  def updateDocuments(spark: SparkSession, indexDir: String, term: String,
                      newDocs: DataFrame, docIdCol: String, contentCol: String,
                      cfg: BuildConfig = BuildConfig()): BuiltIndex = {
    deleteByTerm(spark, indexDir, term)
    IndexBuilder.append(spark, newDocs, docIdCol, contentCol, indexDir, cfg)
  }
}

/** Rewrite kernels of the one merge behind [[IndexOps.maybeMerge]] and
  * [[IndexOps.forceMerge]] — the SegmentMerger's per-term work
  * (`core/index/segmentmerger.go`): drop tombstoned postings, remap
  * surviving locals to dense, re-encode blocks (positions stream carried
  * through when present).
  */
private[index] object Compaction {

  /** Count of deleted locals <= `local`, or -1 when `local` itself is
    * tombstoned. `deleted` sorted ascending. */
  def deletedAtOrBelow(deleted: Array[Int], local: Int): Int = {
    val i = java.util.Arrays.binarySearch(deleted, local)
    if (i >= 0) -1 else -(i + 1)
  }

  /** The dense docId of global `docId` of segment `seg` after the remap
    * (local − deleted locals below it), or -1 when the doc is tombstoned. */
  def remapDoc(docId: Long, seg: Int, segSize: Long, deleted: Array[Int]): Long = {
    val shift = deletedAtOrBelow(deleted, (docId - seg * segSize).toInt)
    if (shift < 0) -1L else docId - shift
  }

  /** Rewrite ONE target generation (postings + docmeta + term vectors when
    * present) from the visible generations of `input`, applying tombstones
    * with the dense docId remap, over `spark.sql.shuffle.partitions`
    * partitions; returns the sums of the rows it wrote. The rewrite closures
    * run in their write job's result stage, the only place a
    * [[SegmentStats]] is fed. */
  def rewriteGeneration(spark: SparkSession, indexDir: String, gen: Long, m: Manifest,
                        input: BuiltIndex, delRdd: org.apache.spark.rdd.RDD[(Int, Int)]): SegmentStats = {
    import spark.implicits._
    val outParts = spark.sessionState.conf.numShufflePartitions
    val streams = Streams.of(m)
    val segSize = m.segmentSize
    val stats = new SegmentStats
    spark.sparkContext.register(stats)
    rewriteWithTombstones[TermPostings](spark,
      input.postings(spark).as[TermPostings].rdd.map(tp => ((tp.segmentId, tp.term), tp: AnyRef)),
      delRdd, outParts) { (payload, deleted) =>
        rewriteTerm(payload.asInstanceOf[TermPostings], deleted, streams)
          .map { tp => stats.addPostings(tp); tp }.iterator
      }
      .write.mode("overwrite").parquet(s"$indexDir/postings/gen=$gen")
    rewriteWithTombstones[DocMeta](spark,
      input.docmeta(spark).select($"segmentId", $"docId", $"norm", $"sha").as[DocMeta]
        .rdd.map(d => ((d.segmentId, "%019d".format(d.docId)), d: AnyRef)),
      delRdd, outParts) { (payload, deleted) =>
        val d = payload.asInstanceOf[DocMeta]
        val id = remapDoc(d.docId, d.segmentId, segSize, deleted)
        stats.addDoc(d.segmentId, d.norm, written = id >= 0)
        if (id >= 0) Iterator.single(d.copy(docId = id)) else Iterator.empty
      }
      .write.mode("overwrite").parquet(s"$indexDir/docmeta/gen=$gen")
    if (m.hasTermVectors) {
      rewriteWithTombstones[TermVectorRow](spark,
        input.termVectorsDf(spark)
          .select($"docId", $"term", $"freq", $"positions", $"startOffsets", $"endOffsets")
          .as[TermVectorRow]
          .rdd.map(tv => (((tv.docId / segSize).toInt, "%019d".format(tv.docId)), tv: AnyRef)),
        delRdd, outParts) { (payload, deleted) =>
          val tv = payload.asInstanceOf[TermVectorRow]
          val id = remapDoc(tv.docId, (tv.docId / segSize).toInt, segSize, deleted)
          if (id >= 0) Iterator.single(tv.copy(docId = id)) else Iterator.empty
        }
        .write.mode("overwrite").parquet(s"$indexDir/termvectors/gen=$gen")
    }
    stats
  }

  /** The tombstone-ahead streaming rewrite: `data` rows keyed by
    * (segmentId, sortKey) shuffle TOGETHER with the tombstones, which sort
    * FIRST within each segment ((seg, tag, key) composite; tag 0 =
    * tombstone). The task accumulates a segment's sorted tombstone array,
    * then applies `rewrite(payload, deleted)` to each data row as it
    * streams past — memory = |segment tombstones| + one row. Rows come out
    * (segment, sortKey)-ordered, so parquet written from the result keeps
    * term-sorted (postings) / docId-sorted (docmeta, TV) files for
    * pushdown. */
  def rewriteWithTombstones[T](
      spark: SparkSession,
      data: org.apache.spark.rdd.RDD[((Int, String), AnyRef)],
      dels: org.apache.spark.rdd.RDD[(Int, Int)],
      outParts: Int)(rewrite: (AnyRef, Array[Int]) => Iterator[T])(
      implicit enc: org.apache.spark.sql.Encoder[T],
      ct: scala.reflect.ClassTag[T]): org.apache.spark.sql.Dataset[T] = {
    val keyed: org.apache.spark.rdd.RDD[((Int, Int, String), AnyRef)] =
      data.map { case ((seg, key), p) => ((seg, 1, key), p) }
        .union(dels.map { case (seg, local) =>
          ((seg, 0, ""), java.lang.Integer.valueOf(local): AnyRef)
        })
    val segPartitioner = new org.apache.spark.Partitioner {
      def numPartitions: Int = outParts
      def getPartition(key: Any): Int =
        math.abs(key.asInstanceOf[(Int, Int, String)]._1 % outParts)
    }
    val out = keyed
      .repartitionAndSortWithinPartitions(segPartitioner)
      .mapPartitions { it =>
        var curSeg = Int.MinValue
        var deleted: Array[Int] = null
        val delBuf = new IntBuf(16)
        it.flatMap { case ((seg, tag, _), payload) =>
          if (seg != curSeg) { curSeg = seg; delBuf.n = 0; deleted = null }
          if (tag == 0) {
            delBuf.add(payload.asInstanceOf[java.lang.Integer].intValue)
            Iterator.empty
          } else {
            if (deleted == null) {
              deleted = java.util.Arrays.copyOf(delBuf.a, delBuf.n)
              java.util.Arrays.sort(deleted)
            }
            rewrite(payload, deleted)
          }
        }
      }
    spark.createDataset(out)
  }

  /** Rewrite one term's posting list against the segment's sorted tombstone
    * array: the surviving postings, remapped dense, are re-appended with all
    * their occurrences to a [[PostingsBuffer]] and flushed as new blocks;
    * None when every posting was tombstoned. Prox/offsets/payload streams
    * decode through the SAME [[graft.codec.ProxStreams]] the query readers
    * use — one implementation per on-disk layout. */
  def rewriteTerm(tp: TermPostings, deleted: Array[Int], streams: Streams): Option[TermPostings] = {
    if (deleted.isEmpty) return Some(tp) // untouched segment: bytes move as-is
    val b = new PostingsBuffer(streams)
    tp.blocks.foreach { blk =>
      val docs = graft.codec.MonotonicBlock.decode(blk.docBytes)
      val freqs = graft.codec.ForBlock.decode(blk.freqBytes).map(_.toInt)
      require(!streams.positions || blk.posBytes != null,
        "compaction on a positions index requires posBytes in every block")
      require(!streams.offsets || blk.offBytes != null,
        "compaction on an offsets index requires offBytes in every block")
      require(!streams.payloads || blk.payBytes != null,
        "compaction on a payloads index requires payBytes in every block")
      // every stream is aligned with the occurrences in posting order
      val pos = if (streams.positions) graft.codec.ProxStreams.decodePositions(blk.posBytes, freqs)._1 else null
      val off = if (streams.offsets) graft.codec.ProxStreams.decodeOffsets(blk.offBytes, freqs) else null
      val pay = if (streams.payloads) graft.codec.ProxStreams.decodePayloads(blk.payBytes, freqs)._1 else null
      var occ = 0
      var i = 0
      while (i < docs.length) {
        val local = docs(i).toInt
        val shift = deletedAtOrBelow(deleted, local)
        val occEnd = occ + freqs(i)
        if (shift >= 0) {
          b.addDoc(local - shift, blk.norms(i))
          while (occ < occEnd) {
            b.addOccurrence(if (pos == null) 0 else pos(occ),
              if (off == null) 0 else off._1(occ), if (off == null) 0 else off._2(occ),
              if (pay == null) null else pay(occ))
            occ += 1
          }
        }
        occ = occEnd
        i += 1
      }
    }
    if (b.n == 0) None
    else Some(TermPostings(tp.segmentId, tp.term, b.n, b.totalTermFreq, b.blocks(), termLen = tp.termLen))
  }
}
