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
  *    under `deletes/gen=K`, then commits a manifest with deleteGen = K —
  *    readers only see committed generations (live-docs analogue,
  *    `codecs/simpletext/livedocsformat.go`)
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
    val m = IndexIO.readManifest(spark, indexDir)
      .getOrElse(throw new IllegalStateException(s"no committed index at $indexDir"))
    val idx = new BuiltIndex(indexDir, m)
    val searcher = new IndexSearcher(idx)
    val segSize = m.segmentSize
    // matchingDocs applies current tombstones — only NEW deletions are
    // written, keeping deletedCount exact (and MatchAll count O(1))
    val newDel = searcher.matchingDocs(spark, q)
      .map(sd => DeleteRow((sd.docId / segSize).toInt, (sd.docId % segSize).toInt))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = newDel.count()
      if (n == 0L) return idx
      // tombstone dirs are numbered by deleteGen ONLY — the shared
      // `generation` counter stays untouched. Bumping it here would let a
      // delete commit claim a generation number for which no postings/
      // docmeta were written, aliasing an orphan postings/gen=K left by a
      // crashed append into the committed-visibility window.
      val dgen = m.deleteGen + 1
      newDel.write.mode("overwrite").parquet(s"$indexDir/deletes/gen=$dgen")
      val m2 = m.copy(deleteGen = dgen, deletedCount = m.deletedCount + n)
      IndexIO.writeManifest(spark, indexDir, m2)
      new BuiltIndex(indexDir, m2)
    } finally newDel.unpersist(blocking = false)
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

  /** Incremental (tiered) compaction: rewrite ONLY the small generations
    * into one new generation, leaving big ones alone — the remedy for a day
    * of streaming micro-batches (thousands of tiny `gen=N` dirs) that does
    * NOT pay forceMerge's full-index rewrite. Tombstones of the merged
    * segments are reclaimed (dense docId remap + per-segment stat
    * correction, exactly forceMerge's semantics restricted to those
    * segments); tombstones of untouched segments survive, consolidated into
    * a fresh deletes generation above the new `minDeleteGen` floor so the
    * superseded pre-remap dirs can never be read again. Commit is the usual
    * atomic manifest flip: the merged gens enter `deadGens` (invisible) and
    * their dirs are deleted only after the commit is durable.
    *
    * Returns the same handle when no merge was warranted. Repeated calls
    * converge: merged output counts as one (possibly big) generation.
    */
  def maybeMerge(spark: SparkSession, indexDir: String,
                 policy: MergePolicy = MergePolicy(),
                 outputPartitions: Option[Int] = None): BuiltIndex = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val m = IndexIO.readManifest(spark, indexDir)
      .getOrElse(throw new IllegalStateException(s"no committed index at $indexDir"))
    val idx = new BuiltIndex(indexDir, m)
    // defensive exists(): a manifest gen whose dir is gone (e.g. a legacy
    // pre-fix manifest) must not become a zero-byte merge candidate
    val live = idx.liveGens.filter(g => IndexIO.exists(spark, s"$indexDir/postings/gen=$g"))
    val candidates = live.filter { g =>
      IndexIO.dirBytes(spark, s"$indexDir/postings/gen=$g") < policy.smallGenBytes
    }
    if (candidates.size < policy.minMerge) return idx
    val gen = m.generation + 1
    val segSize = m.segmentSize
    val outParts = outputPartitions.getOrElse(spark.sessionState.conf.numShufflePartitions)
    val candSet = candidates.toSet

    def readSub(root: String): org.apache.spark.sql.DataFrame =
      spark.read.option("basePath", root).parquet(candidates.map(g => s"$root/gen=$g"): _*)

    // segments contained in the candidate gens (builds/appends write whole
    // segments into one gen dir, so segment -> gen is a function; ASSERT it)
    val mergedSegs: Set[Int] = readSub(s"$indexDir/docmeta")
      .select("segmentId").distinct().collect().map(_.getInt(0)).toSet
    val otherGens = live.filterNot(candSet)
    if (otherGens.nonEmpty) {
      val overlap = spark.read.option("basePath", s"$indexDir/docmeta")
        .parquet(otherGens.map(g => s"$indexDir/docmeta/gen=$g"): _*)
        .select("segmentId").distinct().collect().map(_.getInt(0)).toSet
        .intersect(mergedSegs)
      require(overlap.isEmpty,
        s"segments $overlap span merged and unmerged generations — gen-per-segment invariant violated")
    }

    val allDels = idx.deleteRows(spark)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val delRdd = allDels.filter(d => mergedSegs.contains(d.segmentId))
        .rdd.map(d => (d.segmentId, d.localDoc))

      // the SAME shared rewrite + stats recompute as forceMerge, over the
      // candidate-gen subset (identical semantics by construction)
      Compaction.rewriteGeneration(spark, indexDir, gen, segSize, m,
        readSub(s"$indexDir/postings"), readSub(s"$indexDir/docmeta"),
        if (m.hasTermVectors) readSub(s"$indexDir/termvectors") else null,
        delRdd, outParts)
      val (postAgg, docAgg) = Compaction.recomputeSegStats(spark, indexDir, gen)
      val segs = m.segments.flatMap { s =>
        if (!mergedSegs.contains(s.segmentId)) Some(s)
        else Compaction.correctedMeta(s, postAgg, docAgg, s"tiered$gen")
      } // merged segments whose docs were ALL deleted drop out

      // ---- consolidate surviving tombstones above a new floor -------------
      val survivors = allDels.filter(d => !mergedSegs.contains(d.segmentId))
      val nSurv = survivors.count()
      val (newDeleteGen, newMinDeleteGen) =
        if (nSurv > 0L) { val g2 = m.deleteGen + 1; (g2, g2) } else (0L, 0L)
      if (nSurv > 0L)
        survivors.write.mode("overwrite").parquet(s"$indexDir/deletes/gen=$newDeleteGen")

      val deadAll = (m.deadGens ++ candidates).distinct.sorted
      // advance the visibility floor past any dead PREFIX: those generations
      // can never become visible again, so keeping them listed only grows
      // the manifest and every [minGen, generation] dirBytes/visibility scan
      // without bound across long streaming append+merge cycles (deadGens
      // stays bounded by the number of interior holes, which repeated
      // merges collapse)
      val newMinGen = (m.minGen to gen).filterNot(deadAll.contains).min // gen itself is live
      val deadGens = deadAll.filter(_ > newMinGen)
      val m2 = m.copy(
        generation = gen, minGen = newMinGen,
        numSegments = segs.size, stats = IndexStats.of(segs), segments = segs,
        corpusSha = IndexBuilder.sha256Hex(s"${m.corpusSha}#tiered:$gen"),
        deadGens = deadGens,
        deleteGen = newDeleteGen, minDeleteGen = newMinDeleteGen, deletedCount = nSurv)
      val m3 = m2.copy(
        postingsBytes = (m2.minGen to gen).filterNot(deadGens.contains)
          .map(g => IndexIO.dirBytes(spark, s"$indexDir/postings/gen=$g")).sum,
        docmetaBytes = (m2.minGen to gen).filterNot(deadGens.contains)
          .map(g => IndexIO.dirBytes(spark, s"$indexDir/docmeta/gen=$g")).sum)
      IndexIO.writeManifest(spark, indexDir, m3)
      // reclaim superseded dirs only after the commit is durable
      candidates.foreach { g =>
        IndexIO.delete(spark, s"$indexDir/postings/gen=$g")
        IndexIO.delete(spark, s"$indexDir/docmeta/gen=$g")
        if (m.hasTermVectors) IndexIO.delete(spark, s"$indexDir/termvectors/gen=$g")
      }
      if (m.deletedCount > 0L) {
        (m.minDeleteGen to m.deleteGen).foreach { g =>
          IndexIO.delete(spark, s"$indexDir/deletes/gen=$g")
        }
        if (nSurv == 0L) IndexIO.delete(spark, s"$indexDir/deletes")
      }
      new BuiltIndex(indexDir, m3)
    } finally allDels.unpersist(blocking = false)
  }

  /** forceMerge(1): rewrite ALL committed generations into ONE new
    * generation, dropping tombstoned docs and correcting statistics — the
    * MergePolicy/SegmentMerger lifecycle
    * (`core/index/mergepolicy.go:303-335`, `core/index/segmentmerger.go`).
    *
    * DocID remap (SegmentMerger semantics): surviving docs keep their
    * segment but compact to dense locals, newLocal = oldLocal − (# deleted
    * locals ≤ oldLocal) — a closed form from the segment's sorted tombstone
    * array, so the remap needs no lookup table and no extra shuffle. The
    * remap is monotone: surviving docs keep their relative docId order.
    * Like Lucene, docIDs are NOT stable across merges; the doc's identity
    * is its stored fields (docmeta sha).
    *
    * Statistics are recomputed from the compacted postings (docFreq/ttf per
    * term, per-segment doc counts) — after the merge, BM25 no longer sees
    * ghost docs, exactly as in Lucene after tombstones are reclaimed. The
    * compacted index therefore equals a fresh build over the live docs
    * (oracle row q53).
    *
    * Commit: new postings/docmeta under gen=G+1, then a manifest with
    * minGen = generation = G+1, deleteGen = 0, deletedCount = 0 — readers
    * flip atomically to the compacted view (versioned manifest), after
    * which the superseded generation dirs are deleted.
    */
  def forceMerge(spark: SparkSession, indexDir: String,
                 outputPartitions: Option[Int] = None): BuiltIndex = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val m = IndexIO.readManifest(spark, indexDir)
      .getOrElse(throw new IllegalStateException(s"no committed index at $indexDir"))
    val idx = new BuiltIndex(indexDir, m)
    if (m.deletedCount == 0L && idx.liveGens.size == 1) return idx // already compact
    val gen = m.generation + 1
    val segSize = m.segmentSize
    val outParts = outputPartitions.getOrElse(spark.sessionState.conf.numShufflePartitions)

    // Tombstones ride the SAME shuffle as the data, SORTED AHEAD of it
    // within each segment ((segment, tag) composite key: tag 0 = tombstone,
    // 1 = data row). The rewrite task streams: it accumulates a segment's
    // tombstone array (small), then rewrites that segment's rows ONE AT A
    // TIME — task memory is |segment tombstones| + one data row, never a
    // whole segment's postings (a cogroup would materialize the segment's
    // full index in one task's CompactBuffer — the anti-pattern at 100 TB).
    // ONE implementation of that discipline serves postings, docmeta, and
    // term vectors (Compaction.rewriteWithTombstones).
    val delRdd = idx.deleteRows(spark).rdd.map(d => (d.segmentId, d.localDoc))

    // one shared rewrite (postings + docmeta + TV) and one shared stats
    // recompute serve BOTH compaction paths — forceMerge (all live gens)
    // and maybeMerge (a size-floored subset) must stay semantically
    // identical by construction, not by parallel maintenance
    Compaction.rewriteGeneration(spark, indexDir, gen, segSize, m,
      idx.postings(spark), idx.docmeta(spark),
      if (m.hasTermVectors) idx.termVectorsDf(spark) else null,
      delRdd, outParts)
    val (postAgg, docAgg) = Compaction.recomputeSegStats(spark, indexDir, gen)
    val segs = m.segments.flatMap(
      Compaction.correctedMeta(_, postAgg, docAgg, s"merged$gen"))
    // segments whose docs were ALL deleted drop out of the manifest
    val m2 = m.copy(
      generation = gen, minGen = gen,
      numSegments = segs.size, stats = IndexStats.of(segs), segments = segs,
      corpusSha = IndexBuilder.sha256Hex(s"${m.corpusSha}#merged:$gen"),
      postingsBytes = IndexIO.dirBytes(spark, s"$indexDir/postings/gen=$gen"),
      docmetaBytes = IndexIO.dirBytes(spark, s"$indexDir/docmeta/gen=$gen"),
      deadGens = Nil, // every pre-merge generation is superseded and deleted
      deleteGen = 0L, minDeleteGen = 0L, deletedCount = 0L)
    IndexIO.writeManifest(spark, indexDir, m2)
    // superseded generations + tombstones are garbage once the compacted
    // manifest is durable (versioned commit: a crash before this point
    // leaves the OLD view fully intact)
    (m.minGen to m.generation).foreach { g =>
      IndexIO.delete(spark, s"$indexDir/postings/gen=$g")
      IndexIO.delete(spark, s"$indexDir/docmeta/gen=$g")
      if (m.hasTermVectors) IndexIO.delete(spark, s"$indexDir/termvectors/gen=$g")
    }
    IndexIO.delete(spark, s"$indexDir/deletes")
    new BuiltIndex(indexDir, m2)
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

/** Posting-list rewrite kernels for [[IndexOps.forceMerge]] — the
  * SegmentMerger's per-term work (`core/index/segmentmerger.go`): drop
  * tombstoned postings, remap surviving locals to dense, re-encode blocks
  * (positions stream carried through when present).
  */
private[index] object Compaction {

  /** Count of deleted locals <= `local`, or -1 when `local` itself is
    * tombstoned. `deleted` sorted ascending. */
  def deletedAtOrBelow(deleted: Array[Int], local: Int): Int = {
    val i = java.util.Arrays.binarySearch(deleted, local)
    if (i >= 0) -1 else -(i + 1)
  }

  /** Rewrite ONE target generation (postings + docmeta + term vectors when
    * present) from the given source frames, applying tombstones with the
    * dense docId remap — the single implementation behind forceMerge (all
    * live generations) and maybeMerge (a size-floored subset). `tvDf` may
    * be null when the manifest has no term vectors. */
  def rewriteGeneration(spark: SparkSession, indexDir: String, gen: Long, segSize: Long,
                        m: Manifest, postingsDf: DataFrame, docmetaDf: DataFrame,
                        tvDf: DataFrame,
                        delRdd: org.apache.spark.rdd.RDD[(Int, Int)], outParts: Int): Unit = {
    import spark.implicits._
    val streams = Streams.of(m)
    rewriteWithTombstones[TermPostings](spark,
      postingsDf.as[TermPostings].rdd.map(tp => ((tp.segmentId, tp.term), tp: AnyRef)),
      delRdd, outParts) { (payload, deleted) =>
        rewriteTerm(payload.asInstanceOf[TermPostings], deleted, streams).iterator
      }
      .write.mode("overwrite").parquet(s"$indexDir/postings/gen=$gen")
    rewriteWithTombstones[DocMeta](spark,
      docmetaDf.select($"segmentId", $"docId", $"norm", $"sha").as[DocMeta]
        .rdd.map(d => ((d.segmentId, "%019d".format(d.docId)), d: AnyRef)),
      delRdd, outParts) { (payload, deleted) =>
        val d = payload.asInstanceOf[DocMeta]
        val local = (d.docId - d.segmentId.toLong * segSize).toInt
        val shift = deletedAtOrBelow(deleted, local)
        if (shift >= 0) // negative = the doc itself is tombstoned
          Iterator.single(DocMeta(d.segmentId,
            d.segmentId.toLong * segSize + (local - shift), d.norm, d.sha))
        else Iterator.empty
      }
      .write.mode("overwrite").parquet(s"$indexDir/docmeta/gen=$gen")
    if (m.hasTermVectors) {
      rewriteWithTombstones[TermVectorRow](spark,
        tvDf.select($"docId", $"term", $"freq", $"positions", $"startOffsets", $"endOffsets")
          .as[TermVectorRow]
          .rdd.map(tv => (((tv.docId / segSize).toInt, "%019d".format(tv.docId)), tv: AnyRef)),
        delRdd, outParts) { (payload, deleted) =>
          val tv = payload.asInstanceOf[TermVectorRow]
          val seg = (tv.docId / segSize).toInt
          val local = (tv.docId - seg.toLong * segSize).toInt
          val shift = deletedAtOrBelow(deleted, local)
          if (shift >= 0)
            Iterator.single(tv.copy(docId = seg.toLong * segSize + (local - shift)))
          else Iterator.empty
        }
        .write.mode("overwrite").parquet(s"$indexDir/termvectors/gen=$gen")
    }
  }

  /** Per-segment stats re-aggregated from a freshly written generation. */
  def recomputeSegStats(spark: SparkSession, indexDir: String, gen: Long)
      : (Map[Int, (Long, Long, Long)], Map[Int, (Long, Long)]) = {
    import org.apache.spark.sql.functions._
    val postAgg = spark.read.parquet(s"$indexDir/postings/gen=$gen")
      .groupBy("segmentId")
      .agg(sum("docFreq").as("sdf"), sum("totalTermFreq").as("sttf"), count(lit(1)).as("tc"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val docAgg = spark.read.parquet(s"$indexDir/docmeta/gen=$gen")
      .groupBy("segmentId")
      .agg(count(lit(1)).as("dc"), sum(when(col("norm") > 0, 1L).otherwise(0L)).as("fdc"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    (postAgg, docAgg)
  }

  /** Corrected SegmentMeta of a rewritten segment (None = every doc of the
    * segment was tombstoned — it leaves the manifest). */
  def correctedMeta(s: SegmentMeta, postAgg: Map[Int, (Long, Long, Long)],
                    docAgg: Map[Int, (Long, Long)], saltTag: String): Option[SegmentMeta] =
    docAgg.get(s.segmentId).map { case (dc, fdc) =>
      val (sdf, sttf, tc) = postAgg.getOrElse(s.segmentId, (0L, 0L, 0L))
      s.copy(docCount = dc, fieldDocCount = fdc, sumTotalTermFreq = sttf,
        sumDocFreq = sdf, termCount = tc, postingCount = sdf,
        lineageSha = IndexBuilder.sha256Hex(s"${s.segmentId}:${s.docBase}:$dc:$sttf:$saltTag"))
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
