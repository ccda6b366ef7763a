package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.codec.ForBlock
import graft.index.{IndexBuilder, IndexIO, TermPostings}

/** Index integrity checker (the `core/index/checkindex.go:9-41` analogue,
  * extended to the invariants our format actually carries). Distributed —
  * every check is a Spark job over the segment parquet; the driver sees only
  * violation counts.
  *
  * Checks:
  *  1. manifest vs data: per-segment docCount / sumDocFreq / sumTotalTermFreq
  *     re-aggregated from parquet equal the committed manifest.
  *  2. postings: per (segment, term) the decoded docIds are strictly
  *     ascending across blocks, block maxDoc equals its last docId,
  *     Σcount == docFreq, Σfreqs == totalTermFreq, freqs >= 1.
  *  3. docmeta: docIds unique and within the segment's [docBase,
  *     docBase+segmentSize) range.
  *  4. (optional, with input args) per-row sha256(content) equality against
  *     the source table — the BASELINE.json input_hint invariant.
  *
  *  5. tombstones: every committed DeleteRow addresses an existing segment
  *     and a local docId within its range; distinct tombstone count equals
  *     the manifest's deletedCount (the O(1) MatchAll count depends on it).
  *
  * All reads go through the committed-generation view (BuiltIndex) — a
  * gen dir the manifest does not list (an uncommitted write, or a
  * superseded generation a crash kept from its reclaim) is reported as a
  * warning, not a violation (readers never open it; a retry or the next
  * merge reclaims it).
  *
  * args: <indexDir> [inputParquet idCol contentCol]
  * exit 0 = clean, 1 = violations, 2 = no committed index.
  */
object CheckIndex {
  def main(args: Array[String]): Unit = {
    val indexDir = args(0)
    val spark = CliSpark.session("graft-checkindex")
    import spark.implicits._

    val manifest = IndexIO.readManifest(spark, indexDir).getOrElse {
      System.err.println(s"[graft] no committed index at $indexDir"); sys.exit(2)
    }
    val idx = new graft.index.BuiltIndex(indexDir, manifest)
    var bad = 0L

    // ---- 0. gen dirs the manifest does not list — warning only ---------
    // Listed via the FileSystem API, NOT a parquet read: a crashed write
    // leaves exactly the kind of truncated/corrupt files that would make
    // `spark.read.parquet` throw and abort the remaining checks.
    IndexIO.unlisted(spark, indexDir, manifest).foreach { u =>
      if (u.uncommitted.nonEmpty)
        println(s"[graft] WARNING: ${u.tree}: uncommitted generations ${u.uncommitted.mkString(",")} (invisible to readers; overwritten on retry)")
      if (u.superseded.nonEmpty)
        println(s"[graft] WARNING: ${u.tree}: superseded generations ${u.superseded.mkString(",")} still on disk (invisible to readers; reclaimable)")
    }
    // derived fuzzy-ngram sidecars are keyed by the FULL version name
    // (v=<gen>_n<N>_c<codec> — the key buildOrLoad matches on): anything
    // else is never served. A version of a still-LIVE older generation may
    // be serving a concurrent reader (buildOrLoad reaps only dead
    // generations); dead-generation or wrong-width/codec versions are
    // garbage. The current dir without _SUCCESS is an incomplete build.
    locally {
      val p = new org.apache.hadoop.fs.Path(s"$indexDir/fuzzy_ngrams")
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (f.exists(p)) {
        val vers = f.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
        val current = graft.search.FuzzyNgrams.currentVersionName(manifest)
        val (live, dead) = vers.filterNot(_ == current).partition { v =>
          v match {
            case graft.search.FuzzyNgrams.VersionRe(g) =>
              val gen = g.toLong
              // live = could serve a concurrent reader: a live generation
              // AND the exact name this engine writes for it (a wrong
              // gram-width/codec suffix is never matched by buildOrLoad)
              manifest.liveGens.contains(gen) &&
                v == s"v=${gen}_n${graft.search.FuzzyNgrams.N}_c${manifest.codecVersion}"
            case _ => false
          }
        }
        if (dead.nonEmpty)
          println(s"[graft] WARNING: dead fuzzy-ngram sidecar versions ${dead.mkString(",")} (dead generation or wrong gram-width/codec; never served — reclaimable)")
        if (live.nonEmpty)
          println(s"[graft] NOTE: superseded fuzzy-ngram sidecar versions ${live.mkString(",")} of still-live generations (kept for concurrent readers; reclaimed once a merge retires their generation)")
        vers.filter(_ == current).foreach { v =>
          if (!f.exists(new org.apache.hadoop.fs.Path(p, s"$v/_SUCCESS")))
            println(s"[graft] WARNING: fuzzy-ngram sidecar $v has no _SUCCESS (incomplete build; will be rebuilt on next use)")
        }
      }
    }

    // ---- 2. posting-list structural invariants -------------------------
    val hasPositions = manifest.hasPositions
    val hasOffsets = manifest.hasOffsets
    val hasPayloads = manifest.hasPayloads
    val postingErrs = idx.postings(spark).as[TermPostings]
      .mapPartitions { it =>
        var errs = 0L
        it.foreach { tp =>
          var prev = -1
          var n = 0
          var ttf = 0L
          // termLen column = code-point length of the term (the fuzzy
          // length-window pushdown depends on it being exact)
          if (tp.termLen != tp.term.codePointCount(0, tp.term.length)) errs += 1
          tp.blocks.foreach { b =>
            val docs = graft.codec.MonotonicBlock.decode(b.docBytes)
            val freqs = ForBlock.decode(b.freqBytes)
            if (docs.length != b.count || freqs.length != b.count || b.norms.length != b.count) errs += 1
            if (docs.nonEmpty && docs.last.toInt != b.maxDoc) errs += 1
            docs.foreach { d => if (d.toInt <= prev) errs += 1; prev = d.toInt }
            freqs.foreach { f => if (f < 1) errs += 1; ttf += f }
            n += b.count
            // positions stream (when declared): per posting exactly freq
            // strictly-ascending non-negative positions, stream fully consumed
            if (hasPositions) {
              if (b.posBytes == null) errs += 1
              else {
                // stream = per posting: freq deltas (first absolute >= 0,
                // gaps >= 1 => strictly ascending), fully consumed at the end
                var p = 0
                var i = 0
                var bad = false
                while (i < freqs.length && !bad) {
                  var k = 0
                  while (k < freqs(i).toInt && !bad) {
                    try {
                      val (d, p2) = graft.codec.Varint.readUvarint(b.posBytes, p)
                      if (k > 0 && d == 0L) bad = true // equal positions
                      p = p2
                    } catch { case _: ArrayIndexOutOfBoundsException => bad = true }
                    k += 1
                  }
                  i += 1
                }
                if (bad || p != b.posBytes.length) errs += 1
              }
            }
            // offsets stream (when declared): per occurrence a start delta
            // (strictly ascending after the first) + length >= 1; fully
            // consumed at the end
            if (hasOffsets) {
              if (b.offBytes == null) errs += 1
              else {
                var p = 0
                var i = 0
                var bad = false
                while (i < freqs.length && !bad) {
                  var k = 0
                  while (k < freqs(i).toInt && !bad) {
                    try {
                      val (ds, p1) = graft.codec.Varint.readUvarint(b.offBytes, p)
                      val (len, p2) = graft.codec.Varint.readUvarint(b.offBytes, p1)
                      if (k > 0 && ds == 0L) bad = true // equal start offsets
                      if (len == 0L) bad = true          // empty token
                      p = p2
                    } catch { case _: ArrayIndexOutOfBoundsException => bad = true }
                    k += 1
                  }
                  i += 1
                }
                if (bad || p != b.offBytes.length) errs += 1
              }
            }
            // payload stream (when declared): per occurrence varint(len) +
            // len raw bytes, in-bounds, stream fully consumed at the end
            if (hasPayloads) {
              if (b.payBytes == null) errs += 1
              else {
                var p = 0
                var i = 0
                var bad = false
                while (i < freqs.length && !bad) {
                  var k = 0
                  while (k < freqs(i).toInt && !bad) {
                    try {
                      val (len, p1) = graft.codec.Varint.readUvarint(b.payBytes, p)
                      if (p1 + len.toInt > b.payBytes.length) bad = true // truncated payload
                      p = p1 + len.toInt
                    } catch { case _: ArrayIndexOutOfBoundsException => bad = true }
                    k += 1
                  }
                  i += 1
                }
                if (bad || p != b.payBytes.length) errs += 1
              }
            }
          }
          if (n != tp.docFreq) errs += 1
          if (ttf != tp.totalTermFreq) errs += 1
        }
        Iterator.single(errs)
      }.reduce(_ + _)
    bad += postingErrs
    println(s"[graft] postings structural violations: $postingErrs" +
      (if (hasPositions) " (incl. positions-stream checks)" else "") +
      (if (hasPayloads) " (incl. payload-stream checks)" else ""))

    // ---- 1. manifest vs re-aggregated stats ----------------------------
    val postAgg = idx.postings(spark)
      .groupBy("segmentId").agg(sum("docFreq").as("sdf"), sum("totalTermFreq").as("sttf"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val docAgg = idx.docmeta(spark)
      .groupBy("segmentId").agg(count(lit(1)).as("dc"), countDistinct("docId").as("dcd"),
        min("docId").as("lo"), max("docId").as("hi"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    manifest.segments.foreach { s =>
      val (sdf, sttf) = postAgg.getOrElse(s.segmentId, (0L, 0L))
      val (dc, dcd, lo, hi) = docAgg.getOrElse(s.segmentId, (0L, 0L, 0L, -1L))
      def err(msg: String): Unit = { bad += 1; println(s"[graft] segment ${s.segmentId}: $msg") }
      if (sdf != s.sumDocFreq) err(s"sumDocFreq $sdf != manifest ${s.sumDocFreq}")
      if (sttf != s.sumTotalTermFreq) err(s"sumTotalTermFreq $sttf != manifest ${s.sumTotalTermFreq}")
      if (dc != s.docCount) err(s"docCount $dc != manifest ${s.docCount}")
      if (dcd != dc) err(s"docIds not unique ($dcd distinct of $dc)")
      if (dc > 0 && (lo < s.docBase || hi >= s.docBase + manifest.segmentSize))
        err(s"docId range [$lo,$hi] outside segment [${s.docBase},${s.docBase + manifest.segmentSize})")
      // density: locals must be exactly 0..dc-1 (MatchAllDocs iterates this
      // range; the builder contract requires dense input ids)
      if (dc > 0 && (lo != s.docBase || hi != s.docBase + dc - 1))
        err(s"docIds not dense: [$lo,$hi] != [${s.docBase},${s.docBase + dc - 1}]")
    }

    // ---- 5. tombstone invariants ----------------------------------------
    if (manifest.deletedCount > 0L) {
      val segIds = manifest.segments.map(_.segmentId).toSet
      val dels = idx.deleteRows(spark).persist()
      val n = dels.count()
      val distinctN = dels.distinct().count()
      val outOfRange = dels.filter(d =>
        !segIds.contains(d.segmentId) || d.localDoc < 0 ||
          d.localDoc >= manifest.segmentSize).count()
      if (distinctN != manifest.deletedCount) {
        bad += 1
        println(s"[graft] tombstones: distinct $distinctN != manifest deletedCount ${manifest.deletedCount}")
      }
      if (n != distinctN) { bad += 1; println(s"[graft] tombstones: $n rows, $distinctN distinct (dups)") }
      if (outOfRange > 0) { bad += outOfRange; println(s"[graft] tombstones out of segment range: $outOfRange") }
      dels.unpersist(blocking = false)
      println(s"[graft] tombstones checked: $n (deleteGen=${manifest.deleteGen})")
    }

    // ---- 4. optional sha256 invariant against the source ---------------
    if (args.length >= 4) {
      val (input, idCol, contentCol) = (args(1), args(2), args(3))
      val src = spark.read.parquet(input)
        .select(col(idCol).cast("long").as("docId"), col(contentCol).cast("string").as("content"))
        .as[(Long, String)]
        .map { case (id, c) => (id, IndexBuilder.sha256Hex(if (c == null) "" else c)) }
        .toDF("docId", "srcSha")
      val mismatches = idx.docmeta(spark)
        .join(src, "docId")
        .where(col("sha") =!= col("srcSha"))
        .count()
      bad += mismatches
      println(s"[graft] sha256 invariant mismatches vs $input: $mismatches")
    }

    println(s"[graft] checkindex ${if (bad == 0) "CLEAN" else s"FAILED ($bad violations)"}: " +
      s"gen=${manifest.generation} segments=${manifest.segments.size} docs=${manifest.stats.docCount} " +
      s"postingsBytes=${manifest.postingsBytes} docmetaBytes=${manifest.docmetaBytes}")
    spark.stop()
    if (bad != 0) sys.exit(1)
  }
}
