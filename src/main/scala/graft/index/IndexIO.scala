package graft.index

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.graft.{JsonCodec, SessionIds}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.search.IndexSearcher

/** Manifest commit/read — the `segments_N` analogue
  * (`core/index/segmentinfos.go:39-46`): the manifest is written last, after
  * all segment parquet is durable, so a reader that finds a manifest sees a
  * complete, consistent generation. Stored as one JSON file,
  * `manifest/v=N/manifest.json`, in the [[Manifest]] encoder's schema, and
  * read and written on the driver through the Hadoop FS: a commit or a
  * reopen starts no Spark job (Spark jobs move only data). The file is
  * coded by one [[JsonCodec]] over the `Manifest` encoder, resolved once:
  * Spark's Jackson generator writes the bytes `to_json(struct(*))` of the
  * manifest's row would, and its parser reads them back, with no Dataset
  * query planned per commit or reopen.
  *
  * Commits are VERSIONED like the reference's `segments_N` files
  * (`core/index/segmentinfos.go:39-46` writes a NEW file then flips, never
  * destroying the prior commit): each commit writes `manifest/v=N` (N = one
  * past the highest existing version) and readers pick the highest version
  * whose `_SUCCESS` marker exists. A crash mid-commit therefore leaves the
  * PREVIOUS manifest fully readable — a delete-then-overwrite scheme would
  * instead have a crash window in which a restarted stream/append sees "no
  * index" and silently rebuilds from one batch (committed-data loss).
  * Superseded versions are pruned after the new commit is durable (the
  * newest two are kept, mirroring the reference's index-deletion policy
  * keeping the last commit point).
  */
object IndexIO {
  def manifestPath(indexDir: String): String = s"$indexDir/manifest"

  // manifest.json is the JSON of a Manifest row in its encoder schema
  private val manifestJson = new JsonCodec(Encoders.product[Manifest])
  // Every parquet tree of an index is written from one of the engine's case
  // classes, so readers pass its schema instead of letting Spark infer it
  // (inference reads footers in a Spark job of its own, on every reopen).
  // Data trees add the `gen` partition column, typed as inference types it.
  private def withGen(data: StructType) = data.add(StructField("gen", IntegerType))
  private[index] val postingsSchema = withGen(Encoders.product[TermPostings].schema)
  private[index] val docmetaSchema = withGen(Encoders.product[DocMeta].schema)
  private[index] val termVectorsSchema = withGen(Encoders.product[TermVectorRow].schema)
  private[index] val deletesSchema = withGen(Encoders.product[DeleteRow].schema)

  private def versionOf(name: String): Option[Long] =
    if (name.startsWith("v=")) name.drop(2).toLongOption else None

  /** Committed manifest versions: (version, path), ascending. */
  private def manifestVersions(spark: SparkSession, dir: String): Seq[(Long, Path)] = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq
      .filter(_.isDirectory)
      .flatMap(st => versionOf(st.getPath.getName).map(_ -> st.getPath))
      .filter { case (_, vp) => f.exists(new Path(vp, "_SUCCESS")) }
      .sortBy(_._1)
  }

  /** The committed manifest of `indexDir` — every lifecycle operation's
    * starting point; throws when there is none. */
  def committed(spark: SparkSession, indexDir: String): Manifest =
    readManifest(spark, indexDir)
      .getOrElse(throw new IllegalStateException(s"no committed index at $indexDir"))

  /** Commit `m` as the index's next manifest, with `postingsBytes` and
    * `docmetaBytes` set to the bytes of its visible generations — the one
    * definition of both for every lifecycle commit. */
  def commit(spark: SparkSession, indexDir: String, m: Manifest): BuiltIndex = {
    def bytes(tree: String) = m.liveGens.map(g => dirBytes(spark, s"$indexDir/$tree/gen=$g")).sum
    val sized = m.copy(postingsBytes = bytes("postings"), docmetaBytes = bytes("docmeta"))
    writeManifest(spark, indexDir, sized)
    new BuiltIndex(indexDir, sized)
  }

  def writeManifest(spark: SparkSession, indexDir: String, m: Manifest): Unit = {
    val dir = manifestPath(indexDir)
    val next = manifestVersions(spark, dir).lastOption.map(_._1).getOrElse(0L) + 1L
    // the marker goes last: a reader never sees a version without its file
    writeText(spark, s"$dir/v=$next/manifest.json", manifestJson.encode(m))
    writeText(spark, s"$dir/v=$next/_SUCCESS", "")
    // prune AFTER the new version is durable: the newest two versions stay
    // (crash-safety margin), everything older goes
    val f = fs(spark, dir)
    manifestVersions(spark, dir).dropRight(2)
      .foreach { case (_, vp) => f.delete(vp, true) }
  }

  private[index] def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  def delete(spark: SparkSession, path: String): Unit =
    fs(spark, path).delete(new Path(path), true)

  /** The trees of an index that hold `gen=N` dirs. */
  private val GenTrees: Seq[String] = Seq("postings", "docmeta", "termvectors", "deletes")

  /** For each of [[GenTrees]], the gen dirs on disk (`onDisk`, by tree)
    * that `m` does not list, split at the tree's counter. */
  def unlisted(m: Manifest, onDisk: Map[String, Seq[Long]]): Seq[Unlisted] = GenTrees.map { tree =>
    val (listed, counter) = if (tree == "deletes") (m.deleteGens, m.deleteGen) else (m.liveGens, m.generation)
    val (above, below) = onDisk.getOrElse(tree, Nil).filterNot(listed.toSet).sorted.partition(_ > counter)
    Unlisted(tree, uncommitted = above, superseded = below)
  }

  /** [[unlisted]] over the gen dirs on disk under `indexDir`, listed
    * through the FS (no parquet is opened: a crashed write leaves exactly
    * the truncated files a parquet read would throw on). */
  def unlisted(spark: SparkSession, indexDir: String, m: Manifest): Seq[Unlisted] = {
    val f = fs(spark, indexDir)
    unlisted(m, GenTrees.map { tree =>
      val p = new Path(s"$indexDir/$tree")
      tree -> (if (!f.exists(p)) Nil else f.listStatus(p).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName).collect { case s"gen=$g" => g.toLongOption }.flatten)
    }.toMap)
  }

  /** Write `rows` as the parquet tree `dir` and return how many it wrote,
    * counted by the writing tasks: Spark applies a result task's
    * accumulator update once, so a re-run map stage cannot count a row
    * twice (the [[SegmentStats]] rule). */
  def writeCounted[T](spark: SparkSession, rows: Dataset[T], dir: String): Long = {
    val n = spark.sparkContext.longAccumulator
    rows.map { r => n.add(1L); r }(rows.encoder).write.mode("overwrite").parquet(dir)
    n.value
  }

  /** Remove staged stage-1 chunks and their fingerprint markers, EXCEPT the
    * given generation's (the current build's staging stays reusable for a
    * same-fingerprint re-build). Called after a successful commit so
    * repeated checkpointed builds into one dir don't accumulate stale
    * generations without bound; pass keepGen = -1 to wipe everything. */
  def deleteStaging(spark: SparkSession, indexDir: String, keepGen: Long = -1L): Unit = {
    val f = fs(spark, indexDir)
    val stagingDir = new Path(s"$indexDir/staging")
    if (f.exists(stagingDir)) {
      f.listStatus(stagingDir).foreach { st =>
        if (st.getPath.getName != s"gen=$keepGen") f.delete(st.getPath, true)
      }
    }
    val dir = new Path(indexDir)
    if (f.exists(dir)) {
      f.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("staging-gen") && n.endsWith(".fp") && n != s"staging-gen$keepGen.fp")
          f.delete(st.getPath, false)
      }
    }
  }

  def writeText(spark: SparkSession, path: String, text: String): Unit = {
    val out = fs(spark, path).create(new Path(path), true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** The file's text, or None when it is absent or unreadable. */
  def readText(spark: SparkSession, path: String): Option[String] =
    try {
      val in = fs(spark, path).open(new Path(path))
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    } catch { case NonFatal(_) => None }

  /** Total on-disk bytes under a path (works on any Hadoop FS, not just
    * local — the bytes-written build metric per the north rule). */
  def dirBytes(spark: SparkSession, path: String): Long = {
    val (f, p) = (fs(spark, path), new Path(path))
    if (!f.exists(p)) 0L else f.getContentSummary(p).getLength
  }

  /** Read the committed manifest, or None: the highest `v=N` version whose
    * `_SUCCESS` marker exists (a crash mid-commit leaves a marker-less
    * partial dir, which readers skip — fail-closed). A manifest file that is
    * absent, malformed, lacks a field (an older layout) or names another
    * codec reads as "no index" too.
    */
  def readManifest(spark: SparkSession, indexDir: String): Option[Manifest] = {
    val dir = manifestPath(indexDir)
    def latest(): Option[String] = manifestVersions(spark, dir).lastOption.map(_._2.toString)
    // a file that is malformed or lacks a field decodes as None
    def readOnce(path: String): Option[Manifest] =
      readText(spark, s"$path/manifest.json").flatMap(manifestJson.decode)
    latest().flatMap { path =>
      readOnce(path).orElse {
        // A concurrent committer may have pruned the version we just listed
        // (writeManifest keeps only the two newest): re-list ONCE — the new
        // head version is visible by then — instead of mapping the transient
        // race straight to "no index" for a committed index.
        latest().filter(_ != path).flatMap(readOnce)
      }
    }.filter { m =>
      // codec gate: a manifest written by a different block codec must read
      // as "no index" (fail closed) rather than let MonotonicBlock.decode
      // chew FOR-encoded bytes into silent garbage
      val ok = m.codecVersion == Manifest.CurrentCodecVersion
      if (!ok) System.err.println(s"[graft] index at $indexDir has codecVersion " +
        s"${m.codecVersion}, this build speaks ${Manifest.CurrentCodecVersion} — treating as no index")
      ok
    }
  }
}

/** A tree's gen dirs on disk that the manifest does not list, so no reader
  * opens them: `uncommitted` above the tree's counter (a crashed or
  * in-flight write) and `superseded` at or below it (a crash between a
  * merge's commit and its reclaim). */
final case class Unlisted(tree: String, uncommitted: Seq[Long], superseded: Seq[Long])

/** Per-segment sums of the rows a write job writes: sumDocFreq,
  * sumTotalTermFreq and term count from its [[TermPostings]] rows, doc count
  * and field doc count from its [[DocMeta]] rows — the field stats Lucene
  * fills in while it writes a segment. The write tasks of a build or a merge
  * feed it row by row, and the driver turns the sums into [[SegmentMeta]]s,
  * so no job re-reads what was just written. Feed it ONLY in code that runs
  * in a write job's result stage: Spark applies a result task's accumulator
  * update once, whereas a re-run map stage would add its rows twice.
  */
private[index] final class SegmentStats
    extends org.apache.spark.util.AccumulatorV2[(Int, Array[Long]), Map[Int, Array[Long]]] {
  // per segment: sumDocFreq, sumTotalTermFreq, terms, docs written,
  // docs written with >= 1 token, docs read (a merge reads deleted docs too)
  private val sums = scala.collection.mutable.HashMap.empty[Int, Array[Long]]
  private def of(seg: Int): Array[Long] = sums.getOrElseUpdate(seg, new Array[Long](6))

  def addPostings(tp: TermPostings): Unit = {
    val a = of(tp.segmentId); a(0) += tp.docFreq; a(1) += tp.totalTermFreq; a(2) += 1
  }
  /** A doc row read by the writing task; `written` = it is in the output. */
  def addDoc(seg: Int, norm: Int, written: Boolean = true): Unit = {
    val a = of(seg)
    if (written) { a(3) += 1; if (norm > 0) a(4) += 1 }
    a(5) += 1
  }

  def isZero: Boolean = sums.isEmpty
  def copy(): SegmentStats = { val c = new SegmentStats; c.merge(this); c }
  def reset(): Unit = sums.clear()
  def add(v: (Int, Array[Long])): Unit = {
    val a = of(v._1)
    for (i <- a.indices) a(i) += v._2(i)
  }
  def merge(other: org.apache.spark.util.AccumulatorV2[(Int, Array[Long]), Map[Int, Array[Long]]]): Unit =
    other.value.foreach(add)
  def value: Map[Int, Array[Long]] = sums.toMap

  /** Docs read per segment that the writing tasks read any doc of. */
  def docsRead: Map[Int, Long] = sums.collect { case (sid, a) if a(5) > 0 => sid -> a(5) }.toMap

  /** The SegmentMeta of every segment with a written doc, ascending. The
    * lineage salt is empty for a build and names the merge otherwise. */
  def metas(segmentSize: Long, lineageSalt: String = ""): Seq[SegmentMeta] =
    sums.toSeq.filter(_._2(3) > 0).sortBy(_._1).map { case (sid, a) =>
      val docBase = sid.toLong * segmentSize
      val salt = if (lineageSalt.isEmpty) "" else s":$lineageSalt"
      SegmentMeta(sid, docBase, docCount = a(3), fieldDocCount = a(4), sumTotalTermFreq = a(1),
        sumDocFreq = a(0), termCount = a(2), postingCount = a(0), bytesWritten = 0L,
        lineageSha = IndexBuilder.sha256Hex(s"$sid:$docBase:${a(3)}:${a(1)}$salt"))
    }
}

/** Handle to a committed index generation. */
final class BuiltIndex(val indexDir: String, val manifest: Manifest) extends Serializable {
  def segmentSize: Long = manifest.segmentSize
  def stats: IndexStats = manifest.stats

  /** First docId of the next empty segment — the id base a caller must use
    * for [[IndexBuilder.append]]ed documents. */
  def nextDocBase: Long = manifest.nextDocBase

  // Per-(session, root) memo of the reader DataFrames: a BuiltIndex's
  // manifest is immutable, so the gen dirs and schema never change for
  // this instance — resolving the DataFrame again on EVERY query is pure
  // driver latency (tens of ms per search at interactive scale). Keyed by
  // the session's UUID so a restarted session re-resolves without the key
  // pinning the old session; a bounded LRU (the stats memo's policy) so
  // session-cycling processes evict only the coldest frame at the bound;
  // @transient so the memo never rides task closures (executors get an
  // empty map they never touch).
  @transient private lazy val readerMemo =
    IndexSearcher.lruCache[(String, String, Seq[Long]), DataFrame](64)

  /** The `gen=N` dirs of `root` for the listed generations `gens`, and no
    * other: an unlisted gen dir left by a crashed write — possibly with
    * truncated/corrupt parquet footers — is never touched, not even for
    * schema inference. `basePath` keeps `gen` as a partition column for
    * callers that group by it. */
  private def readGens(spark: SparkSession, root: String, schema: StructType, gens: Seq[Long]): DataFrame = {
    // the generations are part of the key: for THIS manifest they are
    // constants per root, but a same-root call with other generations
    // must never be served the stale frame
    readerMemo.computeIfAbsent((SessionIds.of(spark), root, gens), _ => {
      require(gens.nonEmpty, s"no generation listed under $root")
      spark.read.option("basePath", root).schema(schema).parquet(gens.map(g => s"$root/gen=$g"): _*)
    })
  }

  /** The data generations readers open ([[Manifest.liveGens]]). */
  def liveGens: Seq[Long] = manifest.liveGens

  /** Posting lists under `postings/gen=N/` (one subdir per committed
    * generation; `gen` is a hive-style partition column). Files are written
    * by the stage-2 shuffle partitioned on (segmentId, term) and sorted by
    * (segmentId, term) within each file, so `filter(col("term") === t)` is
    * answered via parquet row-group min/max stats + dictionary pushdown
    * (the term-dictionary seek).
    *
    * Only the manifest's listed generations are opened: an orphan `gen=K`
    * dir left by a crashed/in-flight append must never leak into a reader
    * opened on the older manifest — the same fail-closed rule
    * [[deleteRows]] applies to tombstones.
    */
  def postings(spark: SparkSession): DataFrame =
    readGens(spark, s"$indexDir/postings", IndexIO.postingsSchema, manifest.liveGens)

  /** (segmentId, docId, norm, sha) — norms + the per-row sha256 invariant.
    * Same committed-generation visibility rule as [[postings]]. */
  def docmeta(spark: SparkSession): DataFrame =
    readGens(spark, s"$indexDir/docmeta", IndexIO.docmetaSchema, manifest.liveGens)

  /** Committed term-vector rows (when built with storeTermVectors) — same
    * gen-visibility rule as [[postings]]. */
  def termVectorsDf(spark: SparkSession): DataFrame =
    readGens(spark, s"$indexDir/termvectors", IndexIO.termVectorsSchema, manifest.liveGens)

  /** Committed tombstones (segmentId, localDoc); empty when the index has
    * no deletes. Only the listed [[Manifest.deleteGens]] are read — an
    * orphan dir from a crashed delete op or a superseded pre-merge dir
    * never leaks into queries. */
  def deleteRows(spark: SparkSession): org.apache.spark.sql.Dataset[DeleteRow] = {
    import spark.implicits._
    if (manifest.deletedCount == 0L) spark.emptyDataset[DeleteRow]
    else readGens(spark, s"$indexDir/deletes", IndexIO.deletesSchema, manifest.deleteGens)
      .select($"segmentId", $"localDoc").as[DeleteRow]
  }
}
