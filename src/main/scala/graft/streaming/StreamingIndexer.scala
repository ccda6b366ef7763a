package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.index.{BuildConfig, IndexBuilder, IndexIO}

/** Structured-Streaming ingestion: a stream of documents becomes a live,
  * queryable inverted index. Each micro-batch commits as ONE new index
  * generation (new segments + manifest bump — the Lucene
  * AddDocument+Commit/NRT-reopen cadence mapped onto `foreachBatch`); a
  * searcher re-reading the manifest sees every completed batch atomically.
  *
  * Exactly-once: Structured Streaming replays a failed micro-batch with
  * the SAME batchId; the index manifest records the highest committed
  * batchId (`lastStreamBatch`), and [[indexBatch]] skips batches at or
  * below it. The manifest write is the single atomic commit point, so a
  * crash anywhere re-runs the batch idempotently (partial segment data of
  * an uncommitted generation is invisible to readers and overwritten on
  * retry — the same fail-closed story as IndexOps deletes).
  *
  * Scale: each micro-batch build is the normal distributed two-stage build
  * over just the batch's rows; segment geometry is fixed by the FIRST
  * batch, and subsequent batches append whole segments (docIds assigned
  * from `nextDocBase`), so a day of micro-batches is structurally
  * identical to a day of bulk appends.
  *
  * The four Spark jobs of one micro-batch (`CommitPathSpec` pins the count):
  *  - [[IndexBuilder.assignDenseIds]]: the range partitioning's sample job,
  *    then one job that shuffles the batch into its range partitions and
  *    counts each one's rows. The counts fix the batch's ids
  *    `base until base + n`, so nothing counts the rows again: an empty
  *    batch returns here, and the build takes its geometry
  *    (n, base, base + n - 1) as given.
  *  - the build: the docmeta write (its first stage runs stage 1's
  *    inversion) and the postings write (its first stage is the stage-2
  *    shuffle) — plus the term-vector write when the index stores them.
  * Reading the manifest before and committing it after start no job.
  */
object StreamingIndexer {

  /** Index one micro-batch (idempotent on batchId).
    *
    * @param orderCol  column that orders rows WITHIN the batch for docId
    *                  assignment (ids = next segment base + rank); pass a
    *                  unique column (e.g. an event id) for deterministic
    *                  assignment under replay
    */
  def indexBatch(spark: SparkSession, batch: DataFrame, orderCol: String,
                 contentCol: String, indexDir: String, cfg: BuildConfig,
                 batchId: Long): Unit = {
    val prev = IndexIO.readManifest(spark, indexDir)
    if (prev.exists(_.lastStreamBatch >= batchId)) return // replayed batch
    val base = prev.map(_.nextDocBase).getOrElse(0L)
    // rank within the batch -> dense ids at the next segment boundary,
    // DISTRIBUTED via the shared assignDenseIds (a Window.orderBy with no
    // partitionBy would pull the whole micro-batch into ONE task — a burst
    // batch would serialize on, and could OOM, a single executor)
    val ids = IndexBuilder.assignDenseIds(spark, batch, Seq(col(orderCol)), base)
    if (ids.count == 0L) return // an empty batch commits nothing
    // Fail-closed guard: index data present but no readable manifest means a
    // commit was interrupted at the worst possible point, the manifest was
    // written in an older format, or the dir is foreign. A full build here
    // would WIPE the existing postings/docmeta — silent loss of previously
    // committed stream batches. Refuse; a human (or CheckIndex) decides
    // whether to rebuild.
    if (prev.isEmpty &&
        (IndexIO.exists(spark, s"$indexDir/postings") || IndexIO.exists(spark, s"$indexDir/docmeta")))
      throw new IllegalStateException(
        s"$indexDir contains index data but no readable committed manifest (an interrupted " +
          "commit, a manifest written in an older format, or a foreign dir) — refusing a " +
          "wiping rebuild from one micro-batch; inspect/rebuild explicitly")
    // a build for the first batch, else an append onto the manifest read above
    IndexBuilder.buildInternal(spark, ids.df, "__doc_id", contentCol, indexDir, cfg,
      inputPath = "", prev, streamBatch = batchId, geometry = Some(ids.geometry))
    ()
  }

  /** Start continuous indexing of a streaming DataFrame. */
  def start(spark: SparkSession, stream: DataFrame, orderCol: String,
            contentCol: String, indexDir: String, checkpointDir: String,
            cfg: BuildConfig = BuildConfig(),
            trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery = {
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        indexBatch(spark, batch.toDF(), orderCol, contentCol, indexDir, cfg, batchId)
      }
      .start()
  }
}
