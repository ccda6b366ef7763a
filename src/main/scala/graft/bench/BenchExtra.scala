package graft.bench

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.Bench.{remapToSfVocab, session, timed}
import graft.index.{BuildConfig, IndexBuilder}
import graft.search._

/** Optimization-round measurement harness (guide §1) — SEPARATE from the
  * frozen [[graft.Bench]] driver contract. Three modes via first arg:
  *
  *  - `interactive` (default): the same per-query wall-clock rows as
  *    Bench's interactive section (same warmups, same actions, same index
  *    geometry) so before/after numbers are comparable per query, without
  *    paying for the ~25-minute scaling levels.
  *  - `batch`: the 2M-doc synthetic corpus whole-vocab + selective batches
  *    in THIS JVM at local[8] then local[32], with the engine's per-task
  *    kernel-time accumulator ([[IndexSearcher.KernelNanos]]) summed from
  *    task-end events over each level's batches and printed — the
  *    work-invariant metric VERDICT r5 #1 targets (Σ task kernel time, not
  *    walls).
  *  - `plans`: dump `.explain("formatted")` of the bench-surface queries to
  *    the directory given as second arg (e.g. plans/r06, suffix `_before` /
  *    `_after` as third arg).
  *  - `union`: the cost of a constant-score multi-term union in one
  *    segment's kernel, against ORing the same postings into a bitset
  *    ([[union]]; no Spark session).
  */
object BenchExtra {

  def main(args: Array[String]): Unit = args.headOption.getOrElse("interactive") match {
    case "interactive" => interactive(args.drop(1).headOption.map(_.toInt).getOrElse(2))
    case "batch" => batch()
    case "plans" => plans(args(1), args.lift(2).getOrElse(""))
    case "ab" => ab(args.drop(1).headOption.map(_.toInt).getOrElse(4))
    case "union" => union()
    case other => sys.error(s"unknown mode $other")
  }

  /** One 200 000-doc segment whose 4 096 terms have Zipf document
    * frequencies (df = 20 000 / rank, at least 1; uniform random docs,
    * fixed seed). For the 64 / 256 / 1 024 / 4 096 most frequent terms it
    * times the engine's constant-score union — `ScorerBuilder.build` of a
    * non-scoring `TermInSetQ`, every match iterated — and ORing the same
    * decoded postings into a `java.util.BitSet`, and prints one line per
    * size: `UNION terms=N union_ms=… bitset_ms=… docs=…` (median of 11
    * reps after 10 warm-ups; both counts must agree). Run with
    * `sbt "runMain graft.bench.BenchExtra union"`. */
  private def union(): Unit = {
    val segDocs = 200000
    val rnd = new scala.util.Random(11)
    val cache = graft.bm25.Bm25.buildCache(avgdl = 20.0)
    val readers = (1 to 4096).map { rank =>
      val df = math.max(1, 20000 / rank)
      val bits = new java.util.BitSet(segDocs)
      var n = 0
      while (n < df) { val d = rnd.nextInt(segDocs); if (!bits.get(d)) { bits.set(d); n += 1 } }
      val blocks = IndexBuilder.buildBlocks(bits.stream().toArray, Array.fill(df)(1), Array.fill(df)(10.toByte))
      val term = f"t$rank%04d"
      term -> new TermReader(graft.index.TermPostings(0, term, df, df.toLong, blocks, term.length), cache)
    }
    val ctx = QueryContext(Map.empty, cache, segDocs.toLong)
    def median(f: () => Int): (Double, Int) = {
      var docs = 0
      (1 to 10).foreach(_ => docs = f())
      val ms = (1 to 11).map { _ =>
        val t0 = System.nanoTime(); docs = f(); (System.nanoTime() - t0) / 1e6
      }.sorted
      (ms(5), docs)
    }
    Seq(64, 256, 1024, 4096).foreach { n =>
      val postings = readers.take(n).toMap
      val (unionMs, unionDocs) = median { () =>
        val s = ScorerBuilder.build(TermInSetQ(postings.keySet), postings, segDocs, ctx, 1.0,
          ScoreMode.Matches).get
        var count = 0
        while (s.nextDoc() != DISI.NO_MORE) count += 1
        count
      }
      val (bitsetMs, bitsetDocs) = median { () =>
        val bits = new java.util.BitSet(segDocs)
        postings.values.foreach { rd =>
          rd.blocks.indices.foreach { bi => val ds = rd.docsOf(bi); var i = 0; while (i < ds.length) { bits.set(ds(i)); i += 1 } }
        }
        bits.cardinality()
      }
      require(unionDocs == bitsetDocs, s"union counts $unionDocs docs, the bitset $bitsetDocs")
      println(f"UNION terms=$n union_ms=$unionMs%.3f bitset_ms=$bitsetMs%.3f docs=$unionDocs")
    }
  }

  /** In-window repeats of the two noisiest interactive rows (minhash and
    * the big sorted searchSortBy) so a single dirty window can't masquerade
    * as a regression: all repeats share one JVM and one host window. */
  private def ab(reps: Int): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = session(cpus, shufflePartitions = cpus)
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val mh = (1 to reps).map { _ =>
        timed(graft.pipeline.MinHashLsh.nearDuplicates(spark, docs, "doc_id", "text").count())._2
      }
      println("AB minhash " + mh.map(s => f"$s%.3f").mkString(" "))
      val nDocs = sys.env.getOrElse("GRAFT_BENCH_DOCS", "2000000").toLong
      val sortedBigDir = s"${sys.props("java.io.tmpdir")}/graft-bench-sortedbig3-$nDocs"
      val m = graft.index.IndexIO.readManifest(spark, sortedBigDir)
        .getOrElse(sys.error("sortedbig index missing — run interactive mode once first"))
      val sbig = new IndexSearcher(new graft.index.BuiltIndex(sortedBigDir, m))
      val bigFields = sbig.index.docmeta(spark)
        .select(col("docId").as("doc_id"), col("norm"))
      val hotQ: Query = BoolQ(should = Seq(TermQ("import"), TermQ("def"), TermQ("val")))
      sbig.searchSortBy(spark, hotQ, bigFields,
        Seq(col("norm").desc, col("doc_id").asc), 10).collect() // warm
      val sh = (1 to reps).map { _ =>
        timed(sbig.searchSortBy(spark, hotQ, bigFields,
          Seq(col("norm").desc, col("doc_id").asc), 10).collect())._2
      }
      println("AB sorted_full_hot " + sh.map(s => f"$s%.3f").mkString(" "))
      // components: match kernel alone (non-scoring vs scoring), then the
      // fields join in isolation via a pre-collected tiny frame
      val km = (1 to reps).map { _ => timed(sbig.matchingDocs(spark, hotQ).count())._2 }
      println("AB kernel_matching " + km.map(s => f"$s%.3f").mkString(" "))
      val ks = (1 to reps).map { _ => timed(sbig.scoreAll(spark, hotQ).count())._2 }
      println("AB kernel_scoreall " + ks.map(s => f"$s%.3f").mkString(" "))
      java.nio.file.Files.writeString(java.nio.file.Paths.get("/tmp/sorthot_plan.txt"),
        sbig.searchSortBy(spark, hotQ, bigFields,
          Seq(col("norm").desc, col("doc_id").asc), 10).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    } finally spark.stop()
  }

  /** The Bench interactive section, repeated `reps` times (min reported):
    * the sandbox host wanders ±50%, so min-of-reps is the comparable
    * number. Order and actions mirror Bench.main exactly. */
  private def interactive(reps: Int): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = session(cpus, shufflePartitions = cpus)
    val F = org.apache.spark.sql.functions
    try {
      val docsPath = s"$sfDir/documents.parquet"
      val indexDir = s"${sys.props("java.io.tmpdir")}/graft-bench-sf-${IndexBuilder.sha256Hex(docsPath).take(12)}"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(indexDir))
      val docs = spark.read.parquet(docsPath)
      val (idx, buildSecs) = timed {
        IndexBuilder.build(spark, docs, "doc_id", "text", indexDir,
          BuildConfig(numSegments = 8, chunkDocs = 512))
      }
      System.err.println(f"[extra] interactive build: $buildSecs%.2f s")
      val searcher = new IndexSearcher(idx)
      val interactive: Seq[(String, Query)] = Seq(
        "term_hot" -> TermQ("spark"),
        "term_rare" -> TermQ("dup"),
        "and2" -> BoolQ(must = Seq(TermQ("spark"), TermQ("join"))),
        "or_wand" -> BoolQ(should = Seq(TermQ("dup"), TermQ("vector"))),
        "or_msm2" -> BoolQ(should = Seq(TermQ("spark"), TermQ("data"), TermQ("dup")), minShouldMatch = 2),
        "must_not" -> BoolQ(must = Seq(TermQ("query")), mustNot = Seq(TermQ("dup"))),
        "dismax" -> DisjMaxQ(Seq(TermQ("join"), TermQ("hash")), 0.3))
      searcher.search(spark, TermQ("spark"), 10).collect() // warm-up
      val acc = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      def rec(name: String, secs: Double): Unit =
        acc(name) = math.min(acc.getOrElse(name, Double.MaxValue), secs)
      for (_ <- 1 to reps) {
        interactive.foreach { case (name, q) =>
          val (_, secs) = timed(searcher.search(spark, q, 10).collect())
          rec(name, secs)
        }
        interactive.foreach { case (name, q) =>
          val (_, secs) = timed(searcher.searchLocal(spark, q, 10))
          rec(s"local_$name", secs)
        }
        val sfQueries = SyntheticCorpus.referenceQueries(200).map { case (id, q) =>
          id -> remapToSfVocab(q)
        }
        val (_, batchSecs) = timed(searcher.searchMany(spark, sfQueries, 10).count())
        rec("batch200", batchSecs)
        val (_, mhSecs) = timed(
          graft.pipeline.MinHashLsh.nearDuplicates(spark, docs, "doc_id", "text").count())
        rec("minhash_neardup", mhSecs)
        val (_, shSecs) = timed(
          graft.pipeline.SimHash.nearDuplicates(spark, docs, "doc_id", "text").count())
        rec("simhash_neardup", shSecs)
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val qv = emb.where(col("vec_id") === 0L)
          .select("embedding").collect()(0).getSeq[Float](0).toArray
        val (_, annSecs) = timed(
          graft.pipeline.Ann.bruteForceTopK(spark, emb, "vec_id", "embedding", qv, 10).collect())
        rec("ann_top10", annSecs)
        val mf = SparkEntry.mfSearcher(spark, sfDir)
        val blendedClauses = Seq(("text", "a", 1.0), ("lang", "en", 1.0))
        mf.searchBlendedWand(spark, blendedClauses, 10).collect()
        mf.searchBlended(spark,
          blendedClauses.map { case (f, t, w) => (f, TermQ(t): Query, w) }, 10).collect()
        val (_, blExSecs) = timed(mf.searchBlended(spark,
          blendedClauses.map { case (f, t, w) => (f, TermQ(t): Query, w) }, 10).collect())
        rec("blended_exhaustive", blExSecs)
        val (_, blWandSecs) = timed(mf.searchBlendedWand(spark, blendedClauses, 10).collect())
        rec("blended_wand", blWandSecs)
        val sortedDir = s"${sys.props("java.io.tmpdir")}/graft-bench-sorted-${IndexBuilder.sha256Hex(docsPath).take(12)}"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(sortedDir))
        val sortedIdx = IndexBuilder.buildSorted(spark, docs,
          Seq(col("n_chars").desc, col("doc_id").asc),
          "text", sortedDir,
          BuildConfig(numSegments = 8, chunkDocs = 512, storeTermVectors = true))
        val ss = new IndexSearcher(sortedIdx)
        ss.facetTopTerms(spark, TermQ("dup"), 10).collect() // warm
        val (_, facetSecs) = timed(ss.facetTopTerms(spark, TermQ("dup"), 10).collect())
        rec("facet_selective", facetSecs)
        ss.searchSortedTopK(spark, TermQ("spark"), 10).collect() // warm
        val (_, seSecs) = timed(ss.searchSortedTopK(spark, TermQ("spark"), 10).collect())
        rec("sorted_early_topk", seSecs)
        val (_, sfSecs) = timed(
          ss.matchingDocs(spark, TermQ("spark")).orderBy("docId").limit(10).collect())
        rec("sorted_full_scan", sfSecs)
        // the at-scale sorted pair over the 2M corpus (reused, fingerprint-gated)
        val nDocs = sys.env.getOrElse("GRAFT_BENCH_DOCS", "2000000").toLong
        val corpusPath = SyntheticCorpus.ensureParquet(spark, nDocs, files = 64,
          dir = sys.props("java.io.tmpdir"))
        val bigDocs = spark.read.parquet(corpusPath)
        val sortedBigDir = s"${sys.props("java.io.tmpdir")}/graft-bench-sortedbig3-$nDocs"
        val bigSortCols = Seq(
          F.when(F.col("content") === "", F.lit(0))
            .otherwise(F.size(F.split(F.col("content"), " "))).desc,
          F.col("doc_id").asc)
        val bigSortSig = bigSortCols.map(_.toString).mkString(", ")
        val bigFp = IndexBuilder.indexFingerprint(corpusPath, nDocs)
        val sortedBig = graft.index.IndexIO.readManifest(spark, sortedBigDir) match {
          case Some(m) if m.indexSort == bigSortSig && m.corpusSha == bigFp =>
            new graft.index.BuiltIndex(sortedBigDir, m)
          case _ =>
            IndexBuilder.buildSorted(spark, bigDocs, bigSortCols,
              "content", sortedBigDir,
              BuildConfig(numSegments = 64, chunkDocs = 1024, outputPartitions = Some(cpus)),
              inputPath = corpusPath)
        }
        val sbig = new IndexSearcher(sortedBig)
        val hotQ: Query = BoolQ(should = Seq(TermQ("import"), TermQ("def"), TermQ("val")))
        val bigFields = sortedBig.docmeta(spark)
          .select(col("docId").as("doc_id"), col("norm"))
        sbig.searchSortedTopK(spark, hotQ, 10).collect() // warm
        sbig.searchSortBy(spark, hotQ, bigFields,
          Seq(col("norm").desc, col("doc_id").asc), 10).collect() // warm
        val (seHotRows, seHotSecs) = timed(sbig.searchSortedTopK(spark, hotQ, 10).collect())
        val (sfHotRows, sfHotSecs) = timed(sbig.searchSortBy(spark, hotQ, bigFields,
          Seq(col("norm").desc, col("doc_id").asc), 10).collect())
        val seIds = seHotRows.map(_.docId).toSeq
        val sfIds = sfHotRows.map(r => r.getLong(r.fieldIndex("doc_id"))).toSeq
        require(seIds == sfIds,
          s"sorted early-termination rank identity broken: early=$seIds full=$sfIds")
        rec("sorted_early_hot", seHotSecs)
        rec("sorted_full_hot", sfHotSecs)
      }
      val json = acc.map { case (n, s) => s""""$n":${"%.4f".format(s)}""" }.mkString("{", ",", "}")
      println(s"""{"metric":"benchextra_interactive_min_of_$reps","queries":$json}""")
    } finally spark.stop()
  }

  /** Whole-vocab + selective batch with kernel attribution, at local[8]
    * then local[32] in this JVM (the second level inherits JIT warmth;
    * methodology constant across before/after, and the headline metric —
    * Σ task kernel nanos — is work-invariant). */
  private def batch(): Unit = {
    val nDocs = sys.env.getOrElse("GRAFT_BENCH_DOCS", "2000000").toLong
    val nQueries = sys.env.getOrElse("GRAFT_BENCH_QUERIES", "4000").toInt
    val nSel = sys.env.getOrElse("GRAFT_BENCH_QUERIES_SEL", "40000").toInt
    val gen = session(32, 64)
    val corpusPath =
      try SyntheticCorpus.ensureParquet(gen, nDocs, files = 64, dir = sys.props("java.io.tmpdir"))
      finally gen.stop()
    val shm = "/dev/shm/graft-benchextra"
    new java.io.File(shm).mkdirs()
    for (cpus <- Seq(8, 32)) {
      val shuffleParts = math.max(64, 4 * cpus)
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(s"graft-benchextra-batch-$cpus")
        .config("spark.sql.shuffle.partitions", shuffleParts.toString)
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.local.dir", s"$shm/spark-n$cpus")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val kernelNanos = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          e.taskInfo.accumulables.foreach { ai =>
            if (ai.name.contains(IndexSearcher.KernelNanos)) ai.update.foreach {
              case v: java.lang.Long => kernelNanos.addAndGet(v)
              case _ =>
            }
          }
      })
      val line = try {
        val cfg = BuildConfig(numSegments = 64, outputPartitions = Some(shuffleParts), chunkDocs = 1024)
        val docs = spark.read.parquet(corpusPath)
        val indexDir = s"$shm/idx-n$cpus"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(indexDir))
        val (idx, buildSecs) = timed {
          IndexBuilder.build(spark, docs, "doc_id", "content", indexDir, cfg)
        }
        val searcher = new IndexSearcher(idx)
        val queries = SyntheticCorpus.referenceQueries(nQueries)
        searcher.searchMany(spark, queries.take(300), 10).count() // warm
        val walls = (1 to 2).map { _ =>
          timed(searcher.searchMany(spark, queries, 10).collect())._2
        }
        val selQueries = SyntheticCorpus.selectiveQueries(nSel)
        val (_, selSecs) = timed(searcher.searchMany(spark, selQueries, 10).collect())
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(indexDir))
        f"EXTRABATCH cpus=$cpus build=$buildSecs%.2f " +
          f"batch=${walls.min}%.2f batch2=${walls.max}%.2f sel=$selSecs%.2f"
      } finally spark.stop()
      // stop() drains the listener bus: every task-end event is counted
      println(f"$line taskKernelSum=${kernelNanos.get / 1e9}%.2f")
    }
  }

  /** Dump `.explain("formatted")` plans of the bench-surface queries. */
  private def plans(outDir: String, suffix: String): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val spark = session(cpus, shufflePartitions = cpus)
    try {
      def dump(name: String, df: org.apache.spark.sql.Dataset[_]): Unit = {
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"$name$suffix.txt"), plan)
        System.err.println(s"[plans] wrote $name$suffix")
      }
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val s = SparkEntry.searcher(spark, sfDir)
      dump("term_hot_search", s.search(spark, TermQ("spark"), 10))
      dump("sort_by_field_q21", s.searchSortBy(spark, TermQ("dup"),
        docs.select("doc_id", "n_chars"),
        Seq(col("n_chars").desc, col("doc_id").asc), 10))
      dump("minhash_neardup",
        graft.pipeline.MinHashLsh.nearDuplicates(spark, docs, "doc_id", "text"))
      dump("simhash_neardup",
        graft.pipeline.SimHash.nearDuplicates(spark, docs, "doc_id", "text"))
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val qv = emb.where(col("vec_id") === 0L)
        .select("embedding").collect()(0).getSeq[Float](0).toArray
      dump("ann_top10",
        graft.pipeline.Ann.bruteForceTopK(spark, emb, "vec_id", "embedding", qv, 10))
    } finally spark.stop()
  }
}
