package perfbench

import java.lang.Double.doubleToRawLongBits

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.analysis.Analyzer
import graft.codec.{ForBlock, MonotonicBlock}
import graft.index._
import graft.search._
import graft.streaming.StreamingIndexer

/** Work sizes. Every count is fixed; `--seconds` scales only the timed op
  * counts (linearly, from the 20-second nominal), never a time box. */
object Sizes {
  val K = 10
  val Builds = 3 // set-up (or the timed build, on ingest) runs this many times; medians are reported
  val BuildCfg = BuildConfig(numSegments = 4, chunkDocs = 1024)

  val QueryDocs = 8000
  val InteractiveWarm = 6 // whole cycles of the log's 6 shapes, so both paths get the same count
  val InteractiveOps = 24
  val WarmChunk = 3
  val BatchQueries = 10000 // one rep lasts about 1.7 s on 4 cores
  val BatchWarmReps = 1
  val BatchReps = 3

  val IngestWarmDocs = 600
  val IngestBaseDocs = 1500
  val IngestBatchDocs = 512
  val IngestAppendDocs = 4 * IngestBatchDocs

  val OracleChecks = 3 // ops per op kind checked against the exhaustive oracle
  val AnalyzerSampleDocs = 2000
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val a = Args(kv.getOrElse("workload", "selftest"), kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("seconds", "20").toInt, kv.getOrElse("trace", "0") == "1", kv("work"))
    val out = kv("out")
    val json =
      if (a.workload == "selftest") SelfTest.run(a)
      else new Run(a).execute()
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.println(json) finally w.close()
  }
}

final case class M(value: Double, unit: String, samples: Int)

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.length - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** (score desc, docId asc): the engine's documented hit order. */
  def before(x: ScoredDoc, y: ScoredDoc): Boolean = {
    val c = java.lang.Double.compare(y.score, x.score)
    if (c != 0) c < 0 else x.docId < y.docId
  }
  /** Bit-identical comparison of two top-k lists. */
  def same(got: Seq[ScoredDoc], want: Seq[ScoredDoc]): Boolean =
    got.length == want.length && got.zip(want).forall { case (g, w) =>
      g.docId == w.docId && doubleToRawLongBits(g.score) == doubleToRawLongBits(w.score)
    }
}

/** One benchmark run: a workload at a seed, traced or not. */
final class Run(a: Args) {
  import Stats._

  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName(s"perfbench-${a.workload}")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"${a.work}/spark-local")
    .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  /** JVM start to a ready session. */
  val sessionS: Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  private val cpu0 = Diag.cpuTimes()
  private val hostLoop0 = Diag.hostLoopMs()
  val tr = new Tracer(spark.sparkContext)
  if (a.trace) tr.start()
  val metrics = mutable.LinkedHashMap.empty[String, M]
  val diag = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  private var oracleSelfTested = false
  private var dirSeq = 0

  def put(name: String, v: Double, unit: String, n: Int = 1): Unit = metrics(name) = M(v, unit, n)

  /** Live memory, sampled at fixed points outside every timed interval:
    * heap in use right after a full collection plus non-heap in use. */
  private val liveMb = mutable.ArrayBuffer.empty[Double]
  def liveCheckpoint(): Unit = liveMb += Diag.liveMb()
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  def freshDir(tag: String): String = { dirSeq += 1; s"${a.work}/idx/$tag-$dirSeq" }

  /** One attempted engine op, timed; an exception counts it as failed. */
  def op[T](name: String)(body: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tr.span(name)(body)
      Some((r, ms(t0)))
    } catch {
      case NonFatal(e) =>
        failed += 1
        log(s"op $name failed: $e")
        None
    }
  }

  /** Record the verdict of a completed op's checks (once per op). */
  def verdict(ok: Boolean, what: => String): Unit = if (!ok) { failed += 1; log(s"check failed: $what") }

  def oracle(s: IndexSearcher, q: Query): Array[ScoredDoc] =
    tr.span("check")(s.scoreAll(spark, q).collect().sortWith(before).take(Sizes.K))

  /** Compare `got` with the exhaustive oracle; the first comparison of the
    * run also proves the comparison rejects a one-ulp score change and a
    * docId swap. */
  def matchesOracle(s: IndexSearcher, q: Query, got: Seq[ScoredDoc]): Boolean = {
    val want = oracle(s, q)
    if (!oracleSelfTested && want.length >= 2 && want(0).docId != want(1).docId) {
      oracleSelfTested = true
      val ulp = want.updated(0, want(0).copy(score = Math.nextUp(want(0).score)))
      val swapped = want.updated(0, want(1).copy(score = want(0).score)).updated(1, want(0).copy(score = want(1).score))
      if (same(ulp, want) || same(swapped, want)) { log("oracle comparison accepted a perturbed result"); return false }
    }
    same(got, want)
  }

  /** The seeded sample of `Sizes.OracleChecks` op indices out of `n`. */
  def oracleSample(n: Int): Set[Int] =
    new scala.util.Random(a.seed ^ 0x0AC1EL).shuffle((0 until n).toVector).take(Sizes.OracleChecks).toSet

  def scaled(n: Int): Int = math.max(1, math.round(n * a.seconds / 20.0).toInt)

  def corpusDf(c: Gen.Corpus): DataFrame = {
    import spark.implicits._
    c.docs.toSeq.map(d => (d.id, d.text)).toDF("doc_id", "text")
  }

  // ---- shared pieces -------------------------------------------------------

  final case class Opened(idx: BuiltIndex, searcher: IndexSearcher, first: Array[ScoredDoc], ms: Double)

  /** Reopen a committed index and run one query — what a reader pays to
    * see a new commit. */
  def open(dir: String, probe: Query): (BuiltIndex, IndexSearcher, Array[ScoredDoc]) = {
    val m = tr.span("index.manifest_read")(IndexIO.readManifest(spark, dir).get)
    val idx = new BuiltIndex(dir, m)
    val s = new IndexSearcher(idx)
    (idx, s, tr.span("search.first_query")(s.search(spark, probe, Sizes.K).collect()))
  }

  def freshRead(dir: String, probe: Query): Option[Opened] =
    op("fresh_read")(open(dir, probe)).map { case ((idx, s, hits), t) => Opened(idx, s, hits, t) }

  final case class Built(dir: String, buildS: Double, phases: Map[String, Double], opened: Opened)

  /** Build the corpus `Sizes.Builds` times into fresh directories, each
    * followed by a fresh read. */
  def builds(c: Gen.Corpus, cfg: BuildConfig, probe: Query): Seq[Built] = {
    val df = corpusDf(c)
    (1 to Sizes.Builds).flatMap { _ =>
      val dir = freshDir("build")
      for {
        (_, t) <- op("build")(IndexBuilder.build(spark, df, "doc_id", "text", dir, cfg))
        phases = IndexBuilder.lastPhases.toMap
        o <- freshRead(dir, probe)
      } yield Built(dir, t / 1e3, phases, o)
    }
  }

  def reportBuilds(bs: Seq[Built], docs: Int, inputBytes: Long): Unit = {
    val walls = bs.map(_.buildS)
    layer("build.docs_per_s", docs / median(walls), "1/s", walls.size)
    diag("build_s") = walls.map(w => f"$w%.3f").mkString("[", ",", "]")
    for ((key, name) <- Seq("geometry" -> "geometry", "stage1+docmeta" -> "stage1",
      "stage2-merge" -> "stage2_merge", "stats" -> "stats", "manifest" -> "manifest"))
      layer(s"build.${name}_s", median(bs.flatMap(_.phases.get(key))), "s")
    if (bs.nonEmpty) {
      val bytes = IndexIO.dirBytes(spark, bs.last.dir).toDouble
      put("index_bytes_per_input_byte", bytes / inputBytes, "B/B")
      layer("index.bytes_written_per_input_byte", bytes / inputBytes, "B/B")
    }
  }

  /** Per-layer metrics are only emitted by the traced run. */
  private val layers = mutable.LinkedHashMap.empty[String, M]
  def layer(name: String, v: Double, unit: String, n: Int = 1): Unit = layers(name) = M(v, unit, n)

  /** Tokens per second of the analyzer over a fixed document sample, one thread. */
  def analyzerRate(c: Gen.Corpus): Unit = {
    val sample = c.docs.take(Sizes.AnalyzerSampleDocs).map(_.text)
    var tokens = 0L
    val rates = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      tokens = 0L
      sample.foreach(t => tokens += Analyzer.standard.termFreqCounts(t)._2)
      tokens / ((System.nanoTime() - t0) / 1e9)
    }
    layer("analysis.tokens_per_s", median(rates), "1/s", rates.size)
  }

  // ---- decomposed replay (traced runs) ------------------------------------

  final class Replay {
    private var memoOf: IndexSearcher = null
    val seen = mutable.HashSet.empty[String]
    var queries = 0L
    var memoHits = 0L
    var memoTerms = 0L
    var scanRows = 0L
    var scanBytes = 0L
    var postingsTouched = 0L
    var hits = 0L
    var decodeNs = 0L
    var decoded = 0L
    var bytesPerPosting = Double.NaN
    val blocksPerRow = mutable.ArrayBuffer.empty[Double]

    /** Keep a replay searcher's stats memo in step with the searcher under test. */
    def warm(searcher: IndexSearcher, q: Query): Unit = {
      if (!(searcher eq memoOf)) { memoOf = searcher; seen.clear() }
      val r = searcher.rewrite(spark, q); searcher.queryContext(spark, r); seen ++= r.terms
    }

    /** rewrite → term stats → posting scan → segment kernel → take-k, each
      * a public call under its own span, for a batch of queries on `searcher`
      * (which must not be the searcher under test: its stats memo would
      * change). Each replayed top-k must equal the engine's answer `engine(i)`
      * to query `i`, or the decomposition has drifted from the engine. */
    def run(searcher: IndexSearcher, qs: Seq[Query], engine: Int => Seq[ScoredDoc]): Unit = {
      if (!(searcher eq memoOf)) { memoOf = searcher; seen.clear() }
      val first = tr.spans.length
      val out = tr.span("replay")(replay(searcher, qs))
      mine ++= tr.spans.drop(first)
      out.zip(qs).zipWithIndex.foreach { case ((top, q), i) =>
        verdict(same(top.toSeq, engine(i)), s"replay differs from the engine on $q")
      }
    }

    private def replay(searcher: IndexSearcher, qs: Seq[Query]): Seq[Array[ScoredDoc]] = {
      import spark.implicits._
      val idx = searcher.index
      val deleted = idx.deleteRows(spark).collect().groupBy(_.segmentId)
        .map { case (s, rs) => s -> rs.map(_.localDoc).sorted }
      val rewritten = tr.span("search.rewrite")(qs.map(q => searcher.rewrite(spark, q)))
      val terms = rewritten.flatMap(_.terms).toSet
      memoTerms += terms.size
      memoHits += terms.count(seen.contains)
      seen ++= terms
      val ctx = tr.span("search.stats")(searcher.queryContext(spark, BoolQ(should = terms.toSeq.sorted.map(TermQ))))
      val rows = tr.span("index.scan")(
        idx.postings(spark).where(col("term").isin(terms.toSeq: _*)).as[TermPostings].collect())
      scanRows += rows.length
      scanBytes += rows.iterator.flatMap(_.blocks).map(b => b.docBytes.length + b.freqBytes.length +
        b.norms.length + Option(b.posBytes).map(_.length).getOrElse(0)).sum
      val t0 = System.nanoTime()
      tr.span("codec.decode")(rows.foreach(_.blocks.foreach { b =>
        MonotonicBlock.decode(b.docBytes); ForBlock.decode(b.freqBytes)
      }))
      decodeNs += System.nanoTime() - t0
      decoded += rows.iterator.map(_.docFreq.toLong).sum
      blocksPerRow ++= rows.map(_.blocks.length.toDouble)
      val df = searcher.termStats(spark, terms)
      val bySeg = rows.groupBy(_.segmentId)
      val perQuery = tr.span("search.kernel") {
        val acc = Array.fill(rewritten.size)(mutable.ArrayBuffer.empty[ScoredDoc])
        // one run id per query, shared by its segments, as the engine's
        // entry points do: the leaves raise each other's pruning floor
        val runIds = Array.fill(rewritten.size)(MaxScoreAccumulator.newRunId())
        idx.manifest.segments.foreach { seg =>
          val readers = bySeg.getOrElse(seg.segmentId, Array.empty).map(tp => tp.term -> new TermReader(tp, ctx.cache)).toMap
          val del = deleted.getOrElse(seg.segmentId, Array.emptyIntArray)
          rewritten.zipWithIndex.foreach { case (q, i) =>
            acc(i) ++= SegmentKernel.topK(q, readers, seg, ctx, Sizes.K, None, del, runIds(i))
          }
        }
        acc
      }
      val top = tr.span("search.merge")(perQuery.map(_.toArray.sortWith(before).take(Sizes.K)).toSeq)
      queries += qs.size
      postingsTouched += rewritten.map(_.terms.iterator.map(t => df.get(t).map(_._1).getOrElse(0L)).sum).sum
      hits += top.map(_.length).sum
      bytesPerPosting = IndexIO.dirBytes(spark, s"${idx.indexDir}/postings").toDouble / math.max(1L, idx.stats.sumDocFreq)
      top
    }

    private val mine = mutable.ArrayBuffer.empty[tr.Span]
    /** Mean time per query of this replay's spans named `name`. */
    def perQuery(name: String): Double =
      mine.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).sum / math.max(1L, queries)

    def report(): Unit = {
      layer("search.rewrite_ms", perQuery("search.rewrite"), "ms", queries.toInt)
      layer("search.stats_ms", perQuery("search.stats"), "ms", queries.toInt)
      layer("search.stats_memo_share", memoHits.toDouble / math.max(1L, memoTerms), "share", memoTerms.toInt)
      layer("search.kernel_ms", perQuery("search.kernel"), "ms", queries.toInt)
      layer("search.merge_ms", perQuery("search.merge"), "ms", queries.toInt)
      layer("index.scan_ms", perQuery("index.scan"), "ms", queries.toInt)
      layer("index.scan_rows_per_query", scanRows.toDouble / math.max(1L, queries), "count", queries.toInt)
      layer("index.scan_bytes_per_query", scanBytes.toDouble / math.max(1L, queries), "B", queries.toInt)
      layer("index.postings_per_hit", postingsTouched.toDouble / math.max(1L, hits), "count", queries.toInt)
      layer("codec.decode_ns_per_posting", decodeNs.toDouble / math.max(1L, decoded), "ns", decoded.toInt)
      layer("codec.bytes_per_posting", bytesPerPosting, "B")
    }
  }

  /** Spark and driver figures per timed op. Scheduling figures (jobs,
    * stages, tasks, scheduler wait, driver self time) are taken over the
    * workload's latency ops, work figures (task CPU and run time, core busy
    * share, shuffle bytes, GC) over its throughput ops. */
  def reportSpark(latencyOps: Set[String], throughputOps: Set[String]): Unit = {
    def figures(names: Set[String]) = {
      val ops = tr.ops(names)
      (ops.size, math.max(1, ops.size).toDouble, ops.map(o => (o, tr.spark(o))),
        ops.map(o => (o.endNs - o.startNs) / 1e6).sum)
    }
    val (nl, l, fl, _) = figures(latencyOps)
    layer("spark.jobs_per_op", fl.map(_._2.jobs).sum / l, "count", nl)
    layer("spark.stages_per_op", fl.map(_._2.stages).sum / l, "count", nl)
    layer("spark.tasks_per_op", fl.map(_._2.tasks).sum / l, "count", nl)
    layer("spark.sched_wait_ms_per_op", fl.map(_._2.schedWaitMs).sum / l, "ms", nl)
    layer("driver.self_ms_per_op", fl.map { case (o, s) => (o.endNs - o.startNs) / 1e6 - s.jobMs }.sum / l, "ms", nl)
    val (nt, t, ft, wallMs) = figures(throughputOps)
    layer("spark.task_cpu_ms_per_op", ft.map(_._2.cpuMs).sum / t, "ms", nt)
    layer("spark.task_run_ms_per_op", ft.map(_._2.runMs).sum / t, "ms", nt)
    layer("spark.core_busy_share", ft.map(_._2.runMs).sum / math.max(1e-9, wallMs * cores), "share", nt)
    layer("spark.shuffle_bytes_per_op", ft.map(_._2.shuffleBytes).sum / t, "B", nt)
    layer("spark.gc_ms_per_op", ft.map(_._2.gcMs).sum / t, "ms", nt)
  }

  // ---- workloads ------------------------------------------------------------

  /** Read path: closed-loop single top-k queries (half through
    * `search(...).collect()`, half through `searchLocal`), then repeated
    * `searchMany` over a selective batch, on one positions index. */
  def query(): Unit = {
    val corpus = Gen.corpus(a.seed, 0, Sizes.QueryDocs)
    val qlog = Gen.interactiveLog(a.seed, corpus, Sizes.InteractiveWarm + scaled(Sizes.InteractiveOps))
    val (warmLog, timedLog) = qlog.splitAt(Sizes.InteractiveWarm)
    val blog = Gen.batchLog(a.seed, Sizes.BatchQueries)
    val budget = corpus.docs.length.toLong
    val cfg = Sizes.BuildCfg.copy(storePositions = true)
    val bs = builds(corpus, cfg, qlog.head.query)
    reportBuilds(bs, corpus.docs.length, corpus.contentBytes)
    if (bs.isEmpty) return
    val idx = bs.last.opened.idx
    val searcher = bs.last.opened.searcher
    val checker = new IndexSearcher(idx)
    val replay = if (a.trace) Some(new Replay) else None
    val replaySearcher = new IndexSearcher(idx)
    def call(q: Gen.QuerySpec): Array[ScoredDoc] =
      if (q.local) searcher.searchLocal(spark, q.query, Sizes.K, budget)
      else searcher.search(spark, q.query, Sizes.K).collect()
    def batchCall(): Array[QueryHit] = searcher.searchMany(spark, blog, Sizes.K).collect()

    val warmT0 = System.nanoTime()
    val warmReps = (1 to Sizes.BatchWarmReps).map { _ => val t0 = System.nanoTime(); batchCall(); ms(t0) }
    val chunks = warmLog.grouped(Sizes.WarmChunk).map { chunk =>
      median(chunk.map { q => val t0 = System.nanoTime(); call(q); replay.foreach(_.warm(replaySearcher, q.query)); ms(t0) })
    }.toVector
    val warmS = ms(warmT0) / 1e3
    diag("warmup_query_chunk_p50_ms") = chunks.map(c => f"$c%.1f").mkString("[", ",", "]")
    diag("warmup_batch_rep_ms") = warmReps.map(w => f"$w%.1f").mkString("[", ",", "]")
    liveCheckpoint()

    val searchMs = mutable.ArrayBuffer.empty[Double]
    val localMs = mutable.ArrayBuffer.empty[Double]
    val results = mutable.ArrayBuffer.empty[(Gen.QuerySpec, Array[ScoredDoc])]
    var fallbacks = 0
    val checked = oracleSample(timedLog.size)
    timedLog.zipWithIndex.foreach { case (q, i) =>
      val got = op(if (q.local) "query.local" else "query.search")(call(q))
      got.foreach { case (hits, t) =>
        (if (q.local) localMs else searchMs) += t
        if (checked(i)) results += ((q, hits))
      }
      for (r <- replay; (hits, _) <- got) {
        r.run(replaySearcher, Seq(q.query), _ => hits.toSeq)
        if (q.local && replaySearcher.termStats(spark, q.query.terms).values.map(_._1).sum > budget) fallbacks += 1
      }
    }
    val reps = mutable.ArrayBuffer.empty[Double]
    var last: Array[QueryHit] = Array.empty
    (1 to scaled(Sizes.BatchReps)).foreach { _ =>
      op("query.searchMany")(batchCall()).foreach { case (h, t) => reps += t; last = h }
    }
    liveCheckpoint()
    val byQuery = last.groupBy(_.queryId)
    def batchHits(id: String): Seq[ScoredDoc] =
      byQuery.getOrElse(id, Array.empty).map(h => ScoredDoc(h.docId, h.score)).sortWith(before).toSeq
    replay.foreach { r =>
      val br = new Replay
      br.run(new IndexSearcher(idx), blog.map(_._2), i => batchHits(blog(i)._1))
      layer("search.batch_kernel_ms", br.perQuery("search.kernel"), "ms", blog.size)
      // the batch's working set: its terms' postings, per segment in blocks
      diag("batch_postings_share") = f"${br.decoded.toDouble / math.max(1L, idx.stats.sumDocFreq)}%.4f"
      diag("batch_blocks_per_row_min_p50") =
        f"[${br.blocksPerRow.min}%.0f,${median(br.blocksPerRow.toSeq)}%.0f]"
    }
    tr.drain()
    if (a.trace) {
      // the engine's own kernel time (decode + scoring, summed over tasks)
      // as a share of the timed reps' core time
      val ops = tr.ops(Set("query.searchMany"))
      val coreMs = ops.map(o => (o.endNs - o.startNs) / 1e6).sum * cores
      layer("search.batch_kernel_share", ops.map(o => tr.spark(o).kernelMs).sum / math.max(1e-9, coreMs), "share", ops.size)
    }

    results.foreach { case (q, hits) => verdict(matchesOracle(checker, q.query, hits.toSeq), s"oracle ${q.shape} ${q.query}") }
    val bChecked = oracleSample(blog.size)
    blog.zipWithIndex.filter { case (_, i) => bChecked(i) }.foreach { case ((id, q), _) =>
      verdict(matchesOracle(checker, q, batchHits(id)), s"oracle batch $id $q")
    }

    put("setup_s", sessionS + median(bs.map(b => b.buildS + b.opened.ms / 1e3)) + warmS, "s", bs.size)
    put("latency_p50_ms", median(searchMs.toSeq), "ms", searchMs.size)
    put("throughput_per_s", blog.size.toDouble * reps.size / (reps.sum / 1e3), "1/s", reps.size)
    diag("batch_rep_ms") = reps.map(w => f"$w%.1f").mkString("[", ",", "]")
    layer("index.fresh_read_p50_ms", median(bs.map(_.opened.ms)), "ms", bs.size)
    layer("search.search_p50_ms", median(searchMs.toSeq), "ms", searchMs.size)
    layer("search.local_p50_ms", median(localMs.toSeq), "ms", localMs.size)
    layer("search.local_fallback_share", fallbacks.toDouble / math.max(1, localMs.size), "share", localMs.size)
    layer("search.batch_rep_p50_ms", median(reps.toSeq), "ms", reps.size)
    layer("index.live_gens", idx.liveGens.size, "count")
    for (n <- Seq("streaming.index_batch_ms", "index.delete_ms", "index.merge_s", "index.merge_bytes_rewritten"))
      layer(n, 0.0, if (n.endsWith("_s")) "s" else if (n.endsWith("_ms")) "ms" else "B", 0)
    finishTrace(replay, Set("query.search", "query.local"), Set("query.searchMany"), "query.search", corpus)
  }

  /** Write path: timed fresh builds, then micro-batch appends, deletes by
    * tag and tiered merges, each commit followed by a reopen and reads. */
  def ingest(): Unit = {
    val base = Gen.corpus(a.seed, 2, Sizes.IngestBaseDocs)
    val appendDocs = scaled(Sizes.IngestAppendDocs)
    val appended = Gen.corpus(a.seed, 3, appendDocs, firstId = 1L << 40)
    val warmCorpus = Gen.corpus(a.seed, 7, Sizes.IngestWarmDocs)
    val steps = Gen.script(a.seed, appendDocs, Sizes.IngestBatchDocs)
    val probes = Gen.batchLog(a.seed, steps.size + Sizes.Builds + 1, stream = 1).map(_._2)
    val cfg = Sizes.BuildCfg
    val inputBytes = base.contentBytes + appended.contentBytes

    // set-up: one small pass over every lifecycle call, the JVM's first
    // build included, so the measured builds and commits are warm
    val half = Sizes.IngestWarmDocs / 2
    val warmBase = corpusDf(Gen.Corpus(warmCorpus.docs.take(half)))
    val warmAppend = corpusDf(Gen.Corpus(warmCorpus.docs.drop(half)))
    val wdir = freshDir("warm")
    val warmT0 = System.nanoTime()
    val warmSteps = mutable.LinkedHashMap.empty[String, Double]
    def warmStep(name: String)(body: => Any): Unit = { val t0 = System.nanoTime(); body; warmSteps(name) = ms(t0) }
    warmStep("build")(IndexBuilder.build(spark, warmBase, "doc_id", "text", wdir, cfg))
    warmStep("indexBatch")(StreamingIndexer.indexBatch(spark, warmAppend, "doc_id", "text", wdir, cfg, 1L))
    warmStep("delete")(IndexOps.deleteByTerm(spark, wdir, Gen.tagTerm(0)))
    warmStep("merge")(IndexOps.maybeMerge(spark, wdir))
    warmStep("fresh_read")(open(wdir, probes.last))
    val warmS = ms(warmT0) / 1e3
    diag("warmup_step_ms") = warmSteps.map { case (k, v) => f"\"$k\":$v%.1f" }.mkString("{", ",", "}")
    liveCheckpoint()

    val bs = builds(base, cfg, probes.head)
    reportBuilds(bs, base.docs.length, inputBytes)
    if (bs.isEmpty) return

    val dir = bs.last.dir
    val builtBytes = IndexIO.dirBytes(spark, dir)
    val policy = IndexOps.MergePolicy(smallGenBytes = IndexIO.dirBytes(spark, s"$dir/postings") / 2)
    val batches = steps.collect { case s @ Gen.Append(f, u) => s -> corpusDf(Gen.Corpus(appended.docs.slice(f, u))) }.toMap
    val live = mutable.HashMap.empty[Int, Int] // tag -> live docs carrying it
    base.docs.foreach(d => if (d.tag >= 0) live(d.tag) = live.getOrElse(d.tag, 0) + 1)
    var liveDocs = base.docs.length.toLong
    val commitMs = mutable.ArrayBuffer.empty[Double]
    val deleteMs = mutable.ArrayBuffer.empty[Double]
    val mergeS = mutable.ArrayBuffer.empty[Double]
    val freshMs = mutable.ArrayBuffer.empty[Double] ++= bs.map(_.opened.ms)
    val liveGens = mutable.ArrayBuffer.empty[Double]
    var mergeBytes = 0L
    var written = 0L
    var scriptMs = 0.0
    val replay = if (a.trace) Some(new Replay) else None
    val checked = oracleSample(steps.size)
    steps.zipWithIndex.foreach { case (step, i) =>
      val before = IndexIO.dirBytes(spark, dir)
      val prev = IndexIO.readManifest(spark, dir).get
      val genBytes = new BuiltIndex(dir, prev).liveGens.map(g =>
        g -> (IndexIO.dirBytes(spark, s"$dir/postings/gen=$g") + IndexIO.dirBytes(spark, s"$dir/docmeta/gen=$g"))).toMap
      val done = step match {
        case s @ Gen.Append(f, u) =>
          op("ingest.indexBatch")(StreamingIndexer.indexBatch(spark, batches(s), "doc_id", "text", dir, cfg, i + 1L)).map { case (_, t) =>
            commitMs += t
            appended.docs.slice(f, u).foreach(d => if (d.tag >= 0) live(d.tag) = live.getOrElse(d.tag, 0) + 1)
            liveDocs += u - f
            t
          }
        case Gen.DeleteTag(tag) =>
          op("ingest.delete")(IndexOps.deleteByTerm(spark, dir, Gen.tagTerm(tag))).map { case (_, t) =>
            deleteMs += t
            liveDocs -= live.getOrElse(tag, 0)
            live(tag) = 0
            t
          }
        case Gen.Merge =>
          op("ingest.merge")(IndexOps.maybeMerge(spark, dir, policy)).map { case (idx, t) =>
            mergeS += t / 1e3
            mergeBytes += idx.manifest.deadGens.filterNot(prev.deadGens.contains).map(g => genBytes.getOrElse(g, 0L)).sum
            t
          }
      }
      done.foreach(scriptMs += _)
      written += math.max(0L, IndexIO.dirBytes(spark, dir) - before)
      val probe = probes(i + Sizes.Builds)
      freshRead(dir, probe).foreach { o =>
        freshMs += o.ms
        liveGens += o.idx.liveGens.size
        val checks = Seq(
          "live docs" -> (o.searcher.count(spark, MatchAllQ) == liveDocs),
          "deleted tag" -> (step match {
            case Gen.DeleteTag(t) => o.searcher.count(spark, TermQ(Gen.tagTerm(t))) == 0L
            case _ => true
          }),
          "oracle" -> (!checked(i) || matchesOracle(new IndexSearcher(o.idx), probe, o.first.toSeq)))
        verdict(checks.forall(_._2), s"ingest step $i $step: ${checks.filterNot(_._2).map(_._1).mkString(",")}")
        replay.foreach(_.run(new IndexSearcher(o.idx), Seq(probe), _ => o.first.toSeq))
      }
    }
    liveCheckpoint()
    tr.drain()

    put("setup_s", sessionS + warmS + median(bs.map(b => b.buildS + b.opened.ms / 1e3)), "s", bs.size)
    put("latency_p50_ms", median(commitMs.toSeq), "ms", commitMs.size)
    diag("commit_ms") = commitMs.map(w => f"$w%.1f").mkString("[", ",", "]")
    put("throughput_per_s", appendDocs / (scriptMs / 1e3), "1/s", steps.size)
    layer("index.fresh_read_p50_ms", median(freshMs.toSeq), "ms", freshMs.size)
    put("index_bytes_per_input_byte", IndexIO.dirBytes(spark, dir).toDouble / inputBytes, "B/B")
    // the reads here are the first query of each reopened searcher
    val firsts = tr.spans.filter(_.name == "search.first_query").map(s => (s.endNs - s.startNs) / 1e6)
    layer("search.search_p50_ms", median(firsts.toSeq), "ms", firsts.size)
    layer("search.local_p50_ms", 0.0, "ms", 0)
    layer("search.local_fallback_share", 0.0, "share", 0)
    layer("search.batch_rep_p50_ms", 0.0, "ms", 0)
    layer("search.batch_kernel_ms", 0.0, "ms", 0)
    layer("search.batch_kernel_share", 0.0, "share", 0)
    layer("streaming.index_batch_ms", median(commitMs.toSeq), "ms", commitMs.size)
    layer("index.delete_ms", median(deleteMs.toSeq), "ms", deleteMs.size)
    layer("index.merge_s", median(mergeS.toSeq), "s", mergeS.size)
    layer("index.merge_bytes_rewritten", mergeBytes.toDouble, "B", mergeS.size)
    layer("index.live_gens", median(liveGens.toSeq), "count", liveGens.size)
    layer("index.bytes_written_per_input_byte", (builtBytes + written).toDouble / inputBytes, "B/B")
    finishTrace(replay, Set("ingest.indexBatch"), Set("ingest.indexBatch", "ingest.delete", "ingest.merge"),
      "ingest.indexBatch", base)
  }

  /** Per-layer figures shared by both workloads (traced runs only).
    * `trace.latency_p50_ms` is `latency_p50_ms` measured with tracing on:
    * its gap to the untraced figure is the tracing overhead. */
  def finishTrace(replay: Option[Replay], latencyOps: Set[String], throughputOps: Set[String], latencyOp: String,
                  corpus: Gen.Corpus): Unit = if (a.trace) {
    val lat = tr.ops(Set(latencyOp)).map(o => (o.endNs - o.startNs) / 1e6)
    layer("trace.latency_p50_ms", median(lat), "ms", lat.size)
    val reads = tr.spans.filter(_.name == "index.manifest_read").map(s => (s.endNs - s.startNs) / 1e6)
    layer("index.manifest_read_ms", median(reads.toSeq), "ms", reads.size)
    replay.foreach(_.report())
    reportSpark(latencyOps, throughputOps)
    analyzerRate(corpus)
  }

  // ---- driver ---------------------------------------------------------------

  def execute(): String = {
    val t0 = System.nanoTime()
    try {
      a.workload match {
        case "query" => query()
        case "ingest" => ingest()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally spark.stop()
    put("live_mem_peak_mb", liveMb.maxOption.getOrElse(Double.NaN), "MB", liveMb.size)
    diag("rss_hwm_mb") = f"${Diag.peakRssMb()}%.1f"
    put("correct_share", (attempted - failed).toDouble / math.max(1L, attempted), "share", attempted.toInt)
    if (a.trace) layer("trace.overhead_share", tr.overheadNs / 1e6 / math.max(1e-9,
      tr.spans.filter(_.parent < 0).map(s => (s.endNs - s.startNs) / 1e6).sum), "share")
    diag ++= Diag.snapshot(cores, cpu0)
    diag("host_loop_ms") = f"[$hostLoop0%.1f,${Diag.hostLoopMs()}%.1f]"
    if (!a.trace) layers.foreach { case (k, v) => log(f"layer $k ${v.value}%.4f ${v.unit} n=${v.samples}") }
    diag("run_s") = f"${ms(t0) / 1e3}%.3f"
    Json.result(failed == 0 && attempted > 0, attempted, failed, if (a.trace) layers else metrics, diag)
  }
}

object Diag {
  /** Heap in use right after a full collection, plus non-heap in use
    * (metaspace, code cache), in MB: what the engine and the JVM keep
    * alive, independent of the fixed heap size. */
  def liveMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc()
    (mx.getHeapMemoryUsage.getUsed + mx.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  /** Milliseconds of a fixed single-threaded integer loop, best of 3: a
    * reading of the host's speed, taken at the start and the end of a run. */
  def hostLoopMs(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 0L) System.err.print("")
    (System.nanoTime() - t0) / 1e6
  }.min

  /** Peak resident set of this process (`VmHWM`); with a fixed heap it
    * mostly reflects the heap setting, so it is a diagnostic only. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** Aggregate CPU jiffies from /proc/stat (user, nice, system, idle, iowait, irq, softirq, steal, ...). */
  def cpuTimes(): Array[Double] =
    scala.io.Source.fromFile("/proc/stat").getLines().next().split("\\s+").drop(1).map(_.toDouble)

  /** Host steadiness figures over the run: CPU steal share since `cpu0`,
    * JVM GC and JIT-compile time. */
  def snapshot(cores: Int, cpu0: Array[Double]): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val mx = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val d = cpuTimes().zip(cpu0).map { case (x, y) => x - y }
    Seq(
      "gc_ms" -> mx.map(_.getCollectionTime).sum.toString,
      "jit_ms" -> jit.getTotalCompilationTime.toString,
      "steal_share" -> f"${if (d.length > 7) d(7) / math.max(1.0, d.sum) else 0.0}%.5f",
      "cores" -> cores.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString)
  }
}

object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def result(correct: Boolean, attempted: Long, failed: Long, ms: collection.Map[String, M],
             diag: collection.Map[String, String]): String = {
    val m = ms.map { case (k, v) => s""""$k":{"value":${num(v.value)},"unit":"${v.unit}","samples":${v.samples}}""" }
    val d = diag.map { case (k, v) =>
      val raw = v.headOption.exists(c => c == '[' || c == '{' || c.isDigit || c == '-')
      s""""$k":${if (raw) v else "\"" + v + "\""}"""
    }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${m.mkString(",")}},"diagnostics":{${d.mkString(",")}}}"""
  }
}
