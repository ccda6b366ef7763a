package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans around the benchmark's calls into the engine, plus a
  * `SparkListener` that attributes every Spark job to the span that was
  * open when it started (through the job group the span sets).
  *
  * A span is (name, start, end, parent, op). An op is a root span: one
  * timed operation of a workload. Until [[start]] is called every span is a
  * plain pass-through and no listener is attached.
  */
final class Tracer(sc: SparkContext) {
  private var on = false
  final class Span(val id: Int, val name: String, val parent: Int, val op: Int) {
    var startNs = 0L
    var endNs = 0L
  }

  final case class Job(id: Int, group: String, startMs: Long, var endMs: Long = -1L,
                       stages: Seq[Int] = Nil)
  final class StageAgg {
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var kernelNs = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  // wall-clock origin that maps span nanoTime onto the listener's epoch ms
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def toEpochMs(ns: Long): Double = epochMs0 + (ns - nano0) / 1e6

  // span bookkeeping cost on the calling thread; listener callback cost
  private var bookkeepingNs = 0L
  @volatile private var listenerNs = 0L

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  @volatile private var endMarker = new java.util.concurrent.CountDownLatch(1)

  private val listener = new SparkListener {
    private def timed(body: => Unit): Unit = {
      val t0 = System.nanoTime(); body; listenerNs += System.nanoTime() - t0
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, g, e.time, stages = e.stageIds))
      e.stageIds.foreach(s => stages.putIfAbsent(s, new StageAgg))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobs.get(e.jobId)).foreach { j =>
        j.endMs = e.time
        if (j.group == "perfbench-end") endMarker.countDown()
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        a.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
        }
        e.taskInfo.accumulables.foreach { ai =>
          if (ai.name.contains(Tracer.KernelAccumulator)) ai.update.foreach {
            case v: java.lang.Long => a.kernelNs += v
            case _ =>
          }
        }
      }
    }
  }

  def start(): Unit = { sc.addSparkListener(listener); on = true }

  private def group(s: Span): String = s"perfbench-${s.id}"

  /** Run `body` as a root span (one timed op) when no span is open, or as a
    * child of the innermost open span otherwise. */
  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    val b0 = System.nanoTime()
    val parent = open.headOption
    val s = new Span(spans.length, name, parent.fold(-1)(_.id), parent.fold(spans.length)(_.op))
    spans += s
    open = s :: open
    sc.setJobGroup(group(s), name, interruptOnCancel = false)
    s.startNs = System.nanoTime()
    bookkeepingNs += s.startNs - b0
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(group(p), p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      bookkeepingNs += System.nanoTime() - s.endNs
    }
  }

  /** Wait until the listener bus has delivered every event of the jobs run
    * so far: a marker job's end event arrives after all earlier events. */
  def drain(): Unit = if (on) {
    endMarker = new java.util.concurrent.CountDownLatch(1)
    sc.setJobGroup("perfbench-end", "drain", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    endMarker.await(60, java.util.concurrent.TimeUnit.SECONDS)
    sc.removeSparkListener(listener)
    on = false
  }

  def overheadNs: Long = bookkeepingNs + listenerNs

  // ---- analysis -------------------------------------------------------

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  private lazy val children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** Span duration minus the part of its interval its child spans cover (ns). */
  def selfNs(s: Span): Double =
    (s.endNs - s.startNs) - union(children.getOrElse(s.id, Nil).map(c => (c.startNs.toDouble, c.endNs.toDouble)))

  def ops(names: Set[String]): Seq[Span] = spans.toSeq.filter(s => s.parent < 0 && names.contains(s.name))

  def spansOf(op: Span): Seq[Span] = spans.toSeq.filter(_.op == op.id)

  /** Spark jobs started under any span of `op`. */
  def jobsOf(op: Span): Seq[Job] = {
    val groups = spansOf(op).map(group).toSet
    import scala.jdk.CollectionConverters._
    jobs.values.asScala.toSeq.filter(j => groups.contains(j.group))
  }

  /** Per-op Spark figures: (jobs, stages, tasks, taskRunMs, taskCpuMs, gcMs,
    * shuffleBytes, schedWaitMs, jobCoveredMs, kernelMs). Scheduler wait is
    * the part of each job's lifetime during which none of its tasks ran;
    * kernel time is what the engine's batch kernel accumulator counted. */
  final case class SparkFigures(jobs: Int, stages: Int, tasks: Long, runMs: Double, cpuMs: Double,
                                gcMs: Double, shuffleBytes: Double, schedWaitMs: Double, jobMs: Double,
                                kernelMs: Double)

  def spark(op: Span): SparkFigures = {
    val js = jobsOf(op)
    val sts = js.flatMap(_.stages).distinct.flatMap(s => Option(stages.get(s)))
    val wait = js.map { j =>
      val iv = j.stages.flatMap(s => Option(stages.get(s))).flatMap(_.intervals)
        .map { case (a, b) => (a.toDouble, b.toDouble) }
      math.max(0.0, (j.endMs - j.startMs) - union(iv))
    }.sum
    val opStart = toEpochMs(op.startNs)
    val opEnd = toEpochMs(op.endNs)
    val covered = union(js.map(j => (math.max(opStart, j.startMs.toDouble), math.min(opEnd, j.endMs.toDouble)))
      .filter { case (a, b) => b > a })
    SparkFigures(js.size, sts.size, sts.map(_.tasks).sum, sts.map(_.runMs).sum.toDouble,
      sts.map(_.cpuNs).sum / 1e6, sts.map(_.gcMs).sum.toDouble, sts.map(_.shuffleBytes).sum.toDouble,
      wait, covered, sts.map(_.kernelNs).sum / 1e6)
  }
}

object Tracer {
  /** The named accumulator `IndexSearcher.searchMany` adds each task's
    * segment-kernel time (posting decode plus scoring) to. */
  val KernelAccumulator = "graft-batch-kernel-nanos"
}
