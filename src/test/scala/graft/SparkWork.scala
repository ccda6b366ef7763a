package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs, stages and tasks a block of driver code starts. */
object SparkWork {

  /** One job `body` started: its stage count, the SQL execution it ran
    * under (`spark.sql.execution.id`; None for a plain RDD action) and its
    * result stage's name, the short call site of the action that started it. */
  final case class Job(stages: Int, executionId: Option[Long], callSite: String) {
    override def toString: String =
      s"$callSite: $stages stages" + executionId.fold(" (no SQL execution)")(e => s" (SQL execution $e)")
  }

  /** Jobs and stages started by `body`, the tasks it launched in result
    * stages (one task per result partition), the tasks it launched in all
    * stages, and each job in the order it started. */
  final case class Work(resultTasks: Int, tasks: Int, jobList: Seq[Job]) {
    def jobs: Int = jobList.size
    def stages: Int = jobList.map(_.stages).sum
    def mapTasks: Int = tasks - resultTasks
    override def toString: String =
      s"Work($jobs jobs, $stages stages, $resultTasks result tasks, $tasks tasks)"
  }

  /** Jobs and stages started by `body`. */
  def apply(spark: SparkSession)(body: => Unit): (Int, Int) = {
    val w = measure(spark)(body)
    (w.jobs, w.stages)
  }

  /** [[Work]] of `body`, read off a listener attached around it. The
    * listener bus is asynchronous, so it is drained before and after with a
    * marker job: the marker's end event arrives after every event of the
    * jobs started before it. */
  def measure(spark: SparkSession)(body: => Unit): Work = {
    val sc = spark.sparkContext
    val markers = ConcurrentHashMap.newKeySet[Int]()
    val resultStages = ConcurrentHashMap.newKeySet[Int]()
    val resultTasks = new AtomicInteger
    val bodyStages = ConcurrentHashMap.newKeySet[Int]()
    val tasks = new AtomicInteger
    val jobsById = new ConcurrentHashMap[Int, Job]()
    @volatile var drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p => p.getProperty("spark.jobGroup.id") == "drain")) {
          markers.add(e.jobId)
        } else {
          // the scheduler creates a job's result stage after all its parents,
          // so it holds the job's highest stage id
          resultStages.add(e.stageIds.max)
          e.stageIds.foreach(bodyStages.add(_))
          jobsById.put(e.jobId, Job(e.stageIds.size,
            Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong),
            e.stageInfos.maxBy(_.stageId).name))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markers.contains(e.jobId)) drained.countDown()
      override def onTaskStart(e: SparkListenerTaskStart): Unit = {
        if (resultStages.contains(e.stageId)) resultTasks.incrementAndGet()
        if (bodyStages.contains(e.stageId)) tasks.incrementAndGet()
      }
    }
    def drain(): Unit = {
      drained = new CountDownLatch(1)
      sc.setJobGroup("drain", "drain", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    }
    sc.addSparkListener(listener)
    try {
      drain()
      resultTasks.set(0); tasks.set(0); jobsById.clear()
      body
      drain()
      val started = scala.jdk.CollectionConverters.MapHasAsScala(jobsById).asScala.toSeq.sortBy(_._1).map(_._2)
      Work(resultTasks.get, tasks.get, started)
    } finally sc.removeSparkListener(listener)
  }
}
