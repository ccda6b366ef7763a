package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs, stages and tasks a block of driver code starts. */
object SparkWork {

  /** Jobs and stages started by `body`, the tasks it launched in result
    * stages (one task per result partition) and the tasks it launched in
    * all stages. */
  final case class Work(jobs: Int, stages: Int, resultTasks: Int, tasks: Int) {
    def mapTasks: Int = tasks - resultTasks
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
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val resultStages = ConcurrentHashMap.newKeySet[Int]()
    val resultTasks = new AtomicInteger
    val bodyStages = ConcurrentHashMap.newKeySet[Int]()
    val tasks = new AtomicInteger
    @volatile var drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p => p.getProperty("spark.jobGroup.id") == "drain")) {
          markers.add(e.jobId)
        } else {
          jobs.incrementAndGet(); stages.addAndGet(e.stageIds.size)
          // the scheduler creates a job's result stage after all its parents,
          // so it holds the job's highest stage id
          resultStages.add(e.stageIds.max)
          e.stageIds.foreach(bodyStages.add(_))
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
      jobs.set(0); stages.set(0); resultTasks.set(0); tasks.set(0)
      body
      drain()
      Work(jobs.get, stages.get, resultTasks.get, tasks.get)
    } finally sc.removeSparkListener(listener)
  }
}
