package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs and stages a block of driver code starts. */
object SparkWork {

  /** Jobs and stages started by `body`, read off a listener attached around
    * it. The listener bus is asynchronous, so it is drained before and
    * after with a marker job: the marker's end event arrives after every
    * event of the jobs started before it. */
  def apply(spark: SparkSession)(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val markers = ConcurrentHashMap.newKeySet[Int]()
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    @volatile var drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p => p.getProperty("spark.jobGroup.id") == "drain"))
          markers.add(e.jobId)
        else { jobs.incrementAndGet(); stages.addAndGet(e.stageIds.size) }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markers.contains(e.jobId)) drained.countDown()
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
      jobs.set(0); stages.set(0)
      body
      drain()
      (jobs.get, stages.get)
    } finally sc.removeSparkListener(listener)
  }
}
